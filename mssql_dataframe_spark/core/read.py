"""``read`` verb: projection / filter / sort / limit over a stored table.

Reference: mssql_dataframe/core/read.py:23-153 compiles one
``SELECT {TOP n} {cols} FROM {t} {WHERE} {ORDER BY}`` string. Here the
same five clauses build ONE Catalyst logical plan —
``select → filter → orderBy → limit`` — and Catalyst pushes the filter
and projection down into the Parquet scan (predicate pushdown + column
pruning), which is the distributed analog of the reference's
"pushdown" to SQL Server (SURVEY.md §4).

Contract preserved:
- primary-key columns are force-included in the projection so the
  pandas index can be rebuilt (reference: read.py:77-82, 93),
- unknown column -> SQLColumnDoesNotExist (reference: read.py:95-99),
- ``where`` uses the reference's restricted grammar (dynamic.py:61-137),
- non-int limit -> ValueError (reference: read.py:111-117),
- order_column/order_direction are both-or-neither (read.py:119-135).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..errors import SQLColumnDoesNotExist, SQLTableDoesNotExist
from ..frames import local_frame
from ..identifiers import compile_where
from ..store import STRING_BOUND_LIMIT, TableStore, entry_bounds
from . import datetimeoffset as dto


class read:
    def __init__(self, store: TableStore):
        self._store = store

    def table_history(self, table_name: str) -> DataFrame:
        """Commit history of the retained versions, newest first (the
        ``DESCRIBE HISTORY`` analog): (version, operation,
        n_files_added, n_files_kept, n_rows, timestamp). Driver-side
        metadata only — O(retained versions), no data scan."""
        schema = StructType.fromDDL(
            "version int, operation string, n_files_added int, "
            "n_files_kept int, n_rows bigint, timestamp double"
        )
        rows = self._store.history(table_name)
        return local_frame(
            self._store.spark,
            [tuple(r[c] for c in schema.names) for r in rows],
            schema,
        )

    def information_schema(self) -> DataFrame:
        """Catalog introspection as a DataFrame (INFORMATION_SCHEMA
        .COLUMNS analog): one row per column of every table and stored
        view in the store, with the declared SQL type and PK
        membership. Driver-side metadata only — O(objects), no data
        touched; temp (#/##) objects are excluded like tempdb's."""
        spark = self._store.spark
        rows = []
        for t in self._store.list_tables():
            meta = self._store.meta(t)
            pk = set(meta.primary_key)
            for i, (col, sqlt) in enumerate(meta.column_types.items(), 1):
                rows.append((t, "BASE TABLE", col, i, sqlt, col in pk))
        for vname, spec in self._store.list_view_specs():
            try:
                src_meta = self._store.meta(spec["source"])
            except SQLTableDoesNotExist:
                # dangling view (source dropped; drop does not cascade)
                # — still listed, SQL Server-style, with unknown types
                # rather than one broken view crashing the catalog
                for i, col in enumerate(
                    spec.get("column_names") or [None], 1
                ):
                    rows.append((vname, "VIEW", col, i, None, False))
                continue
            cols = spec.get("column_names") or list(
                src_meta.column_types.keys()
            )
            for i, col in enumerate(cols, 1):
                rows.append((
                    vname, "VIEW", col, i,
                    src_meta.column_types.get(col), False,
                ))
        return local_frame(
            spark, rows,
            "object_name string, object_type string, column_name string, "
            "ordinal int, sql_type string, in_primary_key boolean",
        )

    def table_stats(
        self,
        table_name: str,
        columns: Optional[list[str]] = None,
    ) -> DataFrame:
        """Metadata-only column statistics: (column, n_rows, min, max)
        answered ENTIRELY from the manifest's per-file footer stats —
        no data scan, the Delta "COUNT(*) from the log" optimization
        generalized to MIN/MAX of stats-tracked columns. O(files)
        driver-side: at 100 TB this returns in manifest-read time
        while the equivalent scan would touch the full table.

        Only stats-harvested columns qualify (the primary key /
        ``stats_column`` / ``stats_columns`` — the same set file
        pruning uses); asking for anything else raises rather than
        silently scanning. Entries written before a column joined the
        stats set carry no bounds for it → that column raises too
        (stale metadata must never masquerade as an answer; run
        ``optimize`` to rewrite stats). min/max arrive as strings
        (one render for int and date keys alike); n_rows is exact.
        """
        snap = self._store.snapshot(table_name)
        meta, entries = snap.meta, snap.entries
        tracked = self._store._stats_cols(meta)
        cols = list(columns) if columns is not None else list(tracked)
        spark = self._store.spark
        out = []
        n_rows = sum(int(e.get("rows") or 0) for e in entries)
        for c in cols:
            if c not in meta.spark_schema.fieldNames():
                raise SQLColumnDoesNotExist(c)
            if c not in tracked:
                raise ValueError(
                    f"column {c!r} is not stats-tracked (tracked: "
                    f"{tracked}); declare it via stats_column/"
                    "stats_columns properties and optimize"
                )
            bounds = []
            for e in entries:
                b = entry_bounds(e, c)
                if b is None:
                    raise ValueError(
                        f"file {e['path']!r} carries no {c!r} bounds "
                        "(written before the column was stats-tracked); "
                        "optimize the table to refresh stats"
                    )
                bounds.append(b)
            # truncation guard: long string bounds are stored
            # truncated (MIN to a prefix, MAX truncate+increment, see
            # store._truncate_string_bounds) — valid OUTER bounds for
            # pruning, but NOT exact values. A bound at the truncation
            # length may be widened, so refuse rather than serve a
            # value that might not exist in the data (the same
            # refuses-not-estimates contract as stale stats).
            maybe_truncated = [
                b for b in bounds
                if (isinstance(b[0], str)
                    and len(b[0]) >= STRING_BOUND_LIMIT)
                or (isinstance(b[1], str)
                    and len(b[1]) >= STRING_BOUND_LIMIT)
            ]
            if maybe_truncated:
                raise ValueError(
                    f"column {c!r} bounds are stored truncated (string "
                    f">= {STRING_BOUND_LIMIT} chars): min/max cannot "
                    "be answered exactly from metadata — scan the "
                    "column instead"
                )
            lo = min(b[0] for b in bounds) if bounds else None
            hi = max(b[1] for b in bounds) if bounds else None
            out.append(
                (
                    c,
                    n_rows,
                    None if lo is None else str(lo),
                    None if hi is None else str(hi),
                )
            )
        return local_frame(
            spark, out, "column string, n_rows bigint, min string, max string"
        )

    def view(
        self,
        view_name: str,
        where: Optional[str] = None,
        limit: Optional[int] = None,
        unmask: bool = False,
    ) -> DataFrame:
        """Read a stored view (create.view): the base table is read
        through ``read.table`` with the view's stored spec — so
        predicate pushdown, column pruning, and the base table's
        masking policies all apply — then any caller-side ``where`` /
        ``limit`` narrow the result further (AND semantics, same
        restricted grammar)."""
        spec = self._store.view_spec(view_name)
        # the stored where filters the BASE relation (SQL semantics:
        # WHERE precedes the view's projection, so it may reference
        # base columns the view does not expose)
        df = self.table(
            spec["source"],
            where=spec.get("where"),
            order_column=spec.get("order_column"),
            order_direction=spec.get("order_direction"),
            limit=spec.get("limit"),
            unmask=unmask,
        )
        cols = spec.get("column_names")
        if cols:
            df = df.select(*cols)
        # the caller's narrowing sees VIEW columns only (post-project)
        if where is not None:
            df = df.filter(compile_where(where))
        if limit is not None:
            # same contract table() enforces (reference read.py:111-117)
            if not isinstance(limit, int) or isinstance(limit, bool):
                raise ValueError(
                    "limit must be an integer (reference read.py:111-117)"
                )
            df = df.limit(limit)
        return df

    def table(
        self,
        table_name: str,
        column_names: Optional[list[str]] = None,
        where: Optional[str] = None,
        limit: Optional[int] = None,
        order_column: Optional[str] = None,
        order_direction: Optional[str] = None,
        include_tz_offsets: bool = False,
        version: Optional[int] = None,
        timestamp_as_of: Optional[float] = None,
        unmask: bool = False,
        bypass_row_filters: bool = False,
    ) -> DataFrame:
        """``version`` reads a retained prior snapshot (time travel;
        beyond-reference — the COW store keeps ``keep_versions`` old
        snapshots). Old data is projected through the CURRENT declared
        schema: columns added since the snapshot read as NULL.

        ``unmask=True`` is the UNMASK-permission analog: it bypasses
        declared Dynamic Data Masking policies (core/masking.py).
        Masks otherwise apply LAST — like SQL Server DDM, ``where``
        predicates evaluate on real values, and masking is a pure
        output transform (metadata-driven, zero UDFs)."""
        if timestamp_as_of is not None:
            if version is not None:
                raise ValueError(
                    "pass version or timestamp_as_of, not both"
                )
            # Delta TIMESTAMP AS OF analog: the latest RETAINED commit
            # at or before the instant. Driver-side over O(retained
            # versions) manifest headers — no data touched.
            candidates = [
                h["version"]
                for h in self._store.history(table_name)
                if h["timestamp"] is not None
                and h["timestamp"] <= float(timestamp_as_of)
            ]
            if not candidates:
                raise ValueError(
                    f"no retained version of {table_name!r} at or "
                    f"before timestamp {timestamp_as_of} (retention "
                    "may have vacuumed it)"
                )
            version = max(candidates)
        snap = self._store.snapshot(table_name, version)
        meta = snap.meta
        df = None
        if where is not None:
            # point-lookup file pruning (Delta bloom-filter-index
            # analog): top-level `col = value` conjuncts of the
            # where-grammar test each file's bloom sidecar, and
            # provably-absent files never reach the scan. The filter
            # below still applies — a bloom false positive only costs
            # a read, never a wrong row; files without a sidecar for
            # the probed column always stay. Time travel prunes too:
            # sidecars live exactly as long as their data file.
            kept = self._store.bloom_prune(snap, snap.entries, [
                (c, [v])
                for c, v in self._store.typed_bloom_probes(snap, where)
            ])
            if len(kept) < len(snap.entries):
                df = self._store.read_files(snap, [e["path"] for e in kept])
        if df is None:
            df = self._store.read_files(snap, snap.paths)
        if version is not None and (
            {(f.name, f.dataType) for f in df.schema.fields}
            != {(f.name, f.dataType) for f in meta.spark_schema.fields}
        ):
            # compare (name, type) pairs, not just names: a version
            # that differs only by a column RETYPE (ALTER COLUMN,
            # same names) must still reproject, or the snapshot would
            # surface the old type and break the documented contract
            # below (field nullability is deliberately ignored — it
            # never changes what a reader sees).
            # the documented contract: old data is projected through
            # the CURRENT declared schema — columns added since the
            # snapshot read as NULL, columns dropped since vanish, and
            # retyped columns surface in today's type (try_cast: an
            # unrepresentable old value reads NULL rather than
            # failing the whole snapshot under ANSI). This also keeps
            # current row_filter/masking policies analyzable: they
            # are declared against the current schema.
            present = {f.name: f.dataType for f in df.schema.fields}
            df = df.select(*[
                (F.col(f.name).try_cast(f.dataType)
                 if present[f.name] != f.dataType else F.col(f.name))
                .alias(f.name)
                if f.name in present
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in meta.spark_schema.fields
            ])

        # Row-Level Security (modify.row_filter_policy): the AND of all
        # declared filter predicates applies silently and FIRST —
        # before projection, so predicates may reference columns the
        # caller's projection drops; the predicate pushes into the
        # scan like any filter.
        if not bypass_row_filters:
            for expr in (
                meta.properties.get("row_filters") or {}
            ).values():
                df = df.filter(compile_where(expr))

        # WHERE and ORDER BY evaluate on the FULL relation, projection
        # applies LAST — the reference compiles `SELECT {cols} FROM t
        # {WHERE} {ORDER BY}` (read.py:137-146) and T-SQL lets both
        # clauses reference columns the projection drops, so filtering
        # or ordering after the select would reject queries the
        # reference accepts (r14 read-path review).
        if where is not None:
            df = df.filter(compile_where(where))

        # both-or-neither validation (reference: read.py:119-135)
        if (order_column is None) != (order_direction is None):
            raise ValueError(
                "order_column and order_direction must be supplied together"
            )
        if order_column is not None:
            direction = str(order_direction).upper()
            if direction not in ("ASC", "DESC"):
                raise ValueError("order_direction must be ASC or DESC")
            if order_column not in df.columns:
                raise SQLColumnDoesNotExist(
                    f"order column {order_column!r} not in table {table_name!r}"
                )
            # SQL Server sorts NULLs first in ASC and last in DESC is
            # engine-specific; tests show NULLs-first on DESC
            # (reference tests/test_core/test_read.py:152-164)
            col = F.col(order_column)
            df = df.orderBy(
                col.asc_nulls_first() if direction == "ASC"
                else col.desc_nulls_first()
            )

        # datetimeoffset companion offset columns are engine-internal;
        # hidden unless asked for (core/datetimeoffset.py)
        if column_names is not None and isinstance(column_names, str):
            # reference read.py:89-90: a bare string means one column
            column_names = [column_names]
        comps = dto.companions(meta)
        if comps and not include_tz_offsets:
            wanted = set(column_names or ())
            df = df.drop(*[c for c in comps.values() if c not in wanted])

        # projection with PK force-include (reference: read.py:77-101)
        if column_names is not None:
            missing = [c for c in column_names if c not in df.columns]
            if missing:
                raise SQLColumnDoesNotExist(
                    f"columns {missing} do not exist in table {table_name!r}"
                )
            cols = list(dict.fromkeys(list(meta.primary_key) + list(column_names)))
            if include_tz_offsets:
                # keep each selected datetimeoffset column's companion
                # offset column: the caller asked for offsets, so the
                # PK+requested projection must not strip them
                cols = list(dict.fromkeys(
                    cols + [comps[c] for c in cols if c in comps]
                ))
            df = df.select(*cols)

        if limit is not None:
            if not isinstance(limit, int) or isinstance(limit, bool):
                raise ValueError("limit must be an integer (reference read.py:111-117)")
            df = df.limit(limit)

        if not unmask:
            from . import masking

            df = masking.apply_masks(
                df, meta.spark_schema,
                meta.properties.get("masking_policies") or {},
            )
        return df

    def table_changes(
        self,
        table_name: str,
        from_version: int,
        to_version: Optional[int] = None,
        match_columns: Optional[list[str]] = None,
    ) -> DataFrame:
        """Change-data-feed between two retained snapshots (Delta CDF
        analog; beyond-reference — the reference has no history at
        all). Returns one row per changed key with ``change_type`` in
        {'insert','update','delete'} plus ``old_<c>`` / ``new_<c>``
        for every non-key column; unchanged keys are omitted.

        Scale shape: when keyed on the table's primary key, the two
        sides are pruned to the MANIFEST DIFF first — files shared by
        both versions are immutable and bit-identical, so no shared
        file can contribute a change row (each PK appears in exactly
        one file per snapshot). After a pruned merge the diff is just
        the touched files, so CDC cost is ∝ changed data. The join
        itself is ONE full-outer on the keys — the same single shuffle
        a MERGE pays; change classification is row-local on top.
        Custom (non-unique) match_columns fall back to full snapshots.

        PRECONDITION for the manifest-diff fast path: each PK value
        occurs in at most one file per snapshot. merge/update enforce
        source-key uniqueness and rewrite every file a matched key
        lives in, so they preserve it — but ``insert`` does NOT check
        new rows against existing data (no per-batch table scan), so a
        table whose writers insert the same PK twice can misclassify a
        duplicated key split across a shared and a diff-only file
        (e.g. a false 'delete' while a copy survives in a shared
        file). For such tables pass explicit ``match_columns`` to
        force the full-snapshot path.
        """
        # each side reads under ITS OWN version's recorded schema: the
        # old files predate any later MODIFY COLUMN rewrite, so reading
        # them with the current schema would yield NULL/mistyped old_
        # values
        s_old = self._store.snapshot(table_name, from_version)
        s_new = self._store.snapshot(table_name, to_version)
        meta = s_new.meta
        keys = list(match_columns or meta.primary_key)
        if not keys:
            raise ValueError(
                "table_changes needs match_columns or a primary key"
            )
        for k in keys:
            if k not in meta.spark_schema.fieldNames():
                raise SQLColumnDoesNotExist(f"match column {k!r} not in table")
        old_paths, new_paths = s_old.paths, s_new.paths
        if keys == list(meta.primary_key):
            mf_old, mf_new = self._store.version_file_sets(s_old, s_new)
            old_paths = sorted(mf_old - mf_new)
            new_paths = sorted(mf_new - mf_old)
        old = self._store.read_files(s_old, old_paths)
        new = self._store.read_files(s_new, new_paths)
        # compared columns = union of both sides' non-key columns, so
        # schema evolution between the versions is CDC-visible: a
        # column added since from_version compares against old_=NULL
        # (its appearance IS the change) and a dropped column against
        # new_=NULL, instead of added columns being invisible and
        # dropped ones crashing the select. Engine-internal
        # datetimeoffset companion offset columns are excluded — like
        # SQL Server's ``=`` over datetimeoffset, change detection
        # compares the UTC instant stored in the base column, and the
        # companions would otherwise leak as old_/new_ output.
        suffix = dto.OFFSET_SUFFIX
        names = list(
            dict.fromkeys([*new.columns, *old.columns])
        )
        hidden = {
            c for c in names
            if c.endswith(suffix) and c[: -len(suffix)] in names
        }
        others = [c for c in names if c not in keys and c not in hidden]
        old_t = {f.name: f.dataType for f in old.schema.fields}
        new_t = {f.name: f.dataType for f in new.schema.fields}
        # one output type per column: the NEW side's (today's schema);
        # old values of a retyped column try_cast to it (NULL when
        # unrepresentable, rather than failing under ANSI)
        target = {c: new_t.get(c, old_t.get(c)) for c in others}

        # SQL-text projections/predicates (guide §1.2): the CDC plan is
        # rebuilt once per micro-batch in streaming sinks, and the
        # Column-operator form paid one py4j round trip per operator —
        # O(columns) round trips per batch; the text form pays one per
        # expression with identical parsed trees.
        from ..validation import _bq

        def _side(df, prefix, types):
            cols = []
            for c in others:
                if c in df.columns:
                    col = _bq(c)
                    if types[c] != target[c]:
                        col = (
                            f"try_cast({col} AS "
                            f"{target[c].simpleString()})"
                        )
                else:
                    col = f"CAST(NULL AS {target[c].simpleString()})"
                cols.append(f"{col} AS {_bq(f'{prefix}_{c}')}")
            return cols

        o = old.selectExpr(
            *[f"{_bq(k)} AS {_bq(f'__ko_{k}')}" for k in keys],
            *_side(old, "old", old_t),
            "true AS `__o`",
        )
        n = new.selectExpr(
            *[f"{_bq(k)} AS {_bq(f'__kn_{k}')}" for k in keys],
            *_side(new, "new", new_t),
            "true AS `__n`",
        )
        # the two sides' column names are disjoint by construction, so
        # a by-name expression resolves unambiguously across the join
        cond = F.expr(
            " AND ".join(
                f"{_bq(f'__ko_{k}')} = {_bq(f'__kn_{k}')}" for k in keys
            )
        )
        j = o.join(n, cond, "full_outer")
        changed = (
            " OR ".join(
                f"(NOT ({_bq(f'old_{c}')} <=> {_bq(f'new_{c}')}))"
                for c in others
            )
            if others
            else "false"
        )
        change_type = (
            "CASE WHEN `__o` IS NULL THEN 'insert' "
            "WHEN `__n` IS NULL THEN 'delete' "
            f"WHEN {changed} THEN 'update' END"
        )
        return (
            j.selectExpr("*", f"({change_type}) AS `change_type`")
            .filter("`change_type` IS NOT NULL")
            .selectExpr(
                *[
                    f"coalesce({_bq(f'__ko_{k}')}, {_bq(f'__kn_{k}')}) "
                    f"AS {_bq(k)}"
                    for k in keys
                ],
                "`change_type`",
                *[_bq(f"old_{c}") for c in others],
                *[_bq(f"new_{c}") for c in others],
            )
        )
