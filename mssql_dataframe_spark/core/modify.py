"""``modify`` verb: schema evolution DDL.

Reference: mssql_dataframe/core/modify.py —
- ``column(table, modify='add'|'alter'|'drop', ...)`` (modify.py:21-139)
- ``primary_key(table, modify='add'|'drop', ...)`` (modify.py:141-228)

Spark realization: ``add`` extends the schema metadata and lets the
declared-schema read fill NULLs (no data rewrite — the Delta
``ADD COLUMNS`` analog). ``alter`` and ``drop`` are copy-on-write
cast-rewrites (Delta would use column mapping for drop; the rewrite
keeps plain Parquet readable by any engine). ``primary_key`` updates
table metadata and audits uniqueness with one distributed aggregation.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..conversion_rules import parse_column_spec
from ..errors import (
    SQLColumnDoesNotExist,
    SQLRecastColumnUnchanged,
    SQLUndefinedPrimaryKey,
)
from ..store import TableStore
from ..validation import (
    duplicate_key,
    enforce_check_constraints,
    enforce_foreign_keys,
    enforce_unique_constraints,
    first_row,
)


def _implied_uq_name(child_table: str, fk_name: str) -> str:
    """Reserved name of the implied parent UNIQUE recorded for an FK
    referencing non-PK columns. Scoped by the CHILD table because FK
    names are unique only per child — two children may both declare
    'fk1' against the same parent."""
    return f"uq__fk__{child_table}__{fk_name}"


class modify:
    def __init__(self, store: TableStore):
        self._store = store

    def column(
        self,
        table_name: str,
        modify: str,
        column_name: str,
        data_type: Optional[str] = None,
        is_nullable: bool = True,
    ) -> None:
        snap = self._store.snapshot(table_name)
        meta = snap.meta
        schema = meta.spark_schema
        if modify == "add":
            if column_name in schema.fieldNames():
                # SQL Server raises; StructType.add would happily
                # append a DUPLICATE field and make the table
                # unreadable (every projection ambiguous)
                raise ValueError(
                    f"column {column_name!r} already exists"
                )
            spec = parse_column_spec(data_type)
            not_nullable = list(meta.not_nullable)
            if not is_nullable:
                # SQL Server requires a DEFAULT to add NOT NULL to a
                # non-empty table; this engine has no defaults, so the
                # add is legal only while the table is empty (manifest
                # row count — no scan)
                n_rows = sum(int(e.get("rows") or 0) for e in snap.entries)
                if n_rows:
                    raise ValueError(
                        f"cannot add NOT NULL column {column_name!r} to "
                        f"a non-empty table ({n_rows} rows would hold "
                        "NULL); add it nullable or truncate first"
                    )
                not_nullable = [*not_nullable, column_name]
            new_schema = schema.add(
                column_name, spec.spark_type, is_nullable
            )
            types = dict(meta.column_types)
            types[column_name] = data_type
            # metadata-only: the declared-schema read returns NULL for
            # the new column in existing files (Parquet schema merge)
            self._store.update_meta(
                table_name,
                spark_schema_json=new_schema.jsonValue(),
                column_types=types,
                not_nullable=not_nullable,
            )
        elif modify == "alter":
            if column_name not in schema.fieldNames():
                raise SQLColumnDoesNotExist(column_name)
            spec = parse_column_spec(data_type)
            old = meta.column_types.get(column_name, "")
            if parse_column_spec(old).render() == spec.render() and (
                is_nullable == schema[column_name].nullable
            ):
                raise SQLRecastColumnUnchanged(
                    f"column {column_name!r} is already {data_type!r}"
                )
            current = self._store.read_files(snap, snap.paths)
            if not is_nullable and first_row(
                current.filter(F.col(column_name).isNull())
            ) is not None:
                # SQL Server's ALTER ... NOT NULL fails on existing
                # NULLs — tightening must audit, not silently declare
                raise ValueError(
                    f"cannot alter {column_name!r} to NOT NULL: "
                    "existing rows hold NULL"
                )
            df = current.withColumn(
                column_name, F.col(column_name).cast(spec.spark_type)
            )
            fields = [
                T.StructField(
                    f.name,
                    spec.spark_type if f.name == column_name else f.dataType,
                    is_nullable if f.name == column_name else f.nullable,
                )
                for f in schema.fields
            ]
            types = dict(meta.column_types)
            types[column_name] = data_type
            # keep write-path NOT NULL enforcement (driven by
            # meta.not_nullable, not the schema flag) in sync with the
            # altered nullability in BOTH directions — published in
            # the SAME meta write as the data commit (extra_meta), so
            # a crash can never land the retype without its
            # enforcement bookkeeping
            nn = [c for c in meta.not_nullable if c != column_name]
            if not is_nullable:
                nn.append(column_name)
            self._store.overwrite(
                snap, df, T.StructType(fields), types, op="alter_column",
                extra_meta=(
                    {"not_nullable": nn}
                    if nn != list(meta.not_nullable) else None
                ),
            )
        elif modify == "drop":
            if column_name not in schema.fieldNames():
                raise SQLColumnDoesNotExist(column_name)
            # SQL Server refuses to drop PK / identity columns; doing
            # it here would leave meta keying merges on a ghost column
            if column_name in meta.primary_key:
                raise ValueError(
                    f"cannot drop {column_name!r}: part of the primary "
                    "key — drop the primary key first"
                )
            if column_name == meta.identity_column:
                raise ValueError(
                    f"cannot drop {column_name!r}: it is the identity "
                    "column"
                )
            self._require_no_column_dependents(
                table_name, column_name, dict(meta.properties), "drop"
            )
            df = self._store.read_files(snap, snap.paths).drop(column_name)
            fields = [f for f in schema.fields if f.name != column_name]
            types = {
                k: v for k, v in meta.column_types.items() if k != column_name
            }
            # stats bookkeeping follows the drop atomically: bounds
            # for a ghost column must not keep driving file pruning
            props = dict(meta.properties)
            extra = None
            changed = {}
            if props.get("stats_column") == column_name:
                changed["stats_column"] = None
            sc = props.get("stats_columns") or []
            if column_name in sc:
                changed["stats_columns"] = [
                    c for c in sc if c != column_name
                ]
            bc = props.get("bloom_filter_columns") or []
            if column_name in bc:
                changed["bloom_filter_columns"] = [
                    c for c in bc if c != column_name
                ]
            if changed:
                extra = changed
            # not_nullable cleanup rides the commit (extra_meta): a
            # crash after the data commit must not leave the key
            # naming a ghost column — the insert/merge missing-NOT-
            # NULL probes would then reject every subsequent write,
            # since the column can never be supplied again
            self._store.overwrite(snap, df, T.StructType(fields), types,
                                  op="drop_column",
                                  extra_properties=extra,
                                  extra_meta=(
                                      {"not_nullable": [
                                          c for c in meta.not_nullable
                                          if c != column_name
                                      ]}
                                      if column_name in meta.not_nullable
                                      else None
                                  ))
        else:
            raise ValueError("modify must be one of add|alter|drop")

    def check_constraint(
        self,
        table_name: str,
        modify: str,
        name: str,
        expression: Optional[str] = None,
    ) -> None:
        """ADD/DROP a named CHECK constraint (beyond-reference; the
        Delta ``ALTER TABLE ADD CONSTRAINT`` analog). Expressions use
        the engine's restricted where-grammar. ``add`` audits the
        EXISTING data first with one agg over the current snapshot —
        a table in violation cannot acquire the constraint — then
        every subsequent insert/update/merge/SCD2 enforces it on the
        rows it writes."""
        meta = self._store.meta(table_name)
        props = dict(meta.properties)
        checks = dict(props.get("check_constraints") or {})
        if modify == "add":
            if not expression:
                raise ValueError("expression required for check add")
            if name in checks:
                raise ValueError(f"check constraint {name!r} already exists")
            enforce_check_constraints(
                self._store.read(table_name), {name: expression}
            )
            checks[name] = expression
        elif modify == "drop":
            if name not in checks:
                raise ValueError(f"no check constraint {name!r}")
            del checks[name]
        else:
            raise ValueError("modify must be one of add|drop")
        props["check_constraints"] = checks
        self._store.update_meta(table_name, properties=props)

    def bloom_index(
        self, table_name: str, columns: Optional[list[str]]
    ) -> None:
        """Declare (or with ``None``/``[]`` drop) the bloom-indexed
        column set of an EXISTING table (the ``CREATE BLOOMFILTER
        INDEX`` analog; at create time pass the
        ``bloom_filter_columns`` property instead). Metadata-only and
        instant: files written from now on get sidecars; files already
        in the pool gain theirs on their next rewrite (``optimize`` /
        ``optimize_zorder`` / any merge that touches them) — reads
        stay correct meanwhile because pruning keeps every file
        without a sidecar for the probed column. Columns must exist
        and be bloom-hashable (integer family, string, or date)."""
        meta = self._store.meta(table_name)
        cols = list(columns or [])
        fields = {f.name: f.dataType for f in meta.spark_schema.fields}
        hashable = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                    T.StringType, T.DateType)
        for c in cols:
            if c not in fields:
                raise SQLColumnDoesNotExist(c)
            if not isinstance(fields[c], hashable):
                raise ValueError(
                    f"column {c!r} ({fields[c].simpleString()}) is not "
                    "bloom-indexable — integer-family and string "
                    "columns only"
                )
        props = dict(meta.properties)
        if cols:
            props["bloom_filter_columns"] = cols
        else:
            props.pop("bloom_filter_columns", None)
        self._store.update_meta(table_name, properties=props)

    def unique_constraint(
        self,
        table_name: str,
        modify: str,
        name: str,
        columns: Optional[str | list[str]] = None,
    ) -> None:
        """ADD/DROP a named UNIQUE constraint (beyond-reference; the
        SQL Server ``ALTER TABLE ADD CONSTRAINT ... UNIQUE`` analog,
        completing the PK/FK/CHECK/UNIQUE constraint family). ``add``
        audits the EXISTING rows first — one keys-only distributed
        dup agg over the current snapshot, a table in violation cannot
        acquire the constraint — then every subsequent
        insert/update/merge enforces it on the rows it writes (dup agg
        within the batch + keys-only semi join against rows the commit
        does not rewrite; see validation.enforce_unique_constraints).
        SQL-Server-simplified NULL handling matches the FK checker
        (MATCH SIMPLE): tuples containing NULL are exempt.

        Constraints recorded here share the ``unique_constraints``
        table property with FK-implied uniques (``uq__fk__*`` names,
        reserved), so a user-declared UNIQUE also satisfies the
        FK-referenced-columns durability requirement."""
        meta = self._store.meta(table_name)
        props = dict(meta.properties)
        uniques = dict(props.get("unique_constraints") or {})
        if modify == "add":
            cols = [columns] if isinstance(columns, str) else list(columns or [])
            if not cols:
                raise ValueError("columns required for unique add")
            if name in uniques:
                raise ValueError(f"unique constraint {name!r} already exists")
            if name.startswith("uq__fk__"):
                raise ValueError(
                    "constraint names starting with 'uq__fk__' are "
                    "reserved for FK-implied uniques"
                )
            if name == "PRIMARY KEY":
                raise ValueError(
                    "'PRIMARY KEY' is reserved (used by the write-path "
                    "PK-uniqueness hook)"
                )
            for c in cols:
                if c not in meta.spark_schema.fieldNames():
                    raise SQLColumnDoesNotExist(c)
            enforce_unique_constraints(
                self._store.read(table_name), {name: cols}
            )
            uniques[name] = cols
        elif modify == "drop":
            if name not in uniques:
                raise ValueError(f"no unique constraint {name!r}")
            if name.startswith("uq__fk__"):
                raise ValueError(
                    f"unique constraint {name!r} is implied by a foreign "
                    "key — drop the foreign key instead"
                )
            del uniques[name]
        else:
            raise ValueError("modify must be one of add|drop")
        props["unique_constraints"] = uniques
        self._store.update_meta(table_name, properties=props)

    def _require_no_column_dependents(
        self, table_name: str, column_name: str, props: dict, action: str
    ) -> None:
        """SQL Server-style dependency errors: declared artifacts whose
        definitions reference the column block a rename/drop.
        Expression matching is identifier-exact (word-boundary regex),
        not substring — dropping 'id' must not be vetoed by a check on
        'order_id'."""
        import re

        ident = re.compile(
            r"(?<![A-Za-z0-9_])" + re.escape(column_name)
            + r"(?![A-Za-z0-9_])"
        )

        def mentions(expr) -> bool:
            return bool(ident.search(str(expr)))

        blockers = []
        for kind, refs in (
            ("check constraint", props.get("check_constraints") or {}),
            ("computed column", props.get("computed_columns") or {}),
        ):
            for nm, expr in refs.items():
                if mentions(expr):
                    blockers.append(f"{kind} {nm!r}")
        if column_name in (props.get("masking_policies") or {}):
            blockers.append("masking policy")
        for nm, fk in (props.get("foreign_keys") or {}).items():
            if column_name in fk["columns"] or (
                fk.get("ref_table") == table_name
                and column_name in fk.get("ref_columns", ())
            ):
                blockers.append(f"foreign key {nm!r}")
        for nm, ucols in (props.get("unique_constraints") or {}).items():
            if column_name in ucols:
                blockers.append(f"unique constraint {nm!r}")
        for nm, pred in (props.get("row_filters") or {}).items():
            if mentions(pred):
                blockers.append(f"row filter {nm!r}")
        # OTHER tables' foreign keys may reference this column as a
        # PARENT key (ref_columns) — the common PK-referenced case
        # records no implied unique here, so scan the catalog like
        # rename_table does
        for t in self._store.list_tables():
            if t == table_name:
                continue
            fks = self._store.meta(t).properties.get("foreign_keys") or {}
            for nm, fk in fks.items():
                if fk.get("ref_table") == table_name and column_name in (
                    fk.get("ref_columns") or ()
                ):
                    blockers.append(f"foreign key {nm!r} on {t}")
        for vname, spec in self._store.list_view_specs():
            if spec.get("source") != table_name:
                continue
            if column_name in (spec.get("column_names") or ()) or (
                spec.get("where") and mentions(spec["where"])
            ) or spec.get("order_column") == column_name:
                blockers.append(f"view {vname!r}")
        if blockers:
            raise ValueError(
                f"cannot {action} {column_name!r}: referenced by "
                f"{', '.join(blockers)} — drop and re-add them around "
                f"the {action}"
            )

    def identity_reseed(
        self, table_name: str, new_seed: Optional[int] = None
    ) -> int:
        """``DBCC CHECKIDENT (table, RESEED, n)`` analog. With no seed
        given, re-syncs the counter to max(identity)+1 (the CHECKIDENT
        repair form). An explicit seed below that is REFUSED — SQL
        Server would happily hand out colliding identity values and
        fail later on the PK; this engine fails at reseed time
        instead. Returns the next identity value. One MAX agg when the
        current data must be consulted."""
        meta = self._store.meta(table_name)
        identity = meta.identity_column
        if not identity:
            raise SQLUndefinedPrimaryKey(
                f"table {table_name!r} has no identity column"
            )
        row = (
            self._store.read(table_name)
            .agg(F.max(F.col(identity)).alias("m"))
            .first()
        )
        floor_next = int(row["m"]) + 1 if row["m"] is not None else 1
        if new_seed is None:
            nxt = floor_next
        else:
            nxt = int(new_seed)
            if nxt < floor_next:
                raise ValueError(
                    f"reseed to {nxt} would collide: max({identity}) is "
                    f"{floor_next - 1}; lowest safe seed is {floor_next}"
                )
        self._store.update_meta(table_name, identity_next=nxt)
        return nxt

    def rename_column(
        self, table_name: str, column_name: str, new_name: str
    ) -> None:
        """``sp_rename 'table.col', 'new'`` analog. Plain Parquet has
        no column mapping (Delta's rename trick), so the rename is a
        COW cast-rewrite like ``column alter`` — metadata alone would
        leave files whose physical name no longer matches the schema.
        PK / identity / NOT NULL / stats bookkeeping follows the
        rename; declared artifacts whose EXPRESSIONS mention the
        column (check constraints, computed columns, masks, FKs) block
        the rename with an actionable error, like SQL Server's
        dependency errors."""
        snap = self._store.snapshot(table_name)
        meta = snap.meta
        schema = meta.spark_schema
        if column_name not in schema.fieldNames():
            raise SQLColumnDoesNotExist(column_name)
        if new_name in schema.fieldNames():
            raise ValueError(f"column {new_name!r} already exists")
        props = dict(meta.properties)
        self._require_no_column_dependents(
            table_name, column_name, props, "rename"
        )

        df = self._store.read_files(snap, snap.paths).withColumnRenamed(
            column_name, new_name
        )
        fields = [
            T.StructField(
                new_name if f.name == column_name else f.name,
                f.dataType, f.nullable,
            )
            for f in schema.fields
        ]
        types = {
            (new_name if k == column_name else k): v
            for k, v in meta.column_types.items()
        }

        def _ren(seq):
            return [new_name if c == column_name else c for c in seq]

        if props.get("stats_column") == column_name:
            props["stats_column"] = new_name
        if props.get("stats_columns"):
            props["stats_columns"] = _ren(props["stats_columns"])
        if props.get("bloom_filter_columns"):
            # the rename rewrite regenerates sidecars, so the index
            # follows the new name with no degraded window
            props["bloom_filter_columns"] = _ren(
                props["bloom_filter_columns"]
            )
        # key bookkeeping rides the commit (extra_meta), which the
        # rewrite's footer-stat harvest already sees: bounds are
        # labelled with the NEW name (pruning stays live through the
        # rename), and an OCC loss or crash leaves meta untouched
        self._store.overwrite(
            snap, df, T.StructType(fields), types, op="rename_column",
            extra_meta={
                "primary_key": _ren(meta.primary_key),
                "not_nullable": _ren(meta.not_nullable),
                "identity_column": (
                    new_name
                    if meta.identity_column == column_name
                    else meta.identity_column
                ),
                "properties": props,
            },
        )

    def rename_table(self, table_name: str, new_name: str) -> None:
        """``sp_rename 'old', 'new'`` analog: a pure metadata move (the
        manifest's file paths are pool-relative, so no data is
        touched). Blocked while other tables' FOREIGN KEYs or stored
        views reference the table — SQL Server raises dependency
        errors the same way."""
        import os

        self._store.meta(table_name)  # raises if absent
        if self._store.exists(new_name) or self._store.is_view(new_name):
            raise ValueError(f"{new_name!r} already exists")
        deps = []
        for t in self._store.list_tables():
            if t == table_name:
                continue  # self-FKs don't block: rewritten below
            fks = self._store.meta(t).properties.get("foreign_keys") or {}
            for nm, fk in fks.items():
                if fk["ref_table"] == table_name:
                    deps.append(f"foreign key {nm!r} on {t}")
        for v, spec in self._store.list_view_specs():
            if spec.get("source") == table_name:
                deps.append(f"view {v!r}")
        if deps:
            raise ValueError(
                f"cannot rename {table_name!r}: referenced by "
                f"{', '.join(deps)}"
            )
        src_dir = self._store._table_dir(table_name)
        dst_dir = self._store._table_dir(new_name)
        os.makedirs(os.path.dirname(dst_dir), exist_ok=True)
        os.rename(src_dir, dst_dir)
        meta2 = self._store.meta(new_name)
        meta2.name = new_name
        # a self-referencing FK moves with the table: its ref_table
        # must follow the rename or the next insert probes a ghost
        # parent and referential actions stop matching
        fks2 = dict(meta2.properties.get("foreign_keys") or {})
        changed = False
        for nm, fk in list(fks2.items()):
            if fk.get("ref_table") == table_name:
                fks2[nm] = {**fk, "ref_table": new_name}
                changed = True
        if changed:
            meta2.properties = {**meta2.properties, "foreign_keys": fks2}
        self._store._write_meta(new_name, meta2)
        # live spark.sql views registered on the old name must follow
        # the rename, or they would silently stop refreshing and keep
        # serving the pre-rename frozen file list (stale reads, then
        # FileNotFound once vacuum reaps those files)
        views = self._store._live_views.pop(table_name, None)
        if views:
            self._store._live_views[new_name] = views
            self._store._refresh_live_views(self._store.snapshot(new_name))

    def computed_column(
        self,
        table_name: str,
        modify: str,
        column_name: str,
        expression: Optional[str] = None,
        data_type: str = "bigint",
    ) -> None:
        """ADD/DROP a computed column (SQL Server ``ADD <col> AS
        (<expr>) PERSISTED`` analog; core/generated.py). ``add``
        extends the schema, records the whitelist-validated expression
        in table properties, and backfills existing rows in one COW
        rewrite (PERSISTED: values live in storage, so stats/pruning
        see them). Every subsequent write recomputes the column;
        explicit writes into it are rejected (SQL Server error 271)."""
        from . import generated

        snap = self._store.snapshot(table_name)
        meta = snap.meta
        props = dict(meta.properties)
        computed = dict(props.get("computed_columns") or {})
        if modify == "add":
            if column_name in meta.spark_schema.fieldNames():
                raise ValueError(
                    f"column {column_name!r} already exists"
                )
            expr = generated.validate_computed_expr(
                expression, meta.spark_schema.fieldNames()
            )
            spec = parse_column_spec(data_type)
            new_schema = meta.spark_schema.add(
                column_name, spec.spark_type, True
            )
            types = dict(meta.column_types)
            types[column_name] = data_type
            computed[column_name] = expr
            df = self._store.read_files(snap, snap.paths).withColumn(
                column_name, F.expr(expr).cast(spec.spark_type)
            )
            self._store.overwrite(
                snap, df.select(*new_schema.fieldNames()),
                new_schema, types, op="add_computed_column",
                extra_properties={"computed_columns": computed},
            )
        elif modify == "drop":
            if column_name not in computed:
                raise ValueError(f"no computed column {column_name!r}")
            del computed[column_name]
            # dependency check BEFORE any metadata write: a blocked
            # drop must leave the column fully managed, not present-
            # but-unregistered (writes would stop recomputing it and
            # the error-271 write guard would be lost)
            self._require_no_column_dependents(
                table_name, column_name,
                {**props, "computed_columns": computed}, "drop",
            )
            schema = meta.spark_schema
            df = self._store.read_files(snap, snap.paths).drop(column_name)
            fields = [f for f in schema.fields if f.name != column_name]
            types = {
                k: v for k, v in meta.column_types.items()
                if k != column_name
            }
            # expression removal and column drop publish in ONE
            # commit — including the same stats cleanup the plain
            # column('drop') branch does: a persisted computed column
            # can be the z-order/stats column, and a ghost entry
            # would keep driving file pruning and table_stats
            extra = {"computed_columns": computed}
            if props.get("stats_column") == column_name:
                extra["stats_column"] = None
            sc = props.get("stats_columns") or []
            if column_name in sc:
                extra["stats_columns"] = [c for c in sc if c != column_name]
            bc = props.get("bloom_filter_columns") or []
            if column_name in bc:
                extra["bloom_filter_columns"] = [
                    c for c in bc if c != column_name
                ]
            self._store.overwrite(
                snap, df, T.StructType(fields), types,
                op="drop_computed_column", extra_properties=extra,
            )
        else:
            raise ValueError("modify must be one of add|drop")

    def row_filter_policy(
        self,
        table_name: str,
        modify: str,
        name: str,
        predicate: Optional[str] = None,
    ) -> None:
        """ADD/DROP a named row-filter policy (SQL Server Row-Level
        Security analog: CREATE SECURITY POLICY ... ADD FILTER
        PREDICATE). Predicates use the engine's restricted
        where-grammar, validated at ADD time; reads silently apply the
        AND of all declared filters (before projection, so a predicate
        may reference columns a projection drops), unless called with
        ``bypass_row_filters=True``. Filter-only — write-side BLOCK
        predicates are intentionally out of scope and documented so."""
        from ..identifiers import compile_where

        meta = self._store.meta(table_name)
        props = dict(meta.properties)
        filters = dict(props.get("row_filters") or {})
        if modify == "add":
            if not predicate:
                raise ValueError("predicate required for row filter add")
            if name in filters:
                raise ValueError(f"row filter {name!r} already exists")
            compile_where(predicate)  # validate, fail at ADD time
            filters[name] = predicate
        elif modify == "drop":
            if name not in filters:
                raise ValueError(f"no row filter {name!r}")
            del filters[name]
        else:
            raise ValueError("modify must be one of add|drop")
        props["row_filters"] = filters
        self._store.update_meta(table_name, properties=props)

    def masking_policy(
        self,
        table_name: str,
        modify: str,
        column_name: str,
        function: Optional[str] = None,
    ) -> None:
        """ADD/DROP a Dynamic Data Masking policy on a column (SQL
        Server ``MASKED WITH (FUNCTION = ...)`` analog — the reference
        targets SQL Server, whose DDM this mirrors; core/masking.py).
        Metadata-only in both directions: storage keeps real values,
        reads apply the mask unless called with ``unmask=True`` (the
        UNMASK-permission analog)."""
        from . import masking

        meta = self._store.meta(table_name)
        if column_name not in meta.spark_schema.fieldNames():
            raise SQLColumnDoesNotExist(column_name)
        props = dict(meta.properties)
        policies = dict(props.get("masking_policies") or {})
        if modify == "add":
            if not function:
                raise ValueError("function required for masking_policy add")
            masking.validate_mask_function(function)
            policies[column_name] = function.strip()
        elif modify == "drop":
            if column_name not in policies:
                raise ValueError(f"no masking policy on {column_name!r}")
            del policies[column_name]
        else:
            raise ValueError("modify must be one of add|drop")
        props["masking_policies"] = policies
        self._store.update_meta(table_name, properties=props)

    def foreign_key(
        self,
        table_name: str,
        modify: str,
        name: str,
        columns: Optional[str | list[str]] = None,
        ref_table: Optional[str] = None,
        ref_columns: Optional[str | list[str]] = None,
        on_delete: str = "no_action",
    ) -> None:
        """ADD/DROP a named FOREIGN KEY (beyond-reference; warehouse
        engines usually declare FKs NOT ENFORCED — here ``add`` audits
        the EXISTING rows with one keys-only anti join against the
        parent's current snapshot, and every subsequent
        insert/update/merge/SCD2 enforces the FK on the rows it
        writes, same hook as CHECK constraints). SQL MATCH SIMPLE:
        rows with any NULL FK column pass.

        ``on_delete`` declares the referential action the parent's
        explicit delete verbs apply: ``no_action`` (default — parent
        delete fails while referenced), ``cascade`` (matching child
        rows are deleted first, recursively), or ``set_null``
        (matching child rows get the FK columns nulled — requires
        every FK column nullable, checked here)."""
        meta = self._store.meta(table_name)
        props = dict(meta.properties)
        fks = dict(props.get("foreign_keys") or {})
        if modify == "add":
            cols = [columns] if isinstance(columns, str) else list(columns or [])
            rcols = (
                [ref_columns]
                if isinstance(ref_columns, str)
                else list(ref_columns or [])
            )
            if not cols or not ref_table or len(cols) != len(rcols):
                raise ValueError(
                    "foreign_key add needs columns, ref_table and "
                    "ref_columns of equal length"
                )
            if name in fks:
                raise ValueError(f"foreign key {name!r} already exists")
            if on_delete not in ("no_action", "cascade", "set_null"):
                raise ValueError(
                    "on_delete must be one of no_action|cascade|set_null"
                )
            for c in cols:
                if c not in meta.spark_schema.fieldNames():
                    raise SQLColumnDoesNotExist(c)
            if on_delete == "set_null":
                blocked = [c for c in cols if c in meta.not_nullable]
                if blocked:
                    raise ValueError(
                        f"ON DELETE SET NULL requires nullable FK "
                        f"column(s); {blocked} are NOT NULL"
                    )
            if ref_table == table_name and on_delete != "no_action":
                # SQL Server error 1785: CASCADE/SET NULL on a
                # self-referencing FK "may cause cycles or multiple
                # cascade paths" and is rejected at DDL time
                raise ValueError(
                    f"ON DELETE {on_delete.upper()} is not allowed on "
                    "a self-referencing foreign key (SQL Server error "
                    "1785); use no_action"
                )
            ref_meta = self._store.meta(ref_table)  # raises if absent
            for rc in rcols:
                if rc not in ref_meta.spark_schema.fieldNames():
                    raise SQLColumnDoesNotExist(rc)
            # SQL Server requires the referenced columns to be the
            # parent's PRIMARY KEY or a UNIQUE constraint; without
            # that, duplicate parent keys make ON DELETE NO ACTION
            # checks and child enforcement ill-defined. Accept the
            # declared PK outright, otherwise audit uniqueness with
            # one distributed agg over the parent's keys.
            needs_implied_uq = sorted(rcols) != sorted(ref_meta.primary_key)
            if needs_implied_uq:
                dup = duplicate_key(
                    self._store.read(ref_table).select(*rcols).na.drop(),
                    rcols,
                )
                if dup is not None:
                    raise ValueError(
                        f"foreign_key add: referenced column(s) {rcols} "
                        f"of {ref_table!r} are neither its primary key "
                        "nor unique — SQL Server requires a PRIMARY KEY "
                        "or UNIQUE constraint on the referenced columns"
                    )
            spec = {
                "columns": cols,
                "ref_table": ref_table,
                "ref_columns": rcols,
            }
            if on_delete != "no_action":
                spec["on_delete"] = on_delete
            # audit BEFORE any metadata write: a table in violation
            # cannot acquire the FK, and a failed audit must not leave
            # a permanent (undroppable — drop requires the FK to
            # exist) implied UNIQUE on the parent
            enforce_foreign_keys(
                self._store, self._store.read(table_name), {name: spec},
                table_name=table_name,
            )
            if needs_implied_uq:
                # SQL Server requires a DURABLE PK/UNIQUE constraint
                # on the referenced columns, not a point-in-time scan:
                # record the implied UNIQUE on the parent so its own
                # subsequent insert/update/merge keep the invariant
                # (dropped again when this FK is dropped). Keyed by
                # CHILD TABLE + FK name — FK names are only unique per
                # child, so same-named FKs from different children
                # must not collide on a shared parent.
                ref_props = dict(ref_meta.properties)
                ref_uq = dict(ref_props.get("unique_constraints") or {})
                ref_uq[_implied_uq_name(table_name, name)] = rcols
                ref_props["unique_constraints"] = ref_uq
                self._store.update_meta(ref_table, properties=ref_props)
            fks[name] = spec
        elif modify == "drop":
            if name not in fks:
                raise ValueError(f"no foreign key {name!r}")
            # release the implied UNIQUE recorded on the parent (if the
            # FK targeted non-PK columns and the parent still exists)
            ref_table_drop = fks[name].get("ref_table")
            try:
                ref_meta = self._store.meta(ref_table_drop)
            except Exception:
                ref_meta = None
            if ref_meta is not None:
                ref_uq = dict(
                    ref_meta.properties.get("unique_constraints") or {}
                )
                # current child-scoped key, plus the legacy name-only
                # key for constraints recorded before the scoping fix
                for uq_name in (
                    _implied_uq_name(table_name, name),
                    f"uq__fk__{name}",
                ):
                    if uq_name in ref_uq:
                        del ref_uq[uq_name]
                        ref_props = dict(ref_meta.properties)
                        ref_props["unique_constraints"] = ref_uq
                        self._store.update_meta(
                            ref_table_drop, properties=ref_props
                        )
                        break
            del fks[name]
        else:
            raise ValueError("modify must be one of add|drop")
        props["foreign_keys"] = fks
        self._store.update_meta(table_name, properties=props)

    def primary_key(
        self,
        table_name: str,
        modify: str,
        columns: Optional[str | list[str]] = None,
        primary_key_name: Optional[str] = None,
    ) -> None:
        meta = self._store.meta(table_name)
        if modify == "add":
            cols = [columns] if isinstance(columns, str) else list(columns or [])
            if not cols:
                raise ValueError("columns required for primary_key add")
            for c in cols:
                if c not in meta.spark_schema.fieldNames():
                    raise SQLColumnDoesNotExist(c)
            # uniqueness audit: one distributed agg (SURVEY.md §2.1 #5)
            dupes = duplicate_key(self._store.read(table_name), cols)
            if dupes is not None:
                raise ValueError(
                    f"cannot add primary key {cols}: duplicate key values exist"
                )
            props = dict(meta.properties)
            if primary_key_name:
                props["primary_key_name"] = primary_key_name
            self._store.update_meta(
                table_name, primary_key=cols, properties=props
            )
        elif modify == "drop":
            if not meta.primary_key:
                raise SQLUndefinedPrimaryKey(
                    f"table {table_name!r} has no primary key"
                )
            props = dict(meta.properties)
            props.pop("primary_key_name", None)
            self._store.update_meta(table_name, primary_key=[], properties=props)
        else:
            raise ValueError("modify must be one of add|drop")
