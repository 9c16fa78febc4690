"""``write.insert``: validated append.

Reference pipeline (mssql_dataframe/core/write/insert.py:38-85):
schema fetch -> validate/convert -> value prep -> bulk INSERT; plus the
whitelisted schema-evolution retry that auto-adds ``_time_insert`` /
``_time_update`` datetime2 columns with a warning
(insert.py:87-138, _exceptions.py:15-50).

Spark realization: the validated DataFrame is appended to the current
snapshot as new Parquet files (Delta AddFile analog) — O(new data), no
rewrite, no shuffle. Identity values are assigned with a distributed
two-pass sequence (per-partition counts -> offsets), not a
single-partition window, so the append scales.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ...errors import DataframeColumnInvalidValue, SQLUniqueConstraintViolation
from ...store import TableStore
from .. import generated
from ...validation import duplicate_key, first_row, precheck_dataframe_deferred
from .. import datetimeoffset as dto

logger = logging.getLogger("mssql_dataframe_spark")

_TIME_COLUMNS = {"_time_insert": "datetime2", "_time_update": "datetime2"}


def ensure_time_columns(
    store: TableStore, table_name: str, needed: list[str]
) -> None:
    """Auto-add metadata-timestamp columns (ONLY these — the reference
    whitelists exactly ``_time_insert``/``_time_update`` and re-raises
    for any other missing column; insert.py:117-133). A meta-only
    change: the caller takes its snapshot after it."""
    meta = store.meta(table_name)
    schema = meta.spark_schema
    changed = False
    types = dict(meta.column_types)
    for col in needed:
        if col not in schema.fieldNames():
            logger.warning(
                "Creating column %s in table %s with data type DATETIME2.",
                col, table_name,
            )
            schema = schema.add(col, T.TimestampNTZType(), True)
            types[col] = _TIME_COLUMNS[col]
            changed = True
    if changed:
        store.update_meta(
            table_name,
            spark_schema_json=schema.jsonValue(),
            column_types=types,
        )


def assign_identity(df: DataFrame, col: str, start: int,
                    dtype: T.DataType) -> tuple[DataFrame, int]:
    """Assign dense sequential identity values ``start, start+1, ...``.

    Scale note: uses per-partition counts to compute offsets (two light
    jobs) instead of a global single-partition window — the same
    technique as RDD ``zipWithIndex``, expressed over DataFrames.
    """
    with_pid = df.withColumn("__pid", F.spark_partition_id())
    counts = {
        r["__pid"]: r["cnt"]
        for r in with_pid.groupBy("__pid").agg(F.count("*").alias("cnt")).collect()
    }
    if not counts:
        # empty frame: a zero-arg create_map types as map<void,void>
        # and fails analysis when indexed — and there is nothing to
        # number anyway. next == start doubles as the emptiness signal.
        return df.withColumn(col, F.lit(None).cast(dtype)), start
    offsets, acc = {}, start
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    offset_map = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    w = Window.partitionBy("__pid").orderBy(F.monotonically_increasing_id())
    out = (
        with_pid.withColumn(
            col,
            (offset_map[F.col("__pid")] + F.row_number().over(w) - 1).cast(dtype),
        )
        .drop("__pid")
    )
    return out, acc


def insert(
    store: TableStore,
    table_name: str,
    dataframe: DataFrame,
    include_metadata_timestamps: bool = False,
    extra_properties: dict | None = None,
    expected_version: int | None = None,
) -> DataFrame:
    """``expected_version`` pins the commit to land at exactly that
    version + 1 — callers that RECORD the commit's version window or
    ledger before committing (the stream->MV sink, ingest_directory)
    pass the version they read, so a foreign writer racing in between
    fails this insert cleanly instead of letting the recorded window
    point at the foreign commit."""
    if include_metadata_timestamps:
        ensure_time_columns(store, table_name, ["_time_insert"])
    snap = store.snapshot(table_name)
    meta = snap.meta
    if expected_version is not None and snap.version != int(
        expected_version
    ):
        from ...errors import SQLConcurrentWriteConflict

        raise SQLConcurrentWriteConflict(
            f"table {table_name!r} is at version {snap.version}, not "
            f"the expected {expected_version} — another writer "
            "committed since the caller planned this insert"
        )
    generated.reject_explicit_writes(
        dataframe.columns, meta.properties.get("computed_columns") or {}
    )

    # NOT NULL enforcement: declared not-null columns plus primary-key
    # columns (the reference surfaces SQL Server's NOT NULL violation);
    # the identity column is excluded — it is assigned below.
    required = [
        c for c in (*meta.not_nullable, *meta.primary_key)
        if c != meta.identity_column
    ]
    absent = [c for c in dict.fromkeys(required) if c not in dataframe.columns]
    if absent:
        raise DataframeColumnInvalidValue(
            f"NOT NULL column(s) {absent} missing from the insert dataframe"
        )
    if meta.identity_column and meta.identity_column in dataframe.columns:
        # SQL Server error 544: explicit identity values need
        # IDENTITY_INSERT ON, which this engine does not model —
        # accepting them silently would also desync identity_next and
        # let a later auto-assigned batch mint duplicate primary keys
        # (the auto path skips the PK collision checks precisely
        # because engine-assigned ids are unique by construction).
        raise DataframeColumnInvalidValue(
            f"Cannot insert explicit value for identity column "
            f"{meta.identity_column!r} in table {table_name!r} — drop "
            "the column and let the engine assign it (re-seed via "
            "modify.identity_reseed for migration loads)"
        )
    dataframe = dto.derive(dataframe, meta)
    # Validation is DEFERRED onto the staging write (guide §2.4): the
    # fused agg's expressions ride the write as ``observe()`` metrics
    # and are applied in ``store.append``'s pre-commit hook, so an
    # insert executes the source plan ONCE (the eager path paid a
    # second full pass — and for a source that is itself an expensive
    # pipeline, a second full recompute). PRIMARY KEY enforcement (SQL
    # Server raises "Violation of PRIMARY KEY constraint" on every
    # INSERT; the reference surfaces that server error — create.py:148)
    # moves post-stage with it: batch-internal duplicates and the
    # standing-snapshot collision are ONE keys-only job over the
    # STAGED files (columnar read of just the PK columns — never a
    # source re-execution), stats+bloom-pruned by the observed
    # per-PK-column bounds exactly as before. An engine-assigned
    # identity PK is unique by construction (atomic counter, reseed
    # refuses collisions) and skips the checks; tables preferring
    # Delta/Synapse-style informational PRIMARY KEY NOT ENFORCED
    # semantics opt out with ``pk_not_enforced`` and pay nothing.
    pk = [c for c in meta.primary_key if c in dataframe.columns]
    if meta.properties.get("pk_not_enforced"):
        pk = []
    df, finish_validation = precheck_dataframe_deferred(
        dataframe,
        {c: meta.column_types[c] for c in dataframe.columns},
        not_nullable=required,
        bounds_col=pk or None,
    )

    if include_metadata_timestamps:
        df = df.withColumn("_time_insert", F.current_timestamp().cast("timestamp_ntz"))

    identity = meta.identity_column
    identity_meta = None
    if identity and identity not in df.columns:
        dtype = meta.spark_schema[identity].dataType
        df, next_id = assign_identity(df, identity, meta.identity_next, dtype)
        if next_id != meta.identity_next:
            # published with the commit (extra_meta), not before it: a
            # pre-commit update_meta is last-writer-wins, so an OCC
            # loser could roll the winner's advanced counter back and
            # later inserts would mint duplicate identity PKs
            identity_meta = {"identity_next": next_id}

    # fill columns absent from the input with NULLs
    for f in meta.spark_schema.fields:
        if f.name not in df.columns:
            df = df.withColumn(f.name, F.lit(None).cast(f.dataType))

    out = df.select(*meta.spark_schema.fieldNames())
    out = generated.materialize(out, meta)
    # deferred import: update imports this module's ensure_time_columns
    from .update import constraint_probe, existing_candidates

    probe = constraint_probe(store, snap)

    def _pre_commit(stage_entries, stage_dir):
        # Runs inside store.append's discard guard, after the staging
        # write and before the version claim: a raise here aborts the
        # commit and drops the staged files — the same "nothing
        # visible on failure" contract the eager checks gave. EVERY
        # data-dependent probe runs here over the STAGED files (a
        # columnar read of the new files only), so the SOURCE plan
        # executes exactly once per insert regardless of which
        # constraints the table declares — the eager shape re-executed
        # it once per probe family (validation, CHECK, FK bounds +
        # per-FK anti joins, UNIQUE, PK), which for a source that is
        # an expensive pipeline meant up to five recomputes.
        #
        # 1) Deferred validation: the staging write already computed
        #    the fused agg as observe() metrics; apply them (raises
        #    the validation errors) and take the per-PK-column
        #    pruning bounds from the same metrics.
        pk_bounds = finish_validation()
        # 2) CHECK, FOREIGN KEY and UNIQUE probes over the staged files
        #    (see constraint_probe); the FK probe's parent-version pins
        #    become cross-table OCC preconditions via the hook's return
        #    value (checked by store.append immediately after this
        #    hook, so the probe-to-commit window is minimal and still
        #    OCC-covered). An empty batch can neither violate nor
        #    collide, and with no rows published no FK pin is needed.
        fk_deps = probe(stage_entries, stage_dir)
        if not (pk and stage_entries):
            return fk_deps
        # 3) PK enforcement, one keys-only take over the STAGED files.
        #    Collision discovery vs the standing snapshot is
        #    stats-PRUNED to just the files whose key range intersects
        #    the batch. Single AND composite PKs prune: every PK
        #    column's per-file min/max is in the manifest
        #    (store._stats_cols), and a file is skipped when ANY key
        #    column's range excludes every batch value
        #    (split_by_key_ranges). An append beyond the current range
        #    (the identity/ordered-ingest shape) reads ZERO existing
        #    files; an empty table skips the probe entirely. Files
        #    written before composite stats were recorded lack the
        #    per-column entries and count as touched (safe fallback,
        #    self-heals as they are rewritten). Batch-key bloom
        #    narrowing comes on top: random/high-entropy keys (UUIDs,
        #    hashes) overlap every file's min/max, but the batch's keys
        #    probing each candidate's sidecar still prove files
        #    collision-free (the only added cost is a bounded
        #    distinct-collect of the staged keys, and only on tables
        #    that bloom-index their PK).
        paths = [os.path.join(stage_dir, e["path"]) for e in stage_entries]
        kschema = T.StructType([meta.spark_schema[c] for c in pk])
        staged_keys = (
            out.sparkSession.read.schema(kschema).parquet(*paths)
            .select(*pk)
        )
        existing = existing_candidates(
            store, snap, pk_bounds or {}, staged_keys, pk
        )
        if not existing:
            # batch-internal duplicates only (no standing key overlaps)
            bad = duplicate_key(staged_keys, pk)
        else:
            # batch duplicates AND snapshot collisions in the SAME take:
            # union the staged keys (tagged new) with the pruned existing
            # keys, one hash aggregate per key; ``__n`` counts a key's
            # new rows, and the key with the most comes first, so a batch
            # duplicate wins over a collision
            merged = staged_keys.select(
                *pk, F.lit(1).alias("__new")
            ).unionByName(
                store.read_files(snap, existing).select(
                    *pk, F.lit(0).alias("__new")
                )
            )
            bad = first_row(
                merged.groupBy(*pk)
                .agg(
                    F.expr("sum(`__new`) AS `__n`"),
                    F.expr("count(1) AS `__n_all`"),
                )
                .where("`__n` > 0 AND `__n_all` > 1")
                .orderBy(F.col("__n").desc())
            )
        if bad is not None:
            raise SQLUniqueConstraintViolation(
                f"Violation of PRIMARY KEY constraint on {pk}: the insert "
                "batch " + (
                    "contains duplicate key values" if bad["__n"] > 1
                    else f"repeats key values already in {table_name!r}"
                )
            )
        return fk_deps

    # cross-table OCC: the FK probe inside _pre_commit returns its
    # parent-version pins through the hook, and store.append checks
    # them immediately after — the commit fails cleanly if a probed
    # parent changed between the probe and this publish
    store.append(
        snap, out, extra_properties=extra_properties,
        extra_meta=identity_meta, pre_commit_check=_pre_commit,
    )
    return df
