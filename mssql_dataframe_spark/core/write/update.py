"""``write.update``: set-based update of matched rows.

Reference (mssql_dataframe/core/write/update.py:14-166): stage the
dataframe into a temp table, then one server-side
``UPDATE target SET c = source.c FROM target INNER JOIN source ON
match-columns`` — only matched rows change, unmatched source rows are
ignored, every dataframe column not in the match set is updated, and
``_time_update = GETDATE()`` is stamped when metadata timestamps are on
(update.py:135-136).

Spark realization: the validated source is staged once
(``stage_validated_source``); one distributed left join rewrites the
touched files copy-on-write. Catalyst picks broadcast vs sort-merge for the
join; with a small update batch against a large table this is a
broadcast join, i.e. no shuffle of the big side.
"""

from __future__ import annotations

import os

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ... import cache
from ...errors import (
    DataframeColumnInvalidValue,
    SQLColumnDoesNotExist,
    SQLUndefinedPrimaryKey,
)
from ...store import TableStore
from .. import generated
from ...validation import (
    _bq,
    duplicate_key,
    enforce_check_constraints,
    enforce_foreign_keys,
    enforce_unique_constraints,
    first_row,
    precheck_dataframe_deferred,
)
from .. import datetimeoffset as dto
from .insert import ensure_time_columns


def stage_validated_source(plan, finish, unique_key=None):
    """Execute a rewrite verb's SOURCE plan exactly ONCE (guide §2.4):
    checkpoint the deferred-validated plan into the executors' block
    stores (``cache.checkpoint``) — the validation aggregates ride that
    action as ``observe()`` metrics — then apply them and hand back the
    checkpointed LEAF. Every later consumer (pruning-bounds use,
    bloom/content discovery, the rewrite join, identity assignment)
    reads the leaf instead of re-executing the source pipeline, so
    update/merge/SCD2/delete are source-single-pass like insert, and
    the rewrite and the pruning bounds provably see the SAME rows even
    for a non-deterministic source.

    The duplicate-match-key check (T-SQL MERGE's "cannot UPDATE the
    same row more than once") cannot ride ``observe()``, which bars
    distinct aggregates, so it is one bounded take over the leaf's rows
    whose ``unique_key`` is all non-NULL (NULL keys never match, so they
    cannot apply a target row twice).

    Returns ``(leaf, bounds)``; raises the validation errors first. The
    caller's ``cache.scope()`` owns the leaf and frees its blocks when
    the verb ends, on success or on error.
    """
    leaf = cache.checkpoint(plan)
    bounds = finish()
    if unique_key:
        keyed = " AND ".join(f"{_bq(k)} IS NOT NULL" for k in unique_key)
        dup = duplicate_key(leaf.where(keyed), unique_key)
        if dup is not None:
            key = {k: dup[k] for k in unique_key}
            raise ValueError(
                f"source dataframe contains duplicate match-key rows "
                f"on {list(unique_key)} ({key} occurs {dup['__n']} "
                f"times); T-SQL MERGE/UPDATE cannot apply the same "
                f"target row twice — dedupe the source first"
            )
    return leaf, bounds


def resolve_match_columns(meta, dataframe, match_columns) -> list[str]:
    """Default match columns = table primary key (reference:
    insert.py:225-232); error if neither is available."""
    if match_columns:
        cols = (
            [match_columns] if isinstance(match_columns, str) else list(match_columns)
        )
    else:
        cols = list(meta.primary_key)
        if not cols:
            raise SQLUndefinedPrimaryKey(
                f"table {meta.name!r} has no primary key; supply match_columns"
            )
    for c in cols:
        if c not in meta.spark_schema.fieldNames():
            raise SQLColumnDoesNotExist(f"match column {c!r} not in table")
        if c not in dataframe.columns:
            raise SQLColumnDoesNotExist(f"match column {c!r} not in dataframe")
    return cols


#: batch-key bloom narrowing collects each match column's distinct
#: source values driver-side. The cap is set by FPP COMPOUNDING, not
#: collect cost: an innocent file survives an any-of-K probe with
#: probability 1-(1-p)^K (p ≈ 0.07% at the 16-bits/value sizing), so
#: at 512 keys ~30% of innocent files survive and the probe still
#: prunes most of the manifest; far past that the probe approaches
#: keep-everything and is pure waste. Larger batches fall back to
#: stats + content discovery, whose cost is already ∝ candidate files.
BLOOM_DISCOVERY_KEY_CAP = 512

#: cost guard (VERDICT r13 #5): bloom narrowing pays one extra driver
#: job (the capped batch-key distinct-collect) plus O(files) sidecar
#: reads BEFORE any verdict exists, and its only payoff is the
#: candidate bytes it excludes from the content scan / rewrite. Below
#: this many candidate bytes the full scan-or-rewrite is cheaper than
#: the probe itself (THROUGHPUT.md's toy-file bloom table: narrowing
#: at 60k-row files costs 2-4x the unguarded rewrite), so narrowing
#: disengages and discovery falls through to stats + content pruning.
#: At production file sizes (~1 GB/file) any real candidate set clears
#: the bar and behavior is unchanged. Per-table override via the
#: ``bloom_narrow_min_bytes`` property (0 forces engagement — used by
#: the THROUGHPUT scenario to keep demonstrating the narrowing shape
#: at toy sizes). Legacy entries without recorded ``bytes`` estimate
#: at a conservative 100 bytes/row.
BLOOM_NARROW_MIN_BYTES = 64 << 20
_EST_BYTES_PER_ROW = 100


def _entry_bytes(e) -> int:
    b = e.get("bytes")
    if b:
        return int(b)
    return int(e.get("rows") or 0) * _EST_BYTES_PER_ROW


def bloom_narrow_entries(store, snap, entries, src_keys, match):
    """Batch-key bloom narrowing over ``entries`` of ``snap``: for each
    bloom-indexed match column, the source's distinct non-NULL values
    (collected, capped — the source is the small side by design) test
    every entry's sidecar, and a file whose filter excludes EVERY
    batch key for some column cannot hold a matching row — per-column
    exclusion stays valid for composite keys (no tuple can match where
    one component provably never occurs). Entirely driver-side: no
    Spark job beyond ONE bounded distinct-collect covering every
    indexed column (per-column capped distinct frames unioned with
    allowMissingColumns, so each column keeps its native type and its
    own LIMIT — a composite key costs one driver job, not one per
    column).

    Returns the surviving entries (possibly [] = no file can hold a
    match), or None when blooms never engaged (no indexed match
    column, every column past the cap). NULL source keys are dropped
    before probing — equality never matches NULL."""
    meta = snap.meta
    bcols = [c for c in match if c in store._bloom_cols(meta)]
    if not bcols:
        return None
    # cost guard: when the ENTIRE candidate set is small enough that
    # scanning/rewriting it outright costs less than the probe's
    # driver job, don't engage (see BLOOM_NARROW_MIN_BYTES)
    floor = meta.properties.get("bloom_narrow_min_bytes")
    floor = BLOOM_NARROW_MIN_BYTES if floor is None else int(floor)
    if sum(_entry_bytes(e) for e in entries) < floor:
        return None
    frames = []
    for i, c in enumerate(bcols):
        # positional aliases (__v_0, __v_1, ...) so the union schema
        # never collides with a user column name
        frames.append(
            src_keys.select(F.col(c).alias(f"__v_{i}"))
            .where(F.col(f"__v_{i}").isNotNull())
            .distinct()
            .limit(BLOOM_DISCOVERY_KEY_CAP + 1)
            .select(F.lit(i).alias("__i"), F.col(f"__v_{i}"))
        )
    unioned = frames[0]
    for fr in frames[1:]:
        unioned = unioned.unionByName(fr, allowMissingColumns=True)
    by_col: dict[int, list] = {i: [] for i in range(len(bcols))}
    for r in unioned.collect():
        i = r["__i"]
        by_col[i].append(r[f"__v_{i}"])
    # a column past the cap has too many keys to probe driver-side
    probes = [
        (c, by_col[i]) for i, c in enumerate(bcols)
        if len(by_col[i]) <= BLOOM_DISCOVERY_KEY_CAP
    ]
    return store.bloom_prune(snap, entries, probes) if probes else None


def discover_matched_files(
    store, snap, bounds, src_keys, match, pre_filter=None,
):
    """Tier-2 content discovery shared by update/delete/merge/scd2:
    one slim scan (match columns + ``_metadata.file_path``) finds the
    files holding a row whose match key appears in the source — the
    rest are bit-identical and carry into the next manifest by
    reference. The scan is first stats-narrowed to candidate files via
    per-column manifest-bounds intersection (``stats_candidates``), so
    discovery cost is ∝ files the key ranges intersect, not table
    size. ``pre_filter`` restricts which target rows count as
    touchable (SCD2 passes ``is_current``: historical rows never
    change, so a file holding only history for a matched key still
    carries). Returns the matched file basenames; a match column
    absent from every stored file (just auto-evolved) reads NULL
    everywhere and NULL never equals, so nothing can match.

    Callers must skip this for empty-manifest tables (their read is
    not a parquet scan, so ``_metadata`` does not resolve — and there
    is nothing to prune).

    On top of the stats narrowing, bloom-indexed match columns narrow
    by BATCH-KEY sidecar probes: for each such column the source's
    distinct non-NULL values (collected, capped — the source is the
    small side by design) test every candidate file's bloom; a file
    whose sidecar excludes every batch key cannot hold a matching row
    even when its min/max range overlaps everything (high-entropy or
    interleaved keys make stats pruning blind). Past the cap the
    column simply doesn't narrow — correctness never depends on the
    blooms (reference merge semantics: mssql_dataframe merge.py's
    update/delete clauses; this is purely the discovery cost)."""
    candidates = stats_candidates(store, snap, bounds)
    if candidates is not None and not candidates:
        return set()
    entries = snap.entries
    if candidates is not None:
        cset = set(candidates)
        entries = [e for e in entries if e["path"] in cset]
    surviving = bloom_narrow_entries(store, snap, entries, src_keys, match)
    if surviving is not None:
        if not surviving:
            return set()  # every file provably holds no match
        if len(surviving) < len(entries):
            candidates = [e["path"] for e in surviving]
    if candidates is None:
        candidates = [e["path"] for e in entries]
    scan = store.read_files(snap, candidates)
    if not all(c in scan.columns for c in match):
        return set()
    if pre_filter is not None:
        scan = scan.filter(pre_filter)
    return matched_file_names(scan, src_keys, match)


def matched_file_names(scan, keys, cols) -> set:
    """Basenames of ``scan``'s files holding a row whose ``cols`` equal
    a row of ``keys`` — one slim scan (``cols`` plus
    ``_metadata.file_path``, so Parquet reads only the key columns).
    NULL keys never match."""
    return file_names(
        scan.select(*cols, F.col("_metadata.file_path").alias("f"))
        .join(keys, on=cols, how="left_semi")
    )


def file_names(rows) -> set:
    """Distinct basenames of a discovery scan's ``f`` column (the
    ``_metadata.file_path`` of each matching row) — one collect."""
    return {
        os.path.basename(r["f"])
        for r in rows.select("f").distinct().collect()
    }


def split_entries(entries, matched_files):
    """Partition manifest entries by the discovery verdict: (kept
    entries carried by reference, touched file paths to rewrite)."""
    kept = [e for e in entries if e["path"] not in matched_files]
    touched = [e["path"] for e in entries if e["path"] in matched_files]
    return kept, touched


def _known_bounds(bounds) -> dict:
    """The source's ``{col: (lo, hi)}`` bounds with both ends known."""
    return {
        c: b for c, b in (bounds or {}).items()
        if b[0] is not None and b[1] is not None
    }


def stats_candidates(store, snap, bounds):
    """Stats pre-narrowing for the content-discovery fallback:
    per-column manifest bounds (composite PKs, FK columns, UNIQUE /
    declared stats columns are all footer-harvested) can prove files
    untouched BEFORE the slim discovery scan runs — the scan then
    reads only candidate files, so discovery cost is ∝ files the
    match-key ranges intersect, not table size. Match columns without
    recorded stats degrade gracefully: nothing prunes and the caller
    scans the whole table as before. Returns the candidate path list
    when stats pruned anything (possibly empty = nothing can match),
    else None."""
    usable = _known_bounds(bounds) if isinstance(bounds, dict) else None
    if not usable:
        return None
    touched, kept = store.split_by_key_ranges(snap, usable)
    return touched if kept else None


def discover_touched(store, snap, bounds, src, match,
                     stats_final=False, pre_filter=None):
    """File discovery shared by update/delete/merge/SCD2, against the
    caller's ``snap``. Returns ``(keep_entries,
    touched_paths)``: the entries that provably hold no matching row
    and carry into the next manifest by reference, and the files to
    rewrite. Together they cover the snapshot; ``touched_paths == []``
    means no file can hold a match, and what that means is the
    caller's call (update/delete commit nothing, merge/SCD2 only
    insert).

    The manifest min/max split on the source ``bounds`` comes first.
    With ``stats_final`` (a single-column-PK match) its verdict stands
    even when it carries nothing — a full-range source touches every
    file, and a content scan would only re-discover that at the cost
    of a job — and then only the batch-key bloom probe (driver-side)
    narrows it. A ``pre_filter``ed (SCD2) discovery keeps a split that
    carried any file as its verdict. Otherwise the slim content scan
    of ``discover_matched_files`` (itself stats- and bloom-narrowed)
    decides. Empty tables discover nothing: their read is not a
    parquet scan, so ``_metadata`` would not resolve."""
    entries = snap.entries
    if not entries:
        return [], []
    usable = _known_bounds(bounds)
    stats_final = stats_final and bool(usable)
    if stats_final or (usable and pre_filter is not None):
        touched, kept = store.split_by_key_ranges(snap, usable)
        if kept or not touched:
            return kept, touched
    # the key side, built only now that a probe needs it (delete's
    # staged source is its distinct key set already)
    keys = src if len(src.columns) == len(match) else (
        src.select(*match).distinct()
    )
    if stats_final:
        # stats kept nothing — interleaved/high-entropy layouts make
        # min/max blind, but batch-key bloom probes can still isolate
        # the touched files
        surviving = bloom_narrow_entries(store, snap, entries, keys, match)
        return split_entries(entries, {
            e["path"] for e in (entries if surviving is None else surviving)
        })
    return split_entries(entries, discover_matched_files(
        store, snap, bounds, keys, match, pre_filter=pre_filter,
    ))


def existing_candidates(store, snap, bounds, keys, cols, carried=None):
    """The "existing rows" side of a key probe (UNIQUE/PK collisions,
    FK references): paths of ``snap``'s files that could hold a row
    whose ``cols`` equal a key of ``keys``. The
    per-column stats split on the batch ``bounds`` comes first,
    restricted to the ``carried`` entries (default: the whole
    snapshot; a rewrite verb passes the files it carries, since its
    rewritten rows are the staged side), then batch-key bloom
    narrowing. So probe cost is ∝ files whose recorded key ranges and
    sidecars admit the batch, not table size. No ``bounds`` (no
    non-NULL batch key) or nothing carried: nothing can match."""
    if not bounds or (carried is not None and not carried):
        return []
    touched, _ = store.split_by_key_ranges(snap, bounds)
    if not touched:
        return []
    tset = set(touched)
    cand = [e for e in (snap.entries if carried is None else carried)
            if e["path"] in tset]
    surviving = bloom_narrow_entries(
        store, snap, cand, keys, cols
    ) if cand else None
    return [e["path"] for e in (cand if surviving is None else surviving)]


def constraint_probe(store, snap, carried=None, pk_at_risk=False):
    """The ``pre_commit_check`` hook of every write verb's commit.
    CHECK, FOREIGN KEY and UNIQUE probes run post-stage over the
    STAGED (written or rewritten) files — a columnar read — so the
    verb's rewrite plan executes exactly once (the staging write); the
    eager shape re-executed it once per probe family. The hook runs
    inside the commit's discard guard: a violation aborts the commit
    and drops the staged files ("nothing visible on failure"). The FK
    probe's parent pins return as cross-table OCC preconditions.

    ``pk_at_risk`` adds the PRIMARY KEY to the unique probes, for a
    rewrite that can change or duplicate PK values (SQL Server still
    enforces the PK there); ``pk_not_enforced`` tables opt out. Each
    unique probe's existing side is ``existing_candidates`` over the
    ``carried`` entries."""
    meta = snap.meta
    checks = meta.properties.get("check_constraints") or {}
    fks = meta.properties.get("foreign_keys") or {}
    uniques = dict(meta.properties.get("unique_constraints") or {})
    if (
        pk_at_risk and meta.primary_key
        and not meta.properties.get("pk_not_enforced")
    ):
        uniques["PRIMARY KEY"] = list(meta.primary_key)

    def _pre_commit(stage_entries, stage_dir):
        if not (checks or fks or uniques) or not stage_entries:
            return None  # nothing declared, or nothing written
        staged = store.spark.read.schema(meta.spark_schema).parquet(*[
            os.path.join(stage_dir, e["path"]) for e in stage_entries
        ])
        enforce_check_constraints(staged, checks)
        fk_deps = enforce_foreign_keys(
            store, staged, fks, table_name=snap.name,
        ) if fks else None

        def _existing_for(cols, bounds):
            paths = existing_candidates(
                store, snap, bounds, staged.select(*cols), list(cols),
                carried=carried,
            )
            return store.read_files(snap, paths) if paths else None

        enforce_unique_constraints(staged, uniques, existing_for=_existing_for)
        return fk_deps

    return _pre_commit


def reject_missing_not_null(meta, src_columns, exempt, joined, new_rows,
                            cannot, rows):
    """A NOT NULL or PRIMARY KEY column absent from a merge source makes
    every row the merge synthesizes (``joined.filter(new_rows)``) store
    NULL there — SQL Server MERGE raises error 515. One bounded take,
    and only on the rare missing-column path; computed columns (engine
    materialized) and the caller's ``exempt`` engine-filled columns do
    not count."""
    computed = meta.properties.get("computed_columns") or {}
    missing = [
        c
        for c in dict.fromkeys((*meta.not_nullable, *meta.primary_key))
        if c not in src_columns and c not in computed and c not in exempt
    ]
    if missing and first_row(joined.filter(new_rows)) is not None:
        raise DataframeColumnInvalidValue(
            f"{cannot}: NOT NULL / PRIMARY KEY column(s) {missing} are "
            f"absent from the source dataframe, so {rows} would store "
            "NULL there"
        )


def update_op(
    store: TableStore,
    table_name: str,
    dataframe: DataFrame,
    match_columns: Optional[list[str]] = None,
    include_metadata_timestamps: bool = False,
) -> DataFrame:
    if include_metadata_timestamps:
        ensure_time_columns(store, table_name, ["_time_update"])
    snap = store.snapshot(table_name)
    meta = snap.meta
    generated.reject_explicit_writes(
        dataframe.columns, meta.properties.get("computed_columns") or {}
    )
    match = resolve_match_columns(meta, dataframe, match_columns)

    # unique_key=match: duplicate match keys in the source would fan out
    # target rows through the join; T-SQL raises "attempted to UPDATE
    # the same row more than once" — so do we, before anything
    # commits (stage_validated_source).
    can_prune = match == list(meta.primary_key) and len(match) == 1
    dataframe = dto.derive(dataframe, meta)
    update_cols = [c for c in dataframe.columns if c not in match]
    if not update_cols:
        raise ValueError("dataframe has no non-match columns to update")
    # stage the source ONCE (guide §2.4): the validation aggregates —
    # including the per-match-column pruning bounds ({col: (lo, hi)})
    # — ride the staging checkpoint as observe() metrics, and everything
    # downstream (bloom/content discovery, the rewrite join) reads the
    # staged LEAF, so the source plan executes exactly once per update
    plan, finish = precheck_dataframe_deferred(
        dataframe,
        {c: meta.column_types[c] for c in dataframe.columns},
        # PK columns join the NOT NULL set like insert does: an update
        # matching on non-PK columns can rewrite a PK column, and SQL
        # Server raises "Cannot insert the value NULL" there too
        not_nullable=[
            c for c in dict.fromkeys(
                (*meta.not_nullable, *meta.primary_key)
            )
            if c not in match and c in dataframe.columns
        ],
        bounds_col=match,
    )
    with cache.scope():
        src, bounds = stage_validated_source(plan, finish, unique_key=match)
        # file pruning: UPDATE never inserts or deletes, so rows in files
        # holding no matching key are bit-identical — carry them over by
        # manifest reference and rewrite only touched files (see
        # store.replace_files; the Delta MERGE INTO commit shape)
        keep_entries, touched = discover_touched(
            store, snap, bounds, src, match, stats_final=can_prune,
        )
        if not touched:
            # no target row matches the source: UPDATE changes nothing —
            # commit nothing (rewriting the table byte-identically would
            # be a catastrophic no-op at 100 TB, and committing published
            # phantom versions)
            return plan
        target = store.read_files(snap, touched)
        # SQL-text projection (guide §1.2 — one py4j round trip per
        # expression instead of one per Column operator; identical trees)
        renamed = src.selectExpr(
            *[f"{_bq(c)} AS {_bq(f'__s_{c}')}" for c in src.columns],
            "true AS `__s`",
        )

        cond = [target[k] == renamed[f"__s_{k}"] for k in match]
        joined = target.join(renamed, cond, "left")

        matched = "(`__s` IS NOT NULL)"
        out_cols = []
        for f in meta.spark_schema.fields:
            c = f.name
            q, qs = _bq(c), _bq(f"__s_{c}")
            if c in update_cols:
                col = f"CASE WHEN {matched} THEN {qs} ELSE {q} END"
            elif c == "_time_update" and include_metadata_timestamps:
                col = (
                    f"CASE WHEN {matched} THEN "
                    f"CAST(current_timestamp() AS TIMESTAMP_NTZ) ELSE {q} END"
                )
            else:
                col = q
            out_cols.append(
                f"CAST(({col}) AS {f.dataType.simpleString()}) AS {q}"
            )

        result = joined.selectExpr(*out_cols)
        result = generated.materialize(result, meta)
        # an update matching on non-PK columns can rewrite PK columns — the
        # PK is still enforced there (match==PK never enters: PK columns
        # are then match columns, no extra jobs)
        store.replace_files(
            snap, result, keep_entries, op="update",
            pre_commit_check=constraint_probe(
                store, snap, carried=keep_entries,
                pk_at_risk=bool(set(update_cols) & set(meta.primary_key)),
            ),
        )
    return plan
