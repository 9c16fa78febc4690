"""``write.delete``: set-based delete of matched rows.

Beyond the reference's verb surface (its deletes ride MERGE's
``WHEN NOT MATCHED BY SOURCE`` clause — reference merge.py:180-197);
a standalone keys-based DELETE completes the CRUD verbs and is the
GDPR/right-to-be-forgotten shape: given the keys to erase, rewrite
only the files that can contain them.

Scale shape: identical to update's pruned copy-on-write — the keys'
min/max ride the precheck validation agg, files whose stats range
misses the keys carry into the next manifest BY REFERENCE, and the
touched files are rewritten through one distributed left-anti join.
Cost ∝ touched data, not table size.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ... import cache
from ...store import TableStore
from ...validation import first_row, precheck_dataframe_deferred
from .update import (
    discover_touched,
    existing_candidates,
    file_names,
    matched_file_names,
    resolve_match_columns,
    split_entries,
    stage_validated_source,
)


def _rows(entries) -> int:
    """Row total of manifest entries — no scan."""
    return sum(e.get("rows") or 0 for e in entries)


def _parent_keys(deleted_rows, fk):
    """The distinct non-NULL keys ``fk`` references among the deleted
    rows, under the FK's own column names."""
    return (
        deleted_rows.select(
            *[
                F.col(rc).alias(c)
                for c, rc in zip(fk["columns"], fk["ref_columns"])
            ]
        )
        .na.drop(how="any")
        .distinct()
    )


def _key_bounds(cols, keys):
    """Per-column min/max of the deleted ``keys`` — one small agg over
    the persisted key set, computed ONCE per FK and reused by the
    initial probe, the set_null discovery scan, and any re-probe (the
    key set never changes within one delete)."""
    brow = keys.agg(
        *[
            f
            for i, c in enumerate(cols)
            for f in (
                F.min(c).alias(f"__lo_{i}"),
                F.max(c).alias(f"__hi_{i}"),
            )
        ]
    ).collect()[0]
    return {
        c: (brow[f"__lo_{i}"], brow[f"__hi_{i}"])
        for i, c in enumerate(cols)
        if brow[f"__lo_{i}"] is not None
    }


def fk_references(store, table_name) -> list[tuple]:
    """``(child_table, fk_name, fk)`` for every FOREIGN KEY in the
    catalog that references ``table_name`` — metadata reads only."""
    refs = []
    for t in store.list_tables():
        if t == table_name:
            continue
        fks = store.meta(t).properties.get("foreign_keys") or {}
        for nm, fk in fks.items():
            if fk["ref_table"] == table_name:
                refs.append((t, nm, fk))
    return refs


def _check_restrict_references(
    store, table_name, deleted_rows, _chain: tuple = ()
) -> list[tuple]:
    """SQL Server ON DELETE referential actions for the explicit
    delete verbs. Per FOREIGN KEY referencing the deleted table, by
    the FK's declared ``on_delete``:

    - ``no_action`` (default): deleting parent rows a child still
      references fails fast — one keys-only semi join per FK, and only
      when such FKs exist.
    - ``cascade``: matching child rows are deleted FIRST (their own
      referential actions apply recursively, so cascade chains work;
      a chain that revisits a table raises — SQL Server rejects
      cascade cycles at DDL time, this engine at delete time), then
      the parent delete proceeds. Child-before-parent commit order
      keeps the FK invariant true at every commit boundary.
    - ``set_null``: matching child rows get their FK columns set to
      NULL (one pruned child rewrite; the FK columns are verified
      nullable when the action is declared).

    Child writes are checked in validation.enforce_foreign_keys;
    merge's not-matched-by-source delete clause is intentionally
    unguarded (its contract predates FKs) — merge_op emits a loud
    warning when its delete clause targets an FK-referenced table.

    Partial-failure contract (pinned by
    test_cascade_partial_failure_contract): cascade chains are NOT
    cross-table atomic — each child table commits its own version
    before the parent commits (child-before-parent order). A failure
    mid-chain leaves already-committed child deletes in place with
    the parent intact; the FK invariant (no child row references a
    missing parent) holds at EVERY commit boundary, which is the
    invariant this engine guarantees. SQL Server's cascade is atomic
    — a documented divergence (README / SCALE.md); recover a
    partial chain with time travel (restore to the pre-delete
    version) or by re-issuing the parent delete.

    Concurrency contract: each child's version is captured BEFORE
    its probe reads anything (manifest or data), so a child commit
    landing after the probe's read is detected — by the final
    revalidation pass below (which re-probes moved tables, so an
    unrelated commit never raises a false conflict) or by the parent
    commit's cross-table precondition
    (store._check_preconditions). cascade/set_null bump the child's
    version themselves, so those capture AFTER their own commit and
    pair it with a RE-PROBE of the post-action snapshot (a foreign
    row landing mid-action is caught by the re-probe; anything
    after the re-probe's capture trips the precondition). Residual
    window — documented, not closed: _check_preconditions is
    check-then-publish with no commit-time lock, so a child commit
    racing between the parent commit's precondition read and its
    manifest publish is still unguarded; the capture-before-probe
    ordering narrows the window to that single metadata read."""
    from ...errors import (
        SQLConcurrentWriteConflict,
        SQLForeignKeyViolation,
    )

    refs = fk_references(store, table_name)
    if not refs:
        return []
    # expected[t]: the snapshot every probe verdict on t is valid
    # against. Our OWN action commits advance it immediately; any
    # other movement means a foreign writer and the verdicts must be
    # re-established or the delete must fail cleanly.
    expected: dict = {}

    def _conflict(t):
        raise SQLConcurrentWriteConflict(
            f"table {t!r} (a referential-integrity dependency of the "
            f"delete from {table_name!r}) was written concurrently "
            "while its foreign keys were being checked — re-read and "
            "retry"
        )

    def _referencing(snap, fk, parent_keys, bounds) -> list:
        """``snap``'s candidate files when one of their rows references
        a deleted key via ``fk``, else [] — one keys-only semi join
        over ``existing_candidates``: the key bounds intersect the
        child manifest's per-file FK-column stats, then the deleted
        keys probe the candidates' bloom sidecars when the child
        indexes its FK columns, so probe cost is ∝ files that could
        reference the keys, not child-table size. The caller passes
        ``expected[t]``, so re-probes after an own action see the
        post-action files."""
        touched = existing_candidates(
            store, snap, bounds, parent_keys, fk["columns"]
        )
        if touched and first_row(
            store.read_files(snap, touched)
            .select(*fk["columns"])
            .na.drop(how="any")
            .join(parent_keys, fk["columns"], "left_semi")
        ) is not None:
            return touched
        return []

    # (t, fk, parent_keys, bounds) per FK, for the final revalidation
    probed: list[tuple] = []
    with cache.scope():
        deleted_rows = cache.keep(deleted_rows)
        for t, nm, fk in refs:
            action = fk.get("on_delete", "no_action")
            parent_keys = _parent_keys(deleted_rows, fk)
            bounds = _key_bounds(fk["columns"], parent_keys)
            probed.append((t, fk, parent_keys, bounds))
            # capture BEFORE the probe reads anything — a foreign
            # commit after this point is caught by the final
            # revalidation pass below or by the parent commit's
            # precondition, never silently absorbed
            if t not in expected:
                expected[t] = store.snapshot(t)
            touched = _referencing(expected[t], fk, parent_keys, bounds)
            if not touched:
                continue
            if action == "cascade":
                if t in _chain or t == table_name:
                    raise SQLForeignKeyViolation(
                        f"ON DELETE CASCADE cycle: deleting from "
                        f"{table_name!r} re-enters {t!r} via foreign key "
                        f"{nm!r}"
                    )
                delete_op(
                    store, t, parent_keys,
                    match_columns=list(fk["columns"]),
                    _chain=_chain + (table_name,),
                )
                # own commit(s): capture AFTER, then re-probe the
                # post-action snapshot — a foreign referencing row
                # that landed mid-action shows up here and fails
                # cleanly instead of being orphaned
                expected[t] = store.snapshot(t)
                if _referencing(expected[t], fk, parent_keys, bounds):
                    _conflict(t)
            elif action == "set_null":
                key_cols = set(fk["columns"])
                # file-pruned rewrite (the delete_where shape): one
                # slim scan — FK columns + _metadata.file_path — finds
                # the files holding a matching row; every other file
                # carries into the next manifest BY REFERENCE. The
                # scan itself runs over the stats-pruned candidates
                # the probe already computed, so discovery cost is
                # ∝ candidate files too.
                child_snap = expected[t]
                matched_files = matched_file_names(
                    store.read_files(child_snap, touched), parent_keys,
                    list(fk["columns"]),
                )
                keep_entries, touched = split_entries(
                    child_snap.entries, matched_files
                )
                child = store.read_files(child_snap, touched)
                # null the FK columns on matching rows; a left-semi
                # flag via join would lose non-matching rows, so flag
                # with a left join on the slim key set instead
                marked = child.join(
                    parent_keys.withColumn("__hit", F.lit(True)),
                    list(fk["columns"]),
                    "left",
                )
                new_child = marked.select(
                    *[
                        (
                            F.when(F.col("__hit"), F.lit(None)).otherwise(
                                F.col(f.name)
                            ).cast(f.dataType)
                            if f.name in key_cols
                            else F.col(f.name)
                        ).alias(f.name)
                        for f in child_snap.meta.spark_schema.fields
                    ]
                )
                # own commit: its snapshot + re-probe (see cascade)
                expected[t] = store.replace_files(
                    child_snap, new_child, keep_entries, op="fk_set_null",
                )
                if _referencing(expected[t], fk, parent_keys, bounds):
                    _conflict(t)
            else:
                raise SQLForeignKeyViolation(
                    f"cannot delete from {table_name!r}: rows are still "
                    f"referenced by foreign key {nm!r} on {t!r} "
                    "(ON DELETE NO ACTION)"
                )
        # final revalidation: a table whose version moved outside the
        # windows accounted above (a foreign commit after a probe —
        # including between two probes of the same table — or a
        # diamond cascade chain where the recursive delete_op
        # committed to a SIBLING table we probed earlier) gets every
        # FK re-probed at the current snapshot — clean re-probes
        # re-establish the verdicts at the new version (no false
        # conflicts on unrelated commits), a hit fails cleanly.
        # Metadata reads only on the no-race path.
        for t in expected:
            if store.meta(t).version == expected[t].version:
                continue
            expected[t] = store.snapshot(t)
            for t2, fk, parent_keys, bounds in probed:
                if t2 == t and _referencing(
                    expected[t], fk, parent_keys, bounds
                ):
                    _conflict(t)
    return [(t, snap.version) for t, snap in expected.items()]


def delete_op(
    store: TableStore,
    table_name: str,
    dataframe: DataFrame,
    match_columns: Optional[list[str]] = None,
    _chain: tuple = (),
) -> int:
    """Delete rows whose match-column values appear in ``dataframe``
    (keys only — extra columns are rejected by the schema check).
    Returns the number of rows deleted.

    Three pruning tiers keep the rewrite ∝ matching files at any
    table size: a single-column-PK match uses zero-scan manifest
    min/max stats (``split_by_key_ranges``); any other match key (a
    composite PK, or an ON DELETE CASCADE child delete matching on FK
    columns) first stats-NARROWS candidates by per-column bounds
    intersection (``split_by_key_ranges``), then content-discovers
    within them — one slim scan of the match columns plus
    ``_metadata.file_path`` finds the touched files and a no-match
    delete returns 0 without committing."""
    snap = store.snapshot(table_name)
    meta = snap.meta
    match = resolve_match_columns(meta, dataframe, match_columns)
    extra = [c for c in dataframe.columns if c not in match]
    if extra:
        raise ValueError(
            f"delete takes match-key columns only; unexpected {extra}"
        )
    if not snap.entries:
        # empty table: nothing can match — no rewrite, no commit (the
        # same no-match contract delete_where honors; committing here
        # published phantom 'delete' versions)
        return 0
    can_prune = match == list(meta.primary_key) and len(match) == 1
    # stage the distinct key set ONCE (guide §2.4): the pruning bounds
    # ride the staging checkpoint as observe() metrics, and every consumer
    # below — bloom/content discovery, the per-child referential-action
    # probes, the survivors anti-join, the self-FK check — reads the
    # staged LEAF instead of re-executing the caller's key pipeline
    # (+ its distinct shuffle) once per consumption.
    plan, finish = precheck_dataframe_deferred(
        dataframe.select(*match).distinct(),
        {c: meta.column_types[c] for c in match},
        bounds_col=match,
    )
    with cache.scope():
        keys, bounds = stage_validated_source(plan, finish)
        keep_entries, touched = discover_touched(
            store, snap, bounds, keys, match, stats_final=can_prune,
        )
        if not touched:
            return 0  # nothing matches: no rewrite, no commit
        target = store.read_files(snap, touched)

        # deleted rows live only in the touched files (pruned files are
        # provably match-free), so the referential-action probes read the
        # pruned target, never the full table
        child_deps = _check_restrict_references(
            store, table_name,
            target.join(keys, on=match, how="left_semi"),
            _chain=_chain,
        )
        survivors = target.join(keys, on=match, how="left_anti")
        # self-referencing FKs: fk_references skips the table itself (a
        # row being deleted may legitimately reference another deleted
        # row), so the check runs HERE against what REMAINS — pruned
        # survivors plus the carried files, stats-narrowed to the files
        # whose FK-column ranges intersect the deleted keys. Only
        # no_action self-FKs exist (cascade/set_null are rejected at
        # declaration, SQL Server error 1785).
        self_fks = {
            nm: fk
            for nm, fk in (meta.properties.get("foreign_keys") or {}).items()
            if fk["ref_table"] == table_name
        }
        if self_fks:
            from ...errors import SQLForeignKeyViolation

            deleted = target.join(keys, on=match, how="left_semi")
            for nm, fk in self_fks.items():
                parent_keys = _parent_keys(deleted, fk)
                kb = _key_bounds(fk["columns"], parent_keys)
                if not kb:  # no non-NULL deleted keys: nothing refers
                    continue
                probe = survivors.select(*fk["columns"])
                carried = existing_candidates(
                    store, snap, kb, parent_keys, fk["columns"],
                    carried=keep_entries,
                )
                if carried:
                    probe = probe.unionByName(
                        store.read_files(snap, carried)
                        .select(*fk["columns"])
                    )
                hit = first_row(
                    probe.na.drop(how="any")
                    .join(parent_keys, fk["columns"], "left_semi")
                )
                if hit is not None:
                    raise SQLForeignKeyViolation(
                        f"DELETE from {table_name!r} violates "
                        f"self-referencing FOREIGN KEY {nm!r}: surviving "
                        f"rows still reference deleted key(s) via "
                        f"{fk['columns']}"
                    )
        # CHECK constraints cannot be newly violated by row removal; no
        # enforcement pass is needed on a pure delete.
        new = store.replace_files(
            snap, survivors, keep_entries, op="delete",
            preconditions=child_deps,
        )
        # deleted count from this commit's manifest row totals — no
        # extra scan or job
        return _rows(snap.entries) - _rows(new.entries)


def delete_where_op(
    store: TableStore,
    table_name: str,
    where: str,
) -> int:
    """Predicate DELETE (the Delta ``DELETE WHERE`` analog, completing
    the keys-based form above): erase every row matching a
    restricted-grammar predicate. SQL semantics: rows delete only when
    the predicate is TRUE — NULL keeps the row.

    Scale shape — Delta's file-level pruning without a stats
    dependency: ONE slim scan (predicate columns + the
    ``_metadata.file_path`` hidden column, so Parquet reads only what
    the predicate needs) finds the files containing at least one
    matching row; every other file carries into the next manifest BY
    REFERENCE, and only the touched files are rewritten with the
    negated predicate. Cost ∝ matching files, not table size; a
    predicate on a stats-clustered column touches few files because
    matching rows are physically co-located (optimize/Z-ORDER).
    Returns the number of rows deleted; a no-match delete commits
    nothing.
    """
    from ...identifiers import compile_where

    snap = store.snapshot(table_name)
    entries = snap.entries
    if not entries:
        return 0
    cond_sql = compile_where(where)

    # bloom pre-narrowing: a file whose filter excludes an equality
    # conjunct's value cannot contain a matching row, so the discovery
    # scan (and everything downstream) reads only the surviving files
    # — point deletes on an indexed column skip the table
    scan_entries = store.bloom_prune(snap, entries, [
        (c, [v]) for c, v in store.typed_bloom_probes(snap, where)
    ])
    if not scan_entries:
        return 0  # provably no matching row anywhere
    target_all = store.read_files(
        snap, [e["path"] for e in scan_entries]
    )
    cond = F.expr(cond_sql)
    matched = file_names(
        target_all.filter(cond).select(F.col("_metadata.file_path").alias("f"))
    )
    if not matched:
        return 0
    keep_entries, touched = split_entries(entries, matched)

    child_deps = _check_restrict_references(
        store, table_name, target_all.filter(cond)
    )
    survivors = store.read_files(snap, touched).filter(
        ~F.coalesce(cond, F.lit(False))
    )
    new = store.replace_files(
        snap, survivors, keep_entries, op="delete_where",
        preconditions=child_deps,
    )
    return _rows(entries) - _rows(new.entries)


def truncate_op(store: TableStore, table_name: str) -> int:
    """TRUNCATE TABLE: remove every row as ONE metadata commit — a new
    version with an empty manifest, no data scanned or rewritten
    (DELETE without WHERE pays the content-discovery scan; TRUNCATE is
    O(1) regardless of table size, exactly SQL Server's split).
    Retained prior versions still serve time travel until vacuumed.
    Like SQL Server, a table referenced by a FOREIGN KEY cannot be
    truncated at all (even if the child is empty). Identity
    numbering continues rather than reseeding (the engine's identity
    ledger is monotonic by design; SQL Server reseeds — documented
    divergence). Returns the number of rows removed."""
    from ...errors import SQLForeignKeyViolation

    snap = store.snapshot(table_name)
    for t, nm, _fk in fk_references(store, table_name):
        raise SQLForeignKeyViolation(
            f"cannot truncate {table_name!r}: referenced by "
            f"foreign key {nm!r} on {t!r}"
        )
    store.overwrite(snap, None, op="truncate")
    return _rows(snap.entries)
