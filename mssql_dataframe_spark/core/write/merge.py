"""``write.merge``: full MERGE semantics (update + insert + delete).

Reference (mssql_dataframe/core/write/merge.py:14-248) compiles one
T-SQL MERGE:
- ``WHEN MATCHED UPDATE`` over non-match dataframe columns,
- ``WHEN NOT MATCHED [BY TARGET] INSERT`` over all dataframe columns,
- ``WHEN NOT MATCHED BY SOURCE THEN DELETE`` unless ``upsert=True``,
  optionally guarded by ``delete_requires``: one
  ``AND target.c IN (SELECT c FROM source)`` per listed column
  (merge.py:180-197) giving incremental / partition-scoped deletes,
- ``upsert=True`` with ``delete_requires`` -> ValueError (merge.py:84-86),
- ``_time_insert``/``_time_update`` stamped per clause
  (merge.py:166-178).

Spark realization: ONE distributed full-outer join between the current
snapshot and the source DataFrame produces the next snapshot
(copy-on-write) — the same plan shape Delta's ``MERGE INTO`` builds.
``delete_requires`` is lowered to broadcast semi-join flags against the
distinct source key values (the scale-safe version of the reference's
``IN (SELECT ...)`` — no literal blowup, no driver collect).
"""

from __future__ import annotations

import logging
import shutil

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ...errors import DataframeColumnDoesNotExist, SQLColumnDoesNotExist
from ...store import TableStore
from .. import generated
from ...validation import _bq, precheck_dataframe_deferred
from .. import datetimeoffset as dto
from .insert import assign_identity, ensure_time_columns
from .update import (
    constraint_probe,
    discover_touched,
    file_names,
    reject_missing_not_null,
    resolve_match_columns,
    split_entries,
    stage_validated_source,
)

logger = logging.getLogger("mssql_dataframe_spark")


def merge_op(
    store: TableStore,
    table_name: str,
    dataframe: DataFrame,
    match_columns: Optional[list[str]] = None,
    upsert: bool = False,
    delete_requires: Optional[list[str]] = None,
    include_metadata_timestamps: bool = False,
    auto_evolve: bool = False,
    not_matched_by_source_set: Optional[dict] = None,
    extra_properties: Optional[dict] = None,
) -> DataFrame:
    if isinstance(delete_requires, str):
        # mirror match_columns' bare-string convention — list('part')
        # would explode into characters and raise a baffling
        # per-character column error
        delete_requires = [delete_requires]
    delete_requires = list(delete_requires or [])
    if upsert and delete_requires:
        raise ValueError(
            "delete_requires cannot be combined with upsert=True "
            "(reference merge.py:84-86)"
        )
    nmbs_set = dict(not_matched_by_source_set or {})
    if nmbs_set and delete_requires:
        raise ValueError(
            "not_matched_by_source_set and delete_requires both claim "
            "the WHEN NOT MATCHED BY SOURCE clause — T-SQL allows one"
        )
    if not upsert and not nmbs_set:
        # the WHEN NOT MATCHED BY SOURCE THEN DELETE clause is active:
        # it deletes target rows WITHOUT running ON DELETE referential
        # actions (its contract predates FKs and mirrors T-SQL MERGE,
        # which also fails rather than cascades — documented
        # divergence). Make the bypass loud when the target is
        # FK-referenced; write.delete is the action-aware path.
        # Metadata reads only — no scan.
        from .delete import fk_references

        refs = fk_references(store, table_name)
        if refs:
            logger.warning(
                "merge into %s may delete rows via WHEN NOT MATCHED BY "
                "SOURCE, but the table is referenced by foreign key(s) "
                "%s; this clause bypasses ON DELETE referential actions "
                "(children are neither checked nor cascaded). Use "
                "write.delete for action-aware deletes.",
                table_name,
                ", ".join(f"{nm!r} on {t!r}" for t, nm, _ in refs),
            )

    meta = store.meta(table_name)
    if include_metadata_timestamps:
        # _time_* columns first: ensure_time_columns re-reads catalog
        # meta, so it must run BEFORE the (deferred, local-only)
        # auto_evolve schema extension below
        meta = ensure_time_columns(
            store, table_name, ["_time_insert", "_time_update"]
        )
    evolved_meta_changes = None
    if auto_evolve:
        # Delta mergeSchema/autoMerge analog: source columns the target
        # lacks become nullable columns via a METADATA-ONLY schema add
        # (the declared-schema read fills NULL in existing files — no
        # rewrite), typed by the best-effort inverse rule the
        # df-derived create path already uses. Computed/identity
        # columns can't arrive this way: they aren't in any source.
        # The evolution is computed LOCALLY here and written to the
        # catalog only after precheck/constraint/FK validation passes —
        # a merge that fails validation must not leave the new columns
        # behind (a failed statement has no side effects).
        from ...conversion_rules import spark_type_to_spec

        new_cols = [
            c for c in dataframe.columns
            if c not in meta.spark_schema.fieldNames()
        ]
        if new_cols:
            import dataclasses

            schema = meta.spark_schema
            types = dict(meta.column_types)
            for c in new_cols:
                spec = spark_type_to_spec(dataframe.schema[c].dataType)
                schema = schema.add(c, spec.spark_type, True)
                types[c] = spec.render()
            evolved_meta_changes = {
                "spark_schema_json": schema.jsonValue(),
                "column_types": types,
            }
            meta = dataclasses.replace(meta, **evolved_meta_changes)
    generated.reject_explicit_writes(
        dataframe.columns, meta.properties.get("computed_columns") or {}
    )
    match = resolve_match_columns(meta, dataframe, match_columns)
    for c in delete_requires:
        if c not in dataframe.columns:
            raise SQLColumnDoesNotExist(
                f"delete_requires column {c!r} not in dataframe"
            )

    # file pruning (Delta MERGE INTO shape): rewrite ONLY the files
    # the merge can touch; untouched files carry over by reference.
    # Three tiers: (1) single-column-PK match -> zero-scan manifest
    # min/max split, verdict stands; (2) structurally prunable
    # composite/non-PK match -> per-column stats narrowing + one slim
    # content-discovery scan; (3) delete_requires merges -> the delete
    # clause is BOUNDED by source membership, so a dedicated content
    # probe (match + delete_requires columns) finds the reloaded
    # partition. Only a merge with an UNBOUNDED delete clause
    # (non-upsert, no delete_requires, no nmbs UPDATE) keeps the full
    # rewrite. At 100 TB this turns merge cost from O(table) into
    # O(touched). structurally prunable: no clause can touch a target
    # row whose match key is absent from the source
    structurally_prunable = upsert and not delete_requires and not nmbs_set
    pk_match = match == list(meta.primary_key)
    can_prune = structurally_prunable and pk_match and len(match) == 1

    if nmbs_set:
        # WHEN NOT MATCHED BY SOURCE THEN UPDATE SET ... (T-SQL MERGE's
        # third clause — the stale-flagging form). Expressions use the
        # computed-column whitelist grammar over TARGET columns.
        from ..generated import validate_computed_expr

        computed = meta.properties.get("computed_columns") or {}
        for c, expr in nmbs_set.items():
            if c not in meta.spark_schema.fieldNames():
                raise SQLColumnDoesNotExist(c)
            if c in match or c == meta.identity_column or c in computed:
                raise ValueError(
                    f"not_matched_by_source_set cannot set {c!r} "
                    "(key/identity/computed column)"
                )
            validate_computed_expr(str(expr), meta.spark_schema.fieldNames())

    unknown = [c for c in dataframe.columns if c not in meta.column_types]
    if unknown:
        raise DataframeColumnDoesNotExist(
            f"source column(s) {unknown} are not columns of "
            f"{table_name!r}; pass auto_evolve=True to add them"
        )

    # stage the source ONCE (guide §2.4): validation aggregates — the
    # NOT NULL surface and (when structurally prunable) the pruning
    # bounds — ride the staging write as observe() metrics, and every
    # downstream consumer (discovery, identity assignment, the
    # full-outer rewrite) reads the staged LEAF, so the source plan
    # executes exactly once per merge. The unique_key duplicate check
    # (T-SQL MERGE's "cannot UPDATE the same row twice") is one
    # keys-only columnar job over the staged files.
    dataframe = dto.derive(dataframe, meta)
    plan, finish = precheck_dataframe_deferred(
        dataframe,
        {c: meta.column_types[c] for c in dataframe.columns},
        not_nullable=[
            c for c in (*meta.not_nullable, *meta.primary_key)
            if c != meta.identity_column and c in dataframe.columns
        ],
        bounds_col=match if structurally_prunable else None,
    )
    src, bounds, src_stage = stage_validated_source(
        store, table_name, plan, finish, unique_key=match
    )
    try:
        update_cols = [c for c in src.columns if c not in match]
        # distinct source value sets per delete_requires column — shared by
        # the file-discovery probe below and the keep-rule flags later
        dr_val_sets = {
            c: (
                src.select(F.col(c).alias(f"__drv_{c}"))
                .distinct()
                .withColumn(f"__in_{c}", F.lit(True))
            )
            for c in delete_requires
        }
        if structurally_prunable:
            # unmatched SOURCE rows insert via the rewritten portion
            # regardless, so no touched file = a pure insert that
            # carries every file
            keep_entries, touched = discover_touched(
                store, table_name, meta, bounds, src, match,
                stats_final=can_prune,
            )
        else:
            entries = store.manifest(table_name, meta.version)
            matched_files = {e["path"] for e in entries}
            if delete_requires and entries:
                matched_files = _delete_requires_files(
                    store, table_name, entries, src, match,
                    delete_requires, dr_val_sets,
                )
            keep_entries, touched = split_entries(entries, matched_files)
        target = store.read_files(table_name, touched)
        if evolved_meta_changes:
            # catalog still has the pre-evolution schema (written only on
            # success below) — surface the new columns as NULL on the
            # target read, exactly what the declared-schema read will do
            # once the evolution commits
            for f in meta.spark_schema.fields:
                if f.name not in target.columns:
                    target = target.withColumn(f.name, F.lit(None).cast(f.dataType))

        # delete_requires flags: membership join against DISTINCT source
        # values per column (scale-safe lowering of `IN (SELECT c FROM
        # src)` — no literal blowup, no driver collect). No broadcast
        # hint: AQE broadcasts the value set when its runtime size allows;
        # forcing it would OOM the driver on a high-cardinality column.
        dr_flags = []
        for c in delete_requires:
            vals = dr_val_sets[c]
            target = target.join(
                vals, target[c] == vals[f"__drv_{c}"], "left"
            ).drop(f"__drv_{c}")
            dr_flags.append(f"__in_{c}")

        # identity assignment for inserted rows when the identity column is
        # not supplied by the dataframe
        identity = meta.identity_column
        pre_assigned_identity = False
        identity_meta = None
        if identity and identity not in src.columns:
            # keys absent from the pruned target are absent from the whole
            # table (pruned-away files are provably match-free), so the
            # new-row detection anti-joins the pruned scan, not a full read
            new_rows = src.join(
                target.select(*match), on=match, how="left_anti"
            )
            dtype = meta.spark_schema[identity].dataType
            # assign_identity's own per-partition count job doubles as the
            # emptiness check (next_id advances iff rows exist) — no
            # separate count() materializing the anti-join twice
            new_rows, next_id = assign_identity(
                new_rows, identity, meta.identity_next, dtype
            )
            if next_id != meta.identity_next:
                # counter publication rides the data commit (extra_meta
                # below) — a pre-commit update_meta is last-writer-wins
                # under concurrency and an OCC loser could roll back the
                # winner's advanced counter
                identity_meta = {"identity_next": next_id}
                # source rows whose match keys already exist in the target =
                # src MINUS the new rows (anti-join; a semi-join here would
                # re-select the new rows, dropping matched updates and
                # double-inserting every new row)
                existing = src.join(new_rows.select(*match), on=match, how="left_anti")
                src = existing.withColumn(
                    identity, F.lit(None).cast(dtype)
                ).unionByName(new_rows)
            else:
                src = src.withColumn(identity, F.lit(None).cast(dtype))
            pre_assigned_identity = True

        # SQL-text projections/predicates from here on (guide §1.2): the
        # stacked Column-operator form paid one py4j round trip per
        # operator — several hundred per merge; the text form pays one
        # per expression with an identical parsed tree.
        renamed = src.selectExpr(
            *[f"{_bq(c)} AS {_bq(f'__s_{c}')}" for c in src.columns],
            "true AS `__s`",
        )
        tgt = target.selectExpr("*", "true AS `__t`")

        cond = [tgt[k] == renamed[f"__s_{k}"] for k in match]
        joined = tgt.join(renamed, cond, "full_outer")

        is_matched = "(`__t` IS NOT NULL AND `__s` IS NOT NULL)"
        is_insert = "(`__t` IS NULL)"
        is_tgt_only = "(`__s` IS NULL)"

        # keep rule for target-only rows (the delete clause); an UPDATE
        # clause for not-matched-by-source keeps the row by definition
        if upsert or nmbs_set:
            keep_tgt_only = "true"
        elif dr_flags:
            # delete only when EVERY delete_requires membership holds
            all_in = " AND ".join(
                f"{_bq(flag)} IS NOT NULL" for flag in dr_flags
            )
            keep_tgt_only = f"(NOT ({all_in}))"
        else:
            keep_tgt_only = "false"

        joined = joined.filter(
            f"{is_matched} OR {is_insert} OR ({is_tgt_only} AND {keep_tgt_only})"
        )

        # inserted rows take tgt[c] (= NULL on the null-extended side) for
        # every column absent from the source. Identity columns are
        # engine-filled. _time_insert is engine-stamped on every inserted
        # row when metadata timestamps are on, so it is exempt too;
        # _time_update is NOT: inserts store NULL there (only matched rows
        # get stamped), so a NOT NULL _time_update still rejects — that
        # rejection is genuine, not false.
        reject_missing_not_null(
            meta, src.columns,
            {meta.identity_column,
             *(["_time_insert"] if include_metadata_timestamps else [])},
            joined, is_insert, "MERGE cannot insert rows", "inserted rows",
        )

        # WHEN NOT MATCHED BY SOURCE ... SET expressions are
        # grammar-whitelisted above, but the grammar cannot see the
        # RESULT's nullability — `SET c = NULL` (or any expression that
        # evaluates NULL on some row) against a NOT NULL / PK column must
        # raise like SQL Server's error 515, not commit unchecked. One
        # limit(1) probe over the target-only rows, and only on the rare
        # path where a constrained column is being set.
        nmbs_nn = [
            c
            for c in nmbs_set
            if c in {*meta.not_nullable, *meta.primary_key}
        ]
        if nmbs_nn:
            null_hit = " OR ".join(
                f"(({nmbs_set[c]}) IS NULL)" for c in nmbs_nn
            )
            if joined.filter(
                f"{is_tgt_only} AND ({null_hit})"
            ).limit(1).count():
                from ...errors import DataframeColumnInvalidValue

                raise DataframeColumnInvalidValue(
                    f"MERGE cannot update not-matched-by-source rows: "
                    f"not_matched_by_source_set expression(s) for NOT NULL "
                    f"/ PRIMARY KEY column(s) {nmbs_nn} evaluate to NULL "
                    "on at least one target row"
                )

        # current_timestamp() is evaluated once per query, so its multiple
        # textual occurrences below all carry the same instant — exactly
        # like the shared Column object did
        now = "CAST(current_timestamp() AS TIMESTAMP_NTZ)"
        out_cols = []
        for f in meta.spark_schema.fields:
            c = f.name
            q, qs = _bq(c), _bq(f"__s_{c}")
            if c in match:
                col = f"coalesce({q}, {qs})"
            elif identity and c == identity and pre_assigned_identity:
                col = f"coalesce({q}, {qs})"
            elif c in update_cols:
                col = (
                    f"CASE WHEN {is_matched} OR {is_insert} THEN {qs} "
                    f"ELSE {q} END"
                )
            elif c == "_time_insert" and include_metadata_timestamps:
                col = f"CASE WHEN {is_insert} THEN {now} ELSE {q} END"
            elif c == "_time_update" and include_metadata_timestamps:
                col = f"CASE WHEN {is_matched} THEN {now} ELSE {q} END"
            else:
                col = q
            if c in nmbs_set:
                col = (
                    f"CASE WHEN {is_tgt_only} THEN ({nmbs_set[c]}) "
                    f"ELSE ({col}) END"
                )
            out_cols.append(
                f"CAST(({col}) AS {f.dataType.simpleString()}) AS {q}"
            )

        result = joined.selectExpr(*out_cols)
        result = generated.materialize(result, meta)
        # SQL Server still enforces the PK in three shapes; the common
        # match==PK case never enters (PK columns are then match columns,
        # not update columns, and a matched key can only update its own
        # row)
        pk = set(meta.primary_key)
        pk_at_risk = (
            # a merge matching on non-PK columns can rewrite PK columns
            bool(set(update_cols) & pk)
            # match strictly wider than the PK: a source row whose full
            # match tuple is absent INSERTS even when its PK value
            # already exists — without this, two rows with the same PK
            # commit silently
            or pk < set(match)
            # a NMBS SET expression can rewrite a non-match PK column on
            # every target-only row
            or bool(set(nmbs_set) & pk)
        )

        # schema evolution (if any) rides the SAME meta write that moves
        # the version pointer, inside the commit's exclusive claim — an
        # OCC loss discards the evolved columns with the staged files
        # instead of leaving phantom catalog schema behind the winner
        evolved_schema = meta.spark_schema if evolved_meta_changes else None
        evolved_types = meta.column_types if evolved_meta_changes else None
        # caller bookkeeping (e.g. a foreachBatch sink's applied-batch-id
        # ledger) publishes atomically with the merge commit — the
        # exactly-once pattern append documents. With auto-evolve, a
        # constraint violation discards the deferred schema publication
        # with the staged files.
        store.replace_files(
            table_name, result, keep_entries, op="merge",
            expected_version=meta.version,
            new_schema=evolved_schema, new_column_types=evolved_types,
            extra_meta=identity_meta, extra_properties=extra_properties,
            pre_commit_check=constraint_probe(
                store, table_name, meta, carried=keep_entries,
                pk_at_risk=pk_at_risk,
            ),
        )
    finally:
        shutil.rmtree(src_stage, ignore_errors=True)
    return plan


def _delete_requires_files(store, table_name, entries, src, match,
                           delete_requires, dr_val_sets) -> set:
    """Content pruning for the delete_requires shape (the incremental /
    partition-scoped reload): the delete clause is BOUNDED — a
    target-only row deletes only when EVERY delete_requires column's
    value appears in the source. A file with no source-matched row AND
    no row whose delete_requires values are all present is therefore
    bit-identical and carries by reference. One slim scan (match +
    delete_requires columns + _metadata.file_path) of the snapshot's
    ``entries`` returns the touched file names — this turns the
    reference's partition-scoped-delete merge from a full rewrite into
    cost ∝ the reloaded partition."""
    probe_src = store.read_files(table_name, [e["path"] for e in entries])
    if not all(c in probe_src.columns for c in match):
        # auto-evolved match column: no stored row can match (NULL never
        # equals) and a membership over an absent (all-NULL) column
        # never holds, so nothing is deletable either — every file
        # carries
        return set()
    # delete_requires columns absent from the stored schema (just
    # auto-evolved) read NULL everywhere: no row can satisfy ALL
    # memberships, so only source matches touch
    avail_dr = [c for c in delete_requires if c in probe_src.columns]
    deletable = len(avail_dr) == len(delete_requires)
    extra_dr = [c for c in avail_dr if c not in match]
    probe = probe_src.select(
        *match, *extra_dr, F.col("_metadata.file_path").alias("f")
    )
    keys = src.select(*match).distinct().withColumn("__m", F.lit(True))
    probe = probe.join(keys, on=match, how="left")
    all_in = F.lit(True) if deletable else F.lit(False)
    for c in avail_dr if deletable else []:
        vals = dr_val_sets[c]
        # no broadcast hint: the distinct value set is usually tiny (AQE
        # broadcasts it from its runtime size), but a high-cardinality
        # delete_requires column must not be FORCED driver-side — an
        # unbounded hint OOMs there, while a shuffled hash join merely
        # costs a shuffle
        probe = probe.join(
            vals, probe[c] == vals[f"__drv_{c}"], "left"
        ).drop(f"__drv_{c}")
        all_in = all_in & F.col(f"__in_{c}").isNotNull()
    return file_names(probe.filter(F.col("__m").isNotNull() | all_in))
