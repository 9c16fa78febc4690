"""``write.merge_scd2``: slowly-changing-dimension (type 2) merge.

Beyond the reference surface (its MERGE at
mssql_dataframe/core/write/merge.py:14-248 overwrites matched rows in
place, losing history); SCD2 is the standard warehouse pattern for
keeping it: matched-and-changed rows are CLOSED (``valid_to`` stamped,
``is_current`` false) and a fresh current version is inserted;
unchanged and historical rows pass through untouched; unseen keys
insert as new current rows. Keys absent from the source are left open
(an SCD2 merge is not a delete).

Scale shape: ONE full-outer join between the current snapshot and the
source, keyed on the match columns (history rows fail the
``is_current`` part of the join condition, so they ride through as
target-only rows in the same shuffle) — then a per-row variant array +
``explode`` fans a changed row into (closed, new-current) WITHOUT a
second scan or a union of two join branches. At 100 TB the cost is the
one shuffle any MERGE pays; nothing else.
"""

from __future__ import annotations

from functools import reduce
from operator import and_
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ... import cache
from ...errors import DataframeColumnDoesNotExist, SQLColumnDoesNotExist
from ...store import TableStore
from .. import datetimeoffset as dto
from .. import generated
from ...validation import _bq, _sq, precheck_dataframe_deferred
from .update import (
    constraint_probe,
    discover_touched,
    reject_missing_not_null,
    resolve_match_columns,
    stage_validated_source,
)


def merge_scd2(
    store: TableStore,
    table_name: str,
    dataframe: DataFrame,
    match_columns: Optional[list[str]] = None,
    valid_from_col: str = "_valid_from",
    valid_to_col: str = "_valid_to",
    current_col: str = "_is_current",
    as_of: Optional[Column] = None,
) -> DataFrame:
    """Merge ``dataframe`` into ``table_name`` with type-2 history.

    ``dataframe`` carries business columns only (match keys + tracked
    attributes) — the three SCD bookkeeping columns belong to the
    table. ``as_of`` is the effective timestamp of this load (default:
    ``current_timestamp``); pass a literal for reproducible loads.
    """
    snap = store.snapshot(table_name)
    meta = snap.meta
    generated.reject_explicit_writes(
        dataframe.columns, meta.properties.get("computed_columns") or {}
    )
    scd_cols = (valid_from_col, valid_to_col, current_col)
    for c in scd_cols:
        if c not in meta.column_types:
            raise SQLColumnDoesNotExist(
                f"SCD2 merge requires column {c!r} on table {table_name!r}"
            )
        if c in dataframe.columns:
            raise ValueError(
                f"SCD2 bookkeeping column {c!r} must not appear in the "
                "source dataframe — it is table-managed"
            )
    unknown = [c for c in dataframe.columns if c not in meta.column_types]
    if unknown:
        # the engine's error class, not a raw KeyError from the
        # column_types lookup below (merge_op guards the same way)
        raise DataframeColumnDoesNotExist(
            f"source column(s) {unknown} are not columns of "
            f"{table_name!r}"
        )
    # datetimeoffset companions derive BEFORE match/tracked resolution
    # so the original ±HH:MM offsets travel with the new current rows
    # (insert/update/merge all derive; without this the companions
    # were written NULL and render() silently rebased to +00:00)
    dataframe = dto.derive(dataframe, meta)
    match = resolve_match_columns(meta, dataframe, match_columns)
    tracked = [c for c in dataframe.columns if c not in match]
    if not tracked:
        raise ValueError("SCD2 merge needs at least one tracked attribute")

    # stage the source ONCE (guide §2.4): the per-match-column pruning
    # bounds ride the staging checkpoint as observe() metrics, and the
    # discovery scan + the full-outer rewrite read the staged LEAF —
    # the source plan executes exactly once per SCD2 merge. The
    # unique_key duplicate check is one bounded take over the leaf.
    plan, finish = precheck_dataframe_deferred(
        dataframe,
        {c: meta.column_types[c] for c in dataframe.columns},
        bounds_col=match,
    )
    with cache.scope():
        src, bounds = stage_validated_source(plan, finish, unique_key=match)
        if as_of is None:
            as_of = F.current_timestamp()
        ts_type = meta.spark_schema[valid_from_col].dataType
        as_of = as_of.cast(ts_type)

        # SQL-text projections/predicates below (guide §1.2): one py4j
        # round trip per expression instead of one per Column operator;
        # the parsed trees are identical
        renamed = src.selectExpr(
            *[f"{_bq(c)} AS {_bq(f'__s_{c}')}" for c in src.columns],
            "true AS `__s`",
        )

        # file pruning: SCD2 never deletes, and it only mutates rows whose
        # business key appears in the source — files whose stats ranges
        # (declare ``stats_column`` / ``stats_columns`` = business key on
        # history tables) miss the source carry over by manifest
        # reference; composite business keys prune by per-column
        # intersection (see store.split_by_key_ranges), and a split that
        # carries a file is the verdict. Otherwise the content scan keeps
        # only CURRENT rows: SCD2 closes only current rows whose business
        # key appears in the source (historical rows never change, and
        # brand-new keys append), so a file with no current matching row
        # is bit-identical.
        # Sound because each key has at most one current row: if it
        # exists, its file is discovered and the close happens there;
        # pruned files hold only non-matching or historical rows.
        keep_entries, touched = discover_touched(
            store, snap, bounds, src, match,
            pre_filter=f"{_bq(current_col)} = true",
        )
        target = store.read_files(snap, touched)
        tgt = target.selectExpr("*", "true AS `__t`")

        cond = reduce(
            and_, [tgt[k] == renamed[f"__s_{k}"] for k in match]
        ) & (tgt[current_col] == F.lit(True))
        # the caller's ``as_of`` may be an arbitrary Column — surface it
        # as ONE helper column so every SQL-text reference below shares
        # the same per-row value (identical to reusing the Column object)
        j = tgt.join(renamed, cond, "full_outer").withColumn("__asof", as_of)

        is_matched = "(`__t` IS NOT NULL AND `__s` IS NOT NULL)"
        is_src_only = "(`__t` IS NULL)"
        changed = "((" + " AND ".join(
            f"({_bq(c)} <=> {_bq(f'__s_{c}')})" for c in tracked
        ) + ") = false)"

        # new-current rows take NULL for every schema column absent from
        # the source (``row_struct("new")`` below), so every row that
        # synthesizes a new version (src-only insert OR matched-and-changed
        # replacement) counts. The three SCD bookkeeping columns are
        # engine-stamped, so they are exempt; an identity column is NOT —
        # merge_scd2 does not assign identity values, so its absence from
        # the source would silently store NULL keys.
        reject_missing_not_null(
            meta, src.columns, scd_cols, j,
            f"{is_src_only} OR ({is_matched} AND {changed})",
            "SCD2 merge cannot write new version rows", "new current rows",
        )

        def row_struct(kind: str) -> str:
            fields = []
            for f in meta.spark_schema.fields:
                c = f.name
                if kind == "new":
                    if c == valid_from_col:
                        col = "`__asof`"
                    elif c == valid_to_col:
                        col = "NULL"
                    elif c == current_col:
                        col = "true"
                    elif c in src.columns:
                        col = _bq(f"__s_{c}")
                    else:
                        col = "NULL"
                else:  # pass-through target row, optionally closed
                    if kind == "closed" and c == valid_to_col:
                        col = "`__asof`"
                    elif kind == "closed" and c == current_col:
                        col = "false"
                    else:
                        col = _bq(c)
                fields.append(
                    f"{_sq(c)}, CAST(({col}) AS {f.dataType.simpleString()})"
                )
            return "named_struct(" + ", ".join(fields) + ")"

        variants = (
            f"CASE WHEN {is_src_only} THEN array({row_struct('new')}) "
            f"WHEN {is_matched} AND {changed} "
            f"THEN array({row_struct('closed')}, {row_struct('new')}) "
            f"ELSE array({row_struct('keep')}) END"
        )
        out = j.selectExpr(f"explode({variants}) AS `__r`").selectExpr(
            *[
                f"`__r`.{_bq(f.name)} AS {_bq(f.name)}"
                for f in meta.spark_schema.fields
            ]
        )
        out = generated.materialize(out, meta)
        # PK uniqueness at risk (same shapes as write.merge): a business
        # key STRICTLY WIDER than the PK inserts a new current row even
        # when its PK value already exists; a tracked (rewritten) PK
        # column takes arbitrary source values; a PK containing
        # ``valid_from`` (the canonical SCD2 key) collides when ``as_of``
        # equals an existing version's start. The common PK==match case
        # never enters: SCD2 history itself duplicates the business key,
        # so such a PK is unenforceable by construction and merge_scd2
        # keeps the reference's in-place-merge behavior there.
        # Recorded UNIQUE constraints are enforced like every other write
        # verb (they exist so FK references against non-PK parent columns
        # stay unambiguous): an SCD2 rewrite that would leave a closed row
        # and a new current row sharing a constrained value — or take a
        # value another key holds — raises, exactly as the physical
        # constraint would in SQL Server. History tables that WANT
        # duplicate-across-versions attributes simply don't declare the
        # constraint.
        pk = set(meta.primary_key)
        store.replace_files(
            snap, out, keep_entries, op="merge_scd2",
            pre_commit_check=constraint_probe(
                store, snap, carried=keep_entries,
                pk_at_risk=(
                    pk < set(match) or bool(pk & set(tracked))
                    or valid_from_col in pk
                ),
            ),
        )
    return plan
