"""Incremental materialized-view maintenance from a CDC frame.

Beyond the reference surface (it has no history or views at all; its
MERGE at mssql_dataframe/core/write/merge.py:14-248 is the mutation
primitive this builds on). The warehouse pattern: instead of
recomputing ``SELECT key, count(*), sum(x) GROUP BY key`` over the full
fact table after every load, convert the load's change feed
(``read.table_changes``) into per-key aggregate DELTAS and apply them
to the stored aggregate with one join — cost proportional to the
CHANGED keys, not the table. At 100 TB fact scale with a
few-million-row daily load, that's the difference between a full-table
shuffle and a broadcast-sized merge.

Correct for the distributive aggregates (count, sum — and avg as
sum/count) via :func:`agg_delta`/:func:`apply_agg_delta`. MIN/MAX are
not delta-maintainable under deletes (the dropped row may have held
the extremum), so :func:`apply_minmax_delta` maintains them with the
textbook PARTIAL-RESCAN design: inserts tighten the stored extremum
for free; only keys where a deleted value TIES the stored extremum
("endangered" keys) are re-scanned, and the rescan is a key-semi-join
against the base table — cost ∝ endangered keys' rows, never the
table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _keycond(keys, left: DataFrame, right_prefix: str, right: DataFrame):
    """``left[k] <=> right[right_prefix + k]`` for every key, ANDed:
    null-safe, because a NULL group key is a real MV group."""
    cond = None
    for k in keys:
        e = left[k].eqNullSafe(right[f"{right_prefix}{k}"])
        cond = e if cond is None else (cond & e)
    return cond


def agg_delta(
    changes: DataFrame,
    keys: list[str],
    sum_cols: dict[str, str],
    count_col: str = "n_rows",
) -> DataFrame:
    """Per-key aggregate deltas from a ``table_changes`` frame.

    ``sum_cols`` maps each maintained sum's OUTPUT column to the fact
    column it sums (``{"sum_price": "o_totalprice"}`` reads the CDC
    frame's ``old_o_totalprice``/``new_o_totalprice`` pair).

    An update is modeled as delete(old row) + insert(new row), so a
    row whose GROUP KEY changed contributes -1/-old to its old group
    and +1/+new to its new one; a same-group update nets count 0 and
    sum (new - old). Group keys may be the table's match columns
    (unprefixed in the CDC frame) or tracked attributes (prefixed).

    One union + one hash aggregate over the change feed — map-side
    combinable, and the change feed is small by construction.

    Plans are built as SQL text (guide §1.2): this operator re-plans
    once per micro-batch inside streaming sinks, so the per-operator
    py4j round trips of the Column form were a per-batch driver tax.
    """
    from ..validation import _bq

    def side(prefix: str) -> DataFrame:
        sign = 1 if prefix == "new" else -1
        skip = "insert" if prefix == "old" else "delete"
        part = changes.filter(f"`change_type` != '{skip}'")
        cols = []
        for k in keys:
            src = f"{prefix}_{k}" if f"{prefix}_{k}" in changes.columns else k
            cols.append(f"{_bq(src)} AS {_bq(k)}")
        cols.append(f"{sign} AS `__cnt`")
        for out_name, src_col in sum_cols.items():
            # zero literal in the fact column's own type: with DECIMAL
            # fact columns the delta arithmetic stays exact (bit-equal
            # to a full recompute); DOUBLE facts would be subject to
            # summation-order drift — prefer decimal-cast facts.
            src = f"{prefix}_{src_col}"
            zero = (
                f"CAST(0 AS {changes.schema[src].dataType.simpleString()})"
            )
            val = f"coalesce({_bq(src)}, {zero})"
            if sign != 1:
                val = f"(- {val})"
            cols.append(f"{val} AS {_bq(f'__v_{out_name}')}")
        return part.selectExpr(*cols)

    contrib = side("old").unionByName(side("new"))
    aggs = [
        F.expr(f"CAST(sum(`__cnt`) AS BIGINT) AS {_bq(f'd_{count_col}')}")
    ]
    for out_name in sum_cols:
        aggs.append(
            F.expr(
                f"sum({_bq(f'__v_{out_name}')}) AS {_bq(f'd_{out_name}')}"
            )
        )
    return contrib.groupBy(*keys).agg(*aggs)


def apply_agg_delta(
    mv: DataFrame,
    delta: DataFrame,
    keys: list[str],
    sum_cols: list[str],
    count_col: str = "n_rows",
    delta_pinned: bool = False,
) -> DataFrame:
    """Apply ``agg_delta`` output to the stored aggregate.

    A full-outer join would be the obvious shape, but Spark cannot
    broadcast a full-outer join — both sides would shuffle, i.e. the
    WHOLE MV repartitions for a handful of changed keys. Instead:

    - existing keys: ``mv LEFT JOIN broadcast(delta)`` — the MV side
      never moves; rows whose maintained count reaches 0 drop out;
    - brand-new keys: ``delta ANTI JOIN mv[keys]`` — the anti join
      shuffles only the delta and the MV's KEY COLUMNS (a narrow
      projection the scan prunes to), not the MV's payload;
    - union the two.

    Cost at 100 TB: one broadcast of the (small) delta + one shuffle
    of (delta + key-projection); the wide MV is scanned once in place.
    """
    from ..validation import _bq

    # the delta plan feeds BOTH the left join and the anti join below;
    # a small frame by construction, so pin it rather than re-running
    # the CDC union + hash aggregate twice. Callers that already hold
    # a pinned delta (e.g. a streaming sink that also feeds it to
    # other joins) pass delta_pinned=True to skip the redundant
    # re-materialization job.
    if not delta_pinned:
        delta = delta.localCheckpoint(eager=True)
    d = delta.selectExpr(
        *[f"{_bq(k)} AS {_bq(f'__d_{k}')}" for k in keys],
        _bq(f"d_{count_col}"),
        *[_bq(f"d_{c}") for c in sum_cols],
    )
    # NULL-SAFE key equality: a nullable group key's NULL group is a
    # real group in the MV; plain == would silently drop its deletes
    # (stale count forever) and duplicate it on inserts. The two
    # sides' names are disjoint, so a by-name expression resolves
    # unambiguously.
    cond = F.expr(
        " AND ".join(f"{_bq(k)} <=> {_bq(f'__d_{k}')}" for k in keys)
    )
    j = mv.join(F.broadcast(d), cond, "left")
    qn = _bq(count_col)
    qdn = _bq(f"d_{count_col}")
    out_cols = [_bq(k) for k in keys] + [
        f"CAST((coalesce({qn}, 0) + coalesce({qdn}, 0)) AS BIGINT) AS {qn}"
    ]
    mv_types = {c: mv.schema[c].dataType for c in sum_cols}
    for c in sum_cols:
        zero_mv = f"CAST(0 AS {mv_types[c].simpleString()})"
        zero_d = (
            f"CAST(0 AS {delta.schema[f'd_{c}'].dataType.simpleString()})"
        )
        out_cols.append(
            f"CAST((coalesce({_bq(c)}, {zero_mv}) + "
            f"coalesce({_bq(f'd_{c}')}, {zero_d})) AS "
            f"{mv_types[c].simpleString()}) AS {_bq(c)}"
        )
    existing = j.selectExpr(*out_cols).filter(f"{qn} > 0")
    mvk = mv.selectExpr(*[f"{_bq(k)} AS {_bq(f'__m_{k}')}" for k in keys])
    # same null-safe semantics as above: a delta to an EXISTING
    # NULL-key group must not be classified as a fresh group
    anti_cond = F.expr(
        " AND ".join(f"{_bq(k)} <=> {_bq(f'__m_{k}')}" for k in keys)
    )
    fresh = (
        delta.join(mvk, anti_cond, "left_anti")
        .selectExpr(
            *[_bq(k) for k in keys],
            f"CAST({qdn} AS BIGINT) AS {qn}",
            *[
                f"CAST({_bq(f'd_{c}')} AS "
                f"{mv_types[c].simpleString()}) AS {_bq(c)}"
                for c in sum_cols
            ],
        )
        .filter(f"{qn} > 0")
    )
    return existing.unionByName(fresh)


def apply_minmax_delta(
    mv: DataFrame,
    changes: DataFrame,
    base: DataFrame,
    keys: list[str],
    value_col: str,
    count_col: str = "n_rows",
    min_col: str = "min_val",
    max_col: str = "max_val",
) -> DataFrame:
    """Maintain a per-key (count, min, max) aggregate from a
    ``table_changes`` frame with PARTIAL rescans.

    MIN/MAX are not distributive under deletes: if the dropped row
    held the group's extremum, the new extremum is unknowable from the
    change feed. The standard warehouse answer is not a full refresh —
    it is to split the keys three ways:

    - **fresh keys** (in the delta, not the MV): built entirely from
      the inserted values — no base access;
    - **safe keys** (existing, and no deleted value ties the stored
      extremum): inserts can only TIGHTEN min/max, so
      ``least(stored, ins_min)`` / ``greatest(stored, ins_max)`` is
      exact — no base access;
    - **endangered keys** (a delete/update-old value equals — or,
      defensively, crosses — the stored extremum): rescanned EXACTLY,
      via one key-semi-join against the post-change ``base``. Keys are
      few by construction (a delete endangers a key only when it hits
      the current extremum), so the rescan reads a sliver of the
      table; with cluster-on-write layouts the semi join also prunes
      files.

    ``base`` must be the post-change snapshot of the fact rows
    (``read.table(...)`` after the load), projected to ``keys`` +
    ``value_col`` by this function — column pruning keeps the rescan
    scan narrow. CDC key columns may be unprefixed (match columns) or
    ``old_``/``new_``-prefixed (tracked attributes), like
    :func:`agg_delta`. Keys whose maintained count reaches zero drop
    out. NULL ``value_col`` rows count toward ``count_col`` but are
    ignored by min/max (SQL aggregate semantics).

    Returns the maintained MV frame ``(keys..., count_col, min_col,
    max_col)``.
    """
    ct = F.col("change_type")

    def _side(prefix: str) -> DataFrame:
        sign = 1 if prefix == "new" else -1
        part = changes.filter(
            ct != ("insert" if prefix == "old" else "delete")
        )
        cols = []
        for k in keys:
            src = f"{prefix}_{k}" if f"{prefix}_{k}" in changes.columns else k
            cols.append(F.col(src).alias(k))
        cols.append(F.lit(sign).alias("__c"))
        cols.append(F.col(f"{prefix}_{value_col}").alias("__v"))
        return part.select(*cols)

    delta = (
        _side("old")
        .unionByName(_side("new"))
        .groupBy(*keys)
        .agg(
            F.sum("__c").cast("bigint").alias("__dn"),
            F.min(F.when(F.col("__c") == 1, F.col("__v"))).alias("__ins_min"),
            F.max(F.when(F.col("__c") == 1, F.col("__v"))).alias("__ins_max"),
            F.min(F.when(F.col("__c") == -1, F.col("__v"))).alias("__del_min"),
            F.max(F.when(F.col("__c") == -1, F.col("__v"))).alias("__del_max"),
        )
        # consumed by three branches below (safe/endangered/fresh) in
        # one action — pin the small-by-construction frame
        .localCheckpoint(eager=True)
    )

    d = delta.select(
        *[F.col(k).alias(f"__d_{k}") for k in keys],
        "__dn", "__ins_min", "__ins_max", "__del_min", "__del_max",
    )
    j = mv.join(F.broadcast(d), _keycond(keys, mv, "__d_", d), "left")
    new_n = F.coalesce(mv[count_col], F.lit(0)) + F.coalesce(
        d["__dn"], F.lit(0)
    )
    # a deleted value at-or-beyond the stored extremum invalidates it;
    # every comparison is guarded so the verdict is never NULL
    endangered = (
        d["__del_min"].isNotNull()
        & (mv[min_col].isNull() | (d["__del_min"] <= mv[min_col]))
    ) | (
        d["__del_max"].isNotNull()
        & (mv[max_col].isNull() | (d["__del_max"] >= mv[max_col]))
    )
    live = j.filter(new_n > 0)
    safe = live.filter(~endangered).select(
        *[mv[k] for k in keys],
        new_n.cast("bigint").alias(count_col),
        F.least(mv[min_col], d["__ins_min"]).alias(min_col),
        F.greatest(mv[max_col], d["__ins_max"]).alias(max_col),
    )
    danger_keys = live.filter(endangered).select(
        *[mv[k].alias(f"__e_{k}") for k in keys]
    )
    bcols = base.select(
        *[F.col(k) for k in keys], F.col(value_col).alias("__v")
    )
    rescanned = (
        bcols.join(
            F.broadcast(danger_keys),
            _keycond(keys, bcols, "__e_", danger_keys),
            "left_semi",
        )
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias(count_col),
            F.min("__v").alias(min_col),
            F.max("__v").alias(max_col),
        )
    )
    mvk = mv.select(*[F.col(k).alias(f"__m_{k}") for k in keys])
    fresh = (
        delta.join(mvk, _keycond(keys, delta, "__m_", mvk), "left_anti")
        .filter(F.col("__dn") > 0)
        .select(
            *keys,
            F.col("__dn").cast("bigint").alias(count_col),
            F.col("__ins_min").alias(min_col),
            F.col("__ins_max").alias(max_col),
        )
    )
    return safe.unionByName(rescanned).unionByName(fresh)


def apply_distinct_delta(
    mv: DataFrame,
    aux: DataFrame,
    changes: DataFrame,
    keys: list[str],
    value_col: str,
    count_col: str = "n_distinct",
    aux_count_col: str = "vcnt",
) -> tuple[DataFrame, DataFrame]:
    """Maintain a per-key COUNT(DISTINCT value) aggregate from a
    ``table_changes`` frame — the TWO-LEVEL MV design.

    Distinct counts are not delta-maintainable from the change feed
    alone (a delete decrements the count only when it removes the LAST
    occurrence of a value), so the standard answer is an auxiliary
    occurrence table ``aux(keys..., value_col, vcnt)`` — which IS
    delta-maintainable: it is a plain per-(key, value) row count, so
    :func:`agg_delta`/:func:`apply_agg_delta` maintain it exactly,
    and rows drop out when their occurrence count reaches zero. The
    distinct count is then re-derived for the CHANGED KEYS ONLY: one
    semi-join of the new aux against the delta's key set plus a count
    per key — cost ∝ changed keys' distinct values, never the corpus.

    SQL semantics: NULL values do not count toward COUNT(DISTINCT),
    so NULL-valued rows never enter ``aux``; a key whose rows are all
    NULL-valued (or that lost its last non-NULL value) has no MV row.

    Returns ``(new_mv, new_aux)`` — persist both for the next load.
    """
    nn = changes.filter(
        F.col(f"old_{value_col}").isNotNull()
        | F.col(f"new_{value_col}").isNotNull()
    )
    # a change row whose only non-NULL side is the old (or new) value
    # must contribute only that side; model NULL-valued sides as
    # absent by re-labeling them so agg_delta's insert/delete filters
    # skip them: an update NULL -> v acts as an insert of v, v -> NULL
    # as a delete of v, NULL -> NULL contributes nothing (filtered
    # above).
    ct = F.col("change_type")
    relabeled = nn.withColumn(
        "change_type",
        F.when(
            (ct == "update") & F.col(f"old_{value_col}").isNull(), "insert"
        )
        .when(
            (ct == "update") & F.col(f"new_{value_col}").isNull(), "delete"
        )
        .otherwise(ct),
    )
    delta = agg_delta(
        relabeled, keys + [value_col], {}, count_col=aux_count_col
    ).localCheckpoint(eager=True)
    new_aux = apply_agg_delta(
        aux, delta, keys + [value_col], [], count_col=aux_count_col
    )
    changed = delta.select(*keys).distinct()
    ck = changed.select(*[F.col(k).alias(f"__c_{k}") for k in keys])
    recount = (
        new_aux.join(
            F.broadcast(ck), _keycond(keys, new_aux, "__c_", ck), "left_semi"
        )
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).cast("bigint").alias(count_col))
    )
    untouched = mv.join(
        F.broadcast(ck), _keycond(keys, mv, "__c_", ck), "left_anti"
    )
    return untouched.unionByName(recount), new_aux


def apply_topk_delta(
    mv: DataFrame,
    changes: DataFrame,
    base: DataFrame,
    keys: list[str],
    id_col: str,
    value_col: str,
    k: int,
) -> DataFrame:
    """Maintain a per-key TOP-K row set from a ``table_changes``
    frame.

    ``mv`` holds one row per retained member: ``(keys..., id_col,
    value_col)`` — the top ``k`` rows of each key under the
    deterministic total order ``(value DESC, id DESC)`` (the id
    tie-break makes the set engine-reproducible). NULL-valued rows
    never rank (SQL ORDER BY semantics would sort them, but a NULL
    score is meaningless in a leaderboard — they are excluded here
    and from the stored contract).

    Key classification — the top-k analog of the min/max operator's
    endangered split:

    - **rescan keys**: some outgoing (delete / update-old) row sorts
      at-or-above the key's stored BOUNDARY (its weakest retained
      member) — the victim may be a member, and the replacement is
      unknowable from the feed; re-read those keys' rows via a
      key-semi-join against the post-change ``base``. When the key
      holds fewer than ``k`` members every row IS a member, and the
      boundary test is automatically always-true for its deletes.
    - **merge keys**: only sub-boundary deletes and/or incoming rows —
      membership can only change in favor of known candidates, so the
      new top-k is a window over (stored members ∪ incoming rows) for
      those keys; no base access.
    - untouched keys pass through by anti-join.

    Cost: one pass over the change feed, one O(members) aggregate over
    the MV, a window over (changed keys × ≤ k + batch) rows, and a
    pruned rescan of only the endangered keys.
    """
    from pyspark.sql.window import Window

    ct = F.col("change_type")

    def _side(prefix: str) -> DataFrame:
        part = changes.filter(
            ct != ("insert" if prefix == "old" else "delete")
        )
        cols = []
        for c in keys:
            src = f"{prefix}_{c}" if f"{prefix}_{c}" in changes.columns else c
            cols.append(F.col(src).alias(c))
        idsrc = f"{prefix}_{id_col}" if f"{prefix}_{id_col}" in changes.columns else id_col
        cols.append(F.col(idsrc).alias(id_col))
        cols.append(F.col(f"{prefix}_{value_col}").alias(value_col))
        return part.select(*cols).filter(F.col(value_col).isNotNull())

    outgoing = _side("old")
    incoming = _side("new")

    sv = F.struct(F.col(value_col), F.col(id_col))
    stats = mv.groupBy(*keys).agg(F.min(sv).alias("__boundary"))
    out_stats = outgoing.groupBy(*keys).agg(F.max(sv).alias("__out_max"))
    os_ = out_stats.select(
        *[F.col(c).alias(f"__o_{c}") for c in keys], "__out_max"
    )

    # INNER join (a key absent from the MV has no members — nothing to
    # rescan), with the BATCH-sized outgoing stats broadcast: the MV
    # boundary frame is O(all keys) and must never ship to every
    # executor at 100 TB scale
    rescan_keys = (
        stats.join(F.broadcast(os_), _keycond(keys, stats, "__o_", os_))
        .filter(F.col("__out_max") >= F.col("__boundary"))
        .select(*[stats[c] for c in keys])
        .distinct()
        .localCheckpoint(eager=True)
    )
    changed_keys = (
        outgoing.select(*keys)
        .unionByName(incoming.select(*keys))
        .distinct()
        .localCheckpoint(eager=True)
    )
    rk = rescan_keys.select(
        *[F.col(c).alias(f"__r_{c}") for c in keys]
    )
    merge_keys = changed_keys.join(
        F.broadcast(rk), _keycond(keys, changed_keys, "__r_", rk), "left_anti"
    )
    mk = merge_keys.select(*[F.col(c).alias(f"__k_{c}") for c in keys])

    w = Window.partitionBy(*keys).orderBy(
        F.col(value_col).desc(), F.col(id_col).desc()
    )
    merged = (
        mv.join(F.broadcast(mk), _keycond(keys, mv, "__k_", mk), "left_semi")
        .select(*keys, id_col, value_col)
        .unionByName(
            incoming.join(
                F.broadcast(mk),
                _keycond(keys, incoming, "__k_", mk),
                "left_semi",
            )
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )
    bb = base.select(*keys, id_col, value_col).filter(
        F.col(value_col).isNotNull()
    )
    rescanned = (
        bb.join(F.broadcast(rk), _keycond(keys, bb, "__r_", rk), "left_semi")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )
    ck = changed_keys.select(
        *[F.col(c).alias(f"__c_{c}") for c in keys]
    )
    untouched = mv.join(
        F.broadcast(ck), _keycond(keys, mv, "__c_", ck), "left_anti"
    ).select(*keys, id_col, value_col)
    return untouched.unionByName(merged).unionByName(rescanned)
