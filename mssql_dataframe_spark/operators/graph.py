"""Graph operators over edge-list DataFrames.

Connected components lives in operators/dedup.py (it grew out of the
near-duplicate clustering pipeline); this module holds the rank-style
iterative algorithms.

Determinism contract (same as the k-means trainer): all arithmetic is
int64 — ranks are micro-units (1e6 = rank 1.0), per-edge contributions
use integer floor division, and damping is ``(num * x) div den``. Sums
of int64 are associative, so numpy, the JVM, and a DuckDB oracle that
unrolls the same iterations agree bit-for-bit; no float accumulation
order can leak into results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import cache


def pagerank_quantized(
    edges: DataFrame,
    iters: int = 5,
    unit: int = 1_000_000,
    d_num: int = 85,
    d_den: int = 100,
    src_col: str = "src",
    dst_col: str = "dst",
    assume_distinct: bool = False,
    assume_all_nodes_have_in_edges: bool = False,
) -> DataFrame:
    """Damped PageRank over a directed edge list, integer-exact.

    Update rule (per-node-normalized form, all int64)::

        contrib(u)   = r_k(u) div outdeg(u)
        r_{k+1}(v)   = (1-d)*unit  +  d * sum_{u->v} contrib(u)
                     = ((d_den-d_num)*unit) div d_den
                       + (d_num * sum) div d_den

    Dangling nodes (no out-edges) contribute nothing — their mass
    decays toward the teleport base, the standard "leak" variant; both
    engines implement the same choice so results match exactly.

    Scale shape: the edge list joins the (|V|-sized) rank frame on
    ``src`` and aggregates contributions by ``dst`` — one shuffle per
    iteration, the irreducible PageRank cost. The degree-annotated
    edge frame is built ONCE and persisted so each iteration re-reads
    it instead of recomputing the self-join; rank lineage is truncated
    every iteration with ``localCheckpoint`` so the plan does not grow
    with the iteration count (the lesson from the connected-components
    operator). At 100 TB you would additionally pre-partition edges by
    ``src`` at write time so the per-iteration join is shuffle-free on
    the edge side.

    ``assume_distinct=True`` skips the defensive edge dedup — a full
    shuffle of the LARGEST frame in the job — for callers that already
    guarantee unique (src, dst) pairs (e.g. built via ``distinct()`` or
    a group-by). The update rule counts parallel edges twice, so the
    flag is a correctness contract, not a hint.

    ``assume_all_nodes_have_in_edges=True`` skips the per-iteration
    ``nodes`` left join: that join exists only to re-attach nodes with
    NO in-edges (pure sources, whose rank is the teleport base). When
    the caller guarantees every node appears as a destination — true
    for any symmetrized edge list, where each undirected edge
    contributes both directions — the contribution aggregate already
    covers exactly the node set and the join is algebraically a no-op,
    so skipping it removes one join (and its exchanges) per iteration.
    Like ``assume_distinct`` this is a correctness contract: a source
    node would silently VANISH from the result under a wrong promise.
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    if not assume_distinct:
        e = e.distinct()
    # collapse the caller's edge DAG to a LEAF before fanning out: e
    # feeds the degree aggregate, the degree join's probe side, AND
    # the node-set union (twice — both union branches scan it), so a
    # non-trivial upstream plan (a join + distinct in the bench's
    # bipartite builder) executed up to four times inside the lazy
    # cache fills. One materialization job, then every consumer scans
    # the checkpointed edge list — the same lesson as the
    # connected-components forward-edge checkpoint.
    e = e.localCheckpoint(eager=True)
    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    # hash-partition the degree-annotated edges by the join key ONCE:
    # each iteration joins on src, and without an explicit partitioning
    # the cached frame's layout (the checkpoint RDD's) satisfies no
    # join requirement, so EVERY iteration re-exchanged the full edge
    # list into a sort-merge join (guide §2.4 — establish the
    # partitioning once and let all consumers reuse it; this is the
    # in-session analog of writing edges bucketed by src). Cached
    # plans keep their partitioning under AQE
    # (canChangeCachedPlanOutputPartitioning=false), so the
    # per-iteration join now exchanges only the |V|-sized rank frame.
    with cache.scope():
        # fill the cache EAGERLY, before any iteration is planned: every
        # iteration's physical plan is constructed up front (the lazy
        # checkpoints chain), and an UNmaterialized InMemoryRelation
        # reports UnknownPartitioning at that moment — EnsureRequirements
        # then puts an Exchange hashpartitioning(src) ON TOP of the cache
        # scan in every iteration (the r14 plan capture showed exactly
        # that), re-shuffling the unchanging edge list per pass. With the
        # cache hot at planning time, InMemoryTableScan reports the pinned
        # hashpartitioning(src, N) and every loop-body join plans with NO
        # edge-side exchange: iterations move only the |V|-sized rank
        # frame (verified in plans/r15/pagerank_iteration_after.txt). The
        # fill's count is not extra work — it IS the cache-fill job
        # iteration 1 used to pay lazily.
        edges_w = cache.keep(
            e.join(outdeg, "src").repartition(F.col("src")), fill=True
        )
        nodes = (
            e.select(F.col("src").alias("node_id"))
            .union(e.select(F.col("dst").alias("node_id")))
            .distinct()
        )
        if not assume_all_nodes_have_in_edges:
            # consumed once per iteration by the left join — cache it
            nodes = cache.keep(nodes)
        base = ((d_den - d_num) * unit) // d_den
        ranks = nodes.withColumn("rank_q", F.lit(unit).cast("bigint"))
        rank_expr = (
            F.lit(base)
            + F.expr(f"({d_num} * coalesce(in_sum, 0L)) div {d_den}")
        ).cast("bigint").alias("rank_q")
        for _ in range(iters):
            # hint the rank side into a shuffled-hash build: the checkpoint
            # leaf has no stats, so the planner would fall back to
            # sort-merge and re-SORT the (unchanging) cached edge
            # partitions every iteration; hashing the |V|-sized rank side
            # instead does per-partition work ∝ ranks, not ∝ edges
            contribs = (
                edges_w.join(
                    ranks.hint("shuffle_hash"),
                    edges_w.src == ranks.node_id,
                )
                .select(
                    F.col("dst").alias("node_id"),
                    F.expr("rank_q div outdeg").alias("contrib"),
                )
                .groupBy("node_id")
                .agg(F.sum("contrib").alias("in_sum"))
            )
            if assume_all_nodes_have_in_edges:
                # the aggregate's key set IS the node set (caller contract)
                ranks = contribs.select("node_id", rank_expr).localCheckpoint(
                    eager=False
                )
            else:
                ranks = (
                    nodes.join(contribs, "node_id", "left")
                    .select("node_id", rank_expr)
                    .localCheckpoint(eager=False)
                )
        # materialize BEFORE the scope releases the caches: persist() is
        # lazy, so releasing them without an action would deregister the
        # caches while still empty and every iteration would recompute
        # the edge dedup + degree join when the caller finally runs an
        # action (the same no-op-unpersist trap the connected-components
        # loop hit). The eager localCheckpoint runs the whole iteration
        # chain once with the caches live and pins the result as a
        # plan-stable snapshot.
        return ranks.select("node_id", "rank_q").localCheckpoint(eager=True)
