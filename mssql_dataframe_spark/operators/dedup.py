"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Design for 100 TB:
- exact dedup is a hash aggregation on the dedup key (one shuffle,
  map-side partial aggregation);
- MinHash signatures are computed scan-side with built-in expressions
  (shingle -> multiply-shift hash family -> per-permutation min over
  exploded shingle rows), so signature generation is embarrassingly
  parallel and codegen'd — no Python;
- LSH candidate generation shuffles by (band, signature) — each bucket
  is tiny, so the self-join explodes only within buckets, never
  globally;
- verification (exact Jaccard / cosine) runs only on candidate pairs.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType, DataType, IntegralType, LongType, StructField, StructType,
)

from .. import cache
from ..frames import local_frame
from .text import _gram_starts_sql, _tokens_sql, word_ngrams

#: default edge-count cutover of :func:`connected_components` between
#: the driver-side union-find and the distributed loop
SMALL_GRAPH_EDGES = 1_000_000
#: the distributed loop's default round cap and checkpoint period,
#: shared by :func:`connected_components` and
#: :func:`dedup_cluster_survivors`
CC_MAX_ITER = 20
CC_CHECKPOINT_EVERY = 5

def exact_dedup(
    df: DataFrame, key_cols: list[str], id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id row per exact duplicate group.

    One hash-aggregation (map-side combine) on the dedup key.
    Returns (id_col, dup_count) of survivors.
    """
    return (
        df.groupBy(*key_cols)
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").alias("dup_count"),
        )
        .select(id_col, "dup_count")
    )


def _mh_a(i: int) -> int:
    """Odd multiplier #i for the multiply-shift MinHash family (<2^23)."""
    return ((i * 2654435 + 1234567) | 1) % (1 << 23)


def _mh_b(i: int) -> int:
    """Additive constant #i for the multiply-shift MinHash family."""
    return (i * 987654321 + 13579) % (1 << 40)


def shingle_rows(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(id, sh) — one row per distinct k-shingle per document.

    Shape: explode the shingle START POSITIONS (a codegen'd
    ``sequence``), take each shingle with a row-wise ``substring``
    (also codegen), then distinct by aggregation. Versus building a
    per-document shingle ARRAY (interpreted higher-order ``transform``
    + ``array_distinct``), end-to-end cost is neutral at sf0.1 (the
    downstream persist hides the stage difference) — the reason for
    this form is bounded per-row memory: a 10 MB document would be one
    10M-element array in a single task row under ``array_distinct``,
    while the aggregate distinct spreads that document's shingles
    across ordinary rows with map-side combine. No extra shuffle:
    the distinct reuses the id repartitioning below (verified
    Exchange-count 1 in the executed plan).

    Docs shorter than ``k`` produce no shingles (the filter also keeps
    ``sequence`` ascending — Spark's sequence(1, 0) would DESCEND).

    The document rows are repartitioned by id BEFORE the explode: a
    small source (one parquet file locally; a skewed file layout at
    cluster scale) would otherwise confine the entire shingle+hash
    scan to a handful of tasks. Shuffling the compact pre-explode rows
    is far cheaper than shuffling the exploded relation."""
    par = df.sparkSession.sparkContext.defaultParallelism
    i, t = f"`{id_col}`", f"`{text_col}`"
    guard, starts = _gram_starts_sql(t, k)
    return (
        df.repartition(par, df[id_col])
        .where(guard)
        .selectExpr(i, t, f"explode({starts}) AS __i")
        .selectExpr(i, f"substring({t}, __i, {k}) AS sh")
        .dropDuplicates([id_col, "sh"])
    )


def _signature_base(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_bands: int,
    k: int,
    rows_per_band: int = 2,
    rows: DataFrame | None = None,
) -> DataFrame:
    """(id, mh_0.., sig_0..sig_{n-1}) — PERSISTED (lazily in local
    mode, eagerly on a cluster; see the end of the body).

    Classic banded MinHash: n_bands * rows_per_band independent hash
    functions (salted md5); band b's signature is the md5 of the
    concatenation of its rows_per_band min-hashes, so two documents
    collide on a band only if ALL r min-hashes agree — candidate
    probability 1-(1-j^r)^b, which suppresses the low-similarity
    bucket explosion that r=1 suffers on templated corpora.

    Built as explode -> row-wise salted md5 (codegen) -> hash-aggregate
    min per hash function: one shuffle on the document id with map-side
    partial min. Persisted so the LSH self-join's two consumers don't
    recompute the signature scan. At cluster scale the same role is
    played by a checkpoint/interim table when signatures exceed cache.
    """
    n_hashes = n_bands * rows_per_band
    if rows is None:
        rows = shingle_rows(df, id_col, text_col, k)
    # ONE md5 per shingle -> 40-bit integer; the n_hashes "independent"
    # hash functions are multiply-shift mixes h_i = (A_i*h + B_i) mod 2^40
    # with odd A_i < 2^23 (product < 2^63: overflow-safe in any engine,
    # and expressible in ANSI SQL for the oracle). 16x fewer md5 calls
    # than salting the digest per function — md5 dominates the scan.
    # The per-function min aggregates are built as SQL strings (one
    # py4j round trip each) instead of stacked Column operators (~8
    # round trips each): plan CONSTRUCTION is driver wall clock paid
    # on every call, and the Column form measured ~0.3 s of pure py4j
    # chatter here at 16 hash functions. Arithmetic is identical —
    # integer literals are pinned to BIGINT with the L suffix, matching
    # lit(int)'s Long typing.
    # The 40-bit shingle hash is projected once, below the aggregate,
    # so the plan carries one md5 instead of n_hashes copies.
    hashed = rows.selectExpr(
        f"`{id_col}`", "CAST(conv(substring(md5(sh), 1, 10), 16, 10) AS BIGINT) AS h"
    )
    mins = hashed.groupBy(id_col).agg(
        *[
            F.expr(
                f"min(({_mh_a(i)}L * h + {_mh_b(i)}L) % {1 << 40}L) AS mh_{i}"
            )
            for i in range(n_hashes)
        ]
    )
    # keep the raw min-hashes alongside the band signatures: the cheap
    # per-pair Jaccard ESTIMATE (fraction of agreeing min-hashes) uses
    # them to prune candidates before the expensive exact verification
    base = mins.selectExpr(
        f"`{id_col}`",
        *[f"mh_{i}" for i in range(n_hashes)],
        *[
            "md5(concat_ws('|', {cols})) AS sig_{b}".format(
                cols=", ".join(
                    f"mh_{b * rows_per_band + r}"
                    for r in range(rows_per_band)
                ),
                b=b,
            )
            for b in range(n_bands)
        ],
    )
    # The LSH self-join and the estimate join read this 3+ times in
    # one action. In local mode a LAZY persist suffices: the first
    # task to reach a partition fills it and the other readers wait on
    # its block lock, so the signature scan runs once per action
    # (event log of the survivors pass: one shingle stage and one
    # min-hash stage), and the pair query does not wait for a job of
    # its own (an eager count cost about 2 s of a cold pass). Readers
    # on different executors share no lock and would each recompute
    # the scan, so a cluster session materializes it first.
    return cache.keep(
        base, fill=not base.sparkSession.sparkContext.master.startswith("local")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int = 8,
    k: int = 8,
    base: DataFrame | None = None,
    rows_per_band: int = 2,
) -> DataFrame:
    """(id, band, signature) — one row per band per document."""
    if base is None:
        base = _signature_base(df, id_col, text_col, n_bands, k, rows_per_band)
    # one SQL-string projection: about 20 py4j round trips to build,
    # where a Column struct per band costs about 60 each
    bands = ", ".join(
        f"named_struct('band', {b}, 'signature', sig_{b})"
        for b in range(n_bands)
    )
    return base.selectExpr(f"`{id_col}`", f"inline(array({bands}))").where(
        "signature IS NOT NULL"
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int = 8,
    k: int = 8,
    base: DataFrame | None = None,
    rows_per_band: int = 2,
) -> DataFrame:
    """Candidate near-duplicate pairs: documents sharing any band
    signature. Self-join happens per (band, signature) bucket — the
    shuffle key — so cost is sum of squares of bucket sizes, not N².
    """
    sig = minhash_signatures(
        df, id_col, text_col, n_bands, k, base=base, rows_per_band=rows_per_band
    )
    return (
        sig.alias("a")
        .join(
            sig.alias("b"),
            F.expr(
                "a.band = b.band AND a.signature = b.signature"
                f" AND a.`{id_col}` < b.`{id_col}`"
            ),
        )
        .selectExpr(f"a.`{id_col}` AS id1", f"b.`{id_col}` AS id2")
        .distinct()
    )


def _estimate_prune(
    raw_cands: DataFrame,
    base1: DataFrame,
    base2: DataFrame,
    key1: str,
    key2: str,
    id_col: str,
    n_hashes: int,
    threshold: float,
    margin: float = 0.2,
) -> DataFrame:
    """Min-hash agreement ESTIMATE prune, shared by every LSH pair
    operator: the fraction of agreeing min-hashes is an unbiased
    Jaccard estimator, so candidates estimating below
    ``threshold - margin`` drop with a cheap n_hashes-column
    comparison — no shingle join. Returns the surviving
    ``(key1, key2)`` pairs."""
    # SQL-string projections/aggregate: one py4j round trip per
    # selectExpr instead of one per aliased column — the n_hashes-term
    # agreement sum alone was ~100 Column-operator round trips of pure
    # driver-side plan-construction latency. Semantics identical: the
    # CASE sum is the same integer sum, and the divisor is pinned
    # CAST(... AS DOUBLE) to reproduce lit(float(n_hashes))'s double
    # division (a bare `16.0` literal would parse as DECIMAL and
    # change the division's type).
    m1 = base1.selectExpr(
        f"`{id_col}` AS `{key1}`",
        *[f"mh_{i} AS a{i}" for i in range(n_hashes)],
    )
    m2 = base2.selectExpr(
        f"`{id_col}` AS `{key2}`",
        *[f"mh_{i} AS b{i}" for i in range(n_hashes)],
    )
    agree_sql = " + ".join(
        f"(CASE WHEN a{i} = b{i} THEN 1 ELSE 0 END)"
        for i in range(n_hashes)
    )
    return (
        raw_cands.join(m1, key1)
        .join(m2, key2)
        .where(
            f"({agree_sql}) / CAST({n_hashes} AS DOUBLE)"
            f" >= {float(threshold - margin)!r}D"
        )
        .select(key1, key2)
    )


def _verify_jaccard(
    cands: DataFrame,
    rows1: DataFrame,
    rows2: DataFrame,
    key1: str,
    key2: str,
    id_col: str,
    threshold: float,
    gram_col: str = "sh",
) -> DataFrame:
    """Exact set-Jaccard verification, shared by every candidate-pair
    operator: candidates join both exploded (id, gram) relations,
    intersection size is a hash aggregation per pair, and
    ``|union| = n1 + n2 - |inter|`` needs no union materialization.
    Returns ``(key1, key2, jaccard)`` for pairs >= threshold, jaccard
    rounded to 6 (the oracle-stable render)."""
    sizes1 = rows1.groupBy(id_col).agg(F.expr("count(1) AS n1"))
    sizes2 = rows2.groupBy(id_col).agg(F.expr("count(1) AS n2"))
    inter = (
        cands.join(rows1.selectExpr(f"`{id_col}` AS `{key1}`", gram_col), key1)
        .join(
            rows2.selectExpr(f"`{id_col}` AS `{key2}`", gram_col),
            [key2, gram_col],
        )
        .groupBy(key1, key2)
        .agg(F.expr("count(1) AS n_inter"))
    )
    return (
        inter.join(sizes1.selectExpr(f"`{id_col}` AS `{key1}`", "n1"), key1)
        .join(sizes2.selectExpr(f"`{id_col}` AS `{key2}`", "n2"), key2)
        .selectExpr(
            key1,
            key2,
            "round(n_inter / CAST(n1 + n2 - n_inter AS DOUBLE), 6) AS jaccard",
        )
        .where(f"jaccard >= {float(threshold)!r}D")
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int = 8,
    k: int = 8,
    threshold: float = 0.8,
    rows_per_band: int = 2,
) -> DataFrame:
    """LSH candidates verified with exact Jaccard >= threshold.

    Returns (id1, id2, jaccard). Two-stage verification:

    1. ESTIMATE prune: the fraction of agreeing min-hashes is an
       unbiased estimator of Jaccard; candidates whose estimate falls
       below ``threshold - margin`` are dropped with a cheap 16-column
       comparison — no shingle join. This collapses the templated-
       corpus candidate tail (LSH banding admits many j~0.2 pairs)
       before any heavy work.
    2. EXACT verify: survivors join the exploded (id, shingle)
       relation on both sides; intersection size is a hash aggregation
       per pair, |union| = n1 + n2 - |inter|. All codegen'd hash
       joins/aggs, so cost scales with (surviving pairs x shingles).
    """
    margin = 0.2
    n_hashes = n_bands * rows_per_band
    # ONE shingle-explode scan feeds both the signatures and the exact
    # verifier (it used to run twice). The shingle cache is LAZY: the
    # signature base is built FROM it, so whichever job first fills
    # the signature cache fills both in one chain — a separate eager
    # rows count was one extra full job (r14 opt, ~0.5-1 s at sf0.1).
    rows = cache.keep(shingle_rows(df, id_col, text_col, k))
    base = _signature_base(
        df, id_col, text_col, n_bands, k, rows_per_band, rows=rows
    )
    raw_cands = lsh_candidate_pairs(
        df, id_col, text_col, n_bands, k, base=base, rows_per_band=rows_per_band
    )
    cands = _estimate_prune(
        raw_cands, base, base, "id1", "id2", id_col, n_hashes,
        threshold, margin,
    )
    return _verify_jaccard(
        cands, rows, rows, "id1", "id2", id_col, threshold
    )


def minhash_dedup_incremental(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int = 8,
    k: int = 8,
    threshold: float = 0.8,
    rows_per_band: int = 2,
) -> DataFrame:
    """Incremental near-dup detection: an incoming batch against the
    already-ingested corpus — the production ingest shape. A full-
    corpus re-pairing costs Σ bucket² over everything ever ingested;
    here the band join is NEW × CORPUS only, so per-ingest cost is
    ∝ batch size × bucket collisions, independent of corpus growth
    (the corpus side's signatures are computed once per ingest here;
    in production they persist as an interim table and this join reads
    them). Same two-stage verification as :func:`minhash_dedup_pairs`:
    16-column min-hash ESTIMATE prune, then exact shingle-set Jaccard
    on survivors. Returns (new_id, corpus_id, jaccard) — the incoming
    documents that duplicate existing corpus content, ready to drop or
    cluster before they ever land.
    """
    margin = 0.2
    n_hashes = n_bands * rows_per_band
    # lazy shingle caches, filled together with their signature bases
    # — same single-chain reasoning as minhash_dedup_pairs
    new_rows = cache.keep(shingle_rows(new_df, id_col, text_col, k))
    cor_rows = cache.keep(shingle_rows(corpus_df, id_col, text_col, k))
    nb = _signature_base(
        new_df, id_col, text_col, n_bands, k, rows_per_band, rows=new_rows
    )
    cb = _signature_base(
        corpus_df, id_col, text_col, n_bands, k, rows_per_band, rows=cor_rows
    )
    n_sig = minhash_signatures(
        new_df, id_col, text_col, n_bands, k, base=nb,
        rows_per_band=rows_per_band,
    )
    c_sig = minhash_signatures(
        corpus_df, id_col, text_col, n_bands, k, base=cb,
        rows_per_band=rows_per_band,
    )
    raw = (
        n_sig.select(
            F.col(id_col).alias("new_id"), "band", "signature"
        )
        .join(
            c_sig.select(
                F.col(id_col).alias("corpus_id"), "band", "signature"
            ),
            ["band", "signature"],
        )
        .select("new_id", "corpus_id")
        .distinct()
    )
    cands = _estimate_prune(
        raw, nb, cb, "new_id", "corpus_id", id_col, n_hashes,
        threshold, margin,
    )
    return _verify_jaccard(
        cands, new_rows, cor_rows, "new_id", "corpus_id", id_col,
        threshold,
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.3,
    block_prefix: int = 16,
    length_bucket: int = 32,
    block_cap: int = 64,
) -> DataFrame:
    """Word-n-gram Jaccard near-dup pairs with capped composite blocking.

    Blocking key = (floor(len/``length_bucket``), lowercased first
    ``block_prefix`` chars). A prefix alone collapses boilerplate-
    prefixed corpora (licenses, scraped nav text — i.e. LLM training
    data) into one giant block whose within-block self-join is O(N²)
    on a single reducer; the length bucket splits those, and any block
    still larger than ``block_cap`` is salted deterministically
    (``id % ceil(size/cap)``) so no join group ever exceeds ~cap rows.
    The cap trades recall for a hard per-reducer bound — pairs split
    across salt groups (or straddling a length-bucket boundary) are
    missed, which is the standard blocking trade-off; use the MinHash
    path for recall-sensitive dedup.

    Candidates form per (key, salt) group — one shuffle, bounded
    groups — then exact n-gram Jaccard verifies set-based (explode ->
    intersection count -> |union| = n1+n2-inter), the same scalable
    shape as the MinHash verifier.
    """
    c = F.col(text_col)
    blocks = df.select(
        F.col(id_col),
        F.floor(F.length(c) / F.lit(float(length_bucket)))
        .cast("long")
        .alias("lb"),
        F.lower(F.substring(c, 1, block_prefix)).alias("pfx"),
    )
    sizes_b = blocks.groupBy("lb", "pfx").agg(F.count("*").alias("__bn"))
    # salt base: the id itself when numeric (ANSI-SQL-replicable, the
    # oracle's form); a 64-bit hash otherwise — pmod on a non-numeric
    # id would cast to NULL, a NULL salt matches nothing in the
    # equi-join, and the function would silently return ZERO pairs
    from pyspark.sql.types import NumericType

    salt_base = (
        F.col(id_col)
        if isinstance(df.schema[id_col].dataType, NumericType)
        else F.abs(F.xxhash64(F.col(id_col)))
    )
    salted = blocks.join(sizes_b, ["lb", "pfx"]).select(
        F.col(id_col),
        "lb",
        "pfx",
        F.pmod(
            salt_base,
            F.ceil(F.col("__bn") / F.lit(float(block_cap))).cast("long"),
        ).alias("salt"),
    )
    a = salted.select(F.col(id_col).alias("id1"), "lb", "pfx", "salt")
    b = salted.select(F.col(id_col).alias("id2"), "lb", "pfx", "salt")
    cands = (
        a.join(b, ["lb", "pfx", "salt"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )
    par = df.sparkSession.sparkContext.defaultParallelism
    rows = (
        df.repartition(par, id_col)
        .select(
            F.col(id_col),
            F.explode(F.array_distinct(word_ngrams(text_col, n))).alias("g"),
        )
    )
    rows = cache.keep(rows, fill=True)
    return _verify_jaccard(
        cands, rows, rows, "id1", "id2", id_col, threshold,
        gram_col="g",
    )


def _union_find(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``(ids, labels)`` for the edge list ``a[i] -- b[i]``: the sorted
    distinct node ids and, per id, the min id of its component.
    Union-by-min-root + path halving, so the root of every set IS the
    min node id — identical labels to the min-propagation loop."""
    # densify ids; np.unique also sorts, so dense index order == id
    # order and "min root" stays meaningful on dense indices
    ids = np.unique(np.concatenate([a, b]))
    parent = np.arange(len(ids))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    ai = np.searchsorted(ids, a).tolist()
    bi = np.searchsorted(ids, b).tolist()
    for x, y in zip(ai, bi):
        rx, ry = find(x), find(y)
        if rx != ry:
            if ry < rx:
                rx, ry = ry, rx
            parent[ry] = rx  # min root wins -> label = min id
    roots = np.array([find(i) for i in range(len(ids))], dtype=np.int64)
    return ids, ids[roots]


def _components(
    edges: DataFrame,
    nodes: DataFrame | None,
    id_col: str,
    src_col: str,
    dst_col: str,
    max_iter: int,
    checkpoint_every: int,
    small_graph_edges: int,
) -> tuple[DataType, np.ndarray, np.ndarray] | DataFrame:
    """The small-versus-big dispatch of :func:`connected_components`
    and :func:`dedup_cluster_survivors`: for a graph of at most
    ``small_graph_edges`` edges, the id type and the driver
    union-find's ``(ids, labels)`` arrays; above that, the distributed
    loop's ``(id, component)`` frame.

    The decision and the edges are ONE bounded collect of at most
    ``small_graph_edges + 1`` rows, and the union-find runs on the
    driver: no count job and no Python worker (a ``mapInPandas`` task
    pays a cold worker start per consumer). The collect reads a LAZY
    ``localCheckpoint`` of the edges: it fills every partition of the
    checkpoint in the same job, so a big graph's loop starts from
    that leaf and the edge lineage runs once on either path."""
    fwd = edges.selectExpr(f"`{src_col}` AS a", f"`{dst_col}` AS b")
    fwd = fwd.localCheckpoint(eager=False)
    # RDD collect of the limited plan: it runs the limit's final stage
    # as one job, where DataFrame.collect's incremental take runs it as
    # two (the first partition, then the rest); both stay in the JVM
    rows = fwd.limit(small_graph_edges + 1).rdd.collect()
    if len(rows) > small_graph_edges:
        return _propagate_labels(fwd, nodes, id_col, max_iter, checkpoint_every)
    # object arrays keep any id type (string ids included); np.unique
    # sorts Python str by code point, which is Spark's UTF-8 order
    id_type = fwd.schema["a"].dataType
    dtype = np.int64 if isinstance(id_type, IntegralType) else object
    a = np.array([r[0] for r in rows], dtype=dtype)
    b = np.array([r[1] for r in rows], dtype=dtype)
    return (id_type, *_union_find(a, b))


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    id_col: str = "id",
    src_col: str = "id1",
    dst_col: str = "id2",
    max_iter: int = CC_MAX_ITER,
    checkpoint_every: int = CC_CHECKPOINT_EVERY,
    small_graph_edges: int = SMALL_GRAPH_EDGES,
) -> DataFrame:
    """Connected components: a driver-side union-find for small edge
    sets, iterative min-label propagation for big ones.

    One collect of at most ``small_graph_edges + 1`` edges decides the
    path. When the graph has at most ``small_graph_edges``
    edges, a path-halving union-find on the driver computes exact
    components in one pass and the result is a small local frame —
    near-dup graphs are tiny relative to their corpus (pairs surviving
    exact-Jaccard verification), so this is the common case even at
    100 TB corpus scale, and it replaces O(diameter) Spark rounds (each
    a scheduled multi-stage job) with one collect and no Python worker.
    Graphs above the threshold take the distributed loop below, which
    never needs the edges to fit anywhere; it starts from the edge
    checkpoint the bounded collect filled, so the edge lineage (the
    MinHash pipeline, for near-dup pairs) runs once either way.

    Each node starts labeled with its own id; every round each node
    takes the min of its label and its neighbors' labels; converged
    when no label changes. Rounds are O(graph diameter) — near-dup
    clusters are shallow, so a handful of joins. Each round is one
    shuffle on the node id; intermediate labels are persisted and the
    previous round unpersisted, so memory stays O(nodes).

    Lineage control: every ``checkpoint_every`` rounds the label frame
    is ``localCheckpoint``-ed, truncating the join-upon-join plan that
    otherwise grows per round and blows up driver planning on deep
    clusters (25+-round chains). Exiting at ``max_iter`` without
    convergence logs a warning — labels may be stale upper bounds.

    Returns (id, component) where component = min node id reachable.
    """
    graph = _components(
        edges, nodes, id_col, src_col, dst_col, max_iter, checkpoint_every,
        small_graph_edges,
    )
    if isinstance(graph, DataFrame):
        return graph
    id_type, ids, labels = graph
    local = local_frame(
        edges.sparkSession, {id_col: ids, "component": labels},
        StructType([
            StructField(id_col, id_type), StructField("component", id_type),
        ]),
    )
    if nodes is None:
        return local
    return (
        nodes.select(F.col(id_col))
        .join(
            local.withColumnRenamed(id_col, "__node"),
            F.col(id_col) == F.col("__node"), "left",
        )
        .select(
            id_col, F.coalesce("component", F.col(id_col)).alias("component")
        )
    )


def _propagate_labels(
    fwd: DataFrame,
    nodes: DataFrame | None,
    id_col: str,
    max_iter: int,
    checkpoint_every: int,
) -> DataFrame:
    """The distributed min-label-propagation loop over the
    checkpointed ``(a, b)`` edge frame; see
    :func:`connected_components`."""
    import logging

    # fwd arrives as a localCheckpoint of the FORWARD edges, not of
    # sym: sym is referenced by every round's plan, and with a deep
    # edge lineage (typically a MinHash DAG) Catalyst re-analyzes that
    # whole subtree each round — the re-planning cost dominates the
    # actual sub-second iteration work (measured 40% of wall-clock at
    # sf0.1). Checkpointing BEFORE the symmetrizing union matters: a
    # union of the raw edge plan with its own reversal executes the
    # upstream DAG TWICE inside the materialization job (both branches
    # contain it). sym is then re-collapsed to a leaf so each
    # propagation round scans one checkpointed relation (two scans of
    # the materialized fwd, never the upstream DAG).
    sym = fwd.unionByName(
        fwd.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    if nodes is None:
        # default: iterate only edge-incident nodes (every other node
        # is trivially its own component). Near-dup graphs are sparse,
        # so at 100 TB each round's shuffle is O(nodes-with-an-edge),
        # not O(corpus).
        node_src = sym.select(F.col("a").alias(id_col)).distinct()
    else:
        node_src = nodes
    labels = node_src.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("label")
    ).localCheckpoint(eager=True)
    converged = False
    prev_cached = None
    for it in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.a == labels.node)
            .groupBy(F.col("b").alias("node"))
            .agg(F.min("label").alias("nlabel"))
        )
        # carry a per-row "changed" flag so cache materialization and
        # the convergence check are ONE job, not a join + a count
        new_labels = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.least(F.col("label"), F.coalesce("nlabel", "label")).alias(
                "label"
            ),
            (
                F.coalesce("nlabel", "label") < F.col("label")
            ).alias("__changed"),
        )
        if (it + 1) % checkpoint_every == 0:
            # truncate lineage; materialized by the convergence action
            new_labels = new_labels.localCheckpoint(eager=False)
            cached = None
        else:
            new_labels = cache.keep(new_labels)
            cached = new_labels
        changed = new_labels.agg(
            F.max(F.col("__changed").cast("int"))
        ).collect()[0][0]
        # release the PRE-drop cached handle from the previous round:
        # unpersist only uncaches exact-plan matches, so calling it on
        # the post-drop projection (as this loop once did) silently
        # leaked every round's O(nodes) label frame for the session.
        # The last round's cache, which the returned plan reads, stays
        # with the session until cache.release().
        if prev_cached is not None:
            cache.release(prev_cached)
        prev_cached = cached
        labels = new_labels.drop("__changed")
        if not changed:
            converged = True
            break
    if not converged:
        logging.getLogger("mssql_dataframe_spark").warning(
            "connected_components exited after max_iter=%d rounds WITHOUT "
            "converging; component labels may be unmerged upper bounds",
            max_iter,
        )
    return labels.select(F.col("node").alias(id_col), F.col("label").alias("component"))


def dedup_cluster_survivors(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int = 8,
    k: int = 8,
    threshold: float = 0.5,
    rows_per_band: int = 2,
) -> DataFrame:
    """Near-dup survivorship: MinHash pairs -> connected components ->
    keep the lowest-id document per cluster. Returns
    (doc_id, component, is_survivor, cluster_size) for every document
    that belongs to a near-dup cluster of size >= 2 (singletons are
    implicitly survivors and left out, which keeps the output small).

    A small pair graph (the common case, see
    :func:`connected_components`) is labeled on the driver, and the
    cluster sizes and survivor flags come from the same arrays: the
    result is one local frame, with no Python worker and no
    component-size join. A big graph takes the distributed loop and
    joins its labels with their per-component counts.
    """
    pairs = minhash_dedup_pairs(
        df, id_col, text_col, n_bands, k, threshold, rows_per_band
    )
    # nodes=None: only edge-incident nodes are labeled — singletons
    # (cluster_size 1) are left out anyway
    graph = _components(
        pairs, None, id_col, "id1", "id2", CC_MAX_ITER, CC_CHECKPOINT_EVERY,
        SMALL_GRAPH_EDGES,
    )
    if isinstance(graph, DataFrame):
        cc = graph
        sizes = cc.groupBy("component").agg(F.count("*").alias("cluster_size"))
        return (
            cc.join(sizes, "component")
            .filter(F.col("cluster_size") >= 2)
            .select(
                id_col,
                "component",
                (F.col(id_col) == F.col("component")).alias("is_survivor"),
                "cluster_size",
            )
        )
    id_type, ids, labels = graph
    _, inverse, counts = np.unique(labels, return_inverse=True, return_counts=True)
    size = counts[inverse].astype(np.int64)
    keep = size >= 2  # a self-pair alone is no cluster
    return local_frame(
        df.sparkSession,
        {
            id_col: ids[keep],
            "component": labels[keep],
            "is_survivor": ids[keep] == labels[keep],
            "cluster_size": size[keep],
        },
        StructType([
            StructField(id_col, id_type),
            StructField("component", id_type),
            StructField("is_survivor", BooleanType()),
            StructField("cluster_size", LongType(), False),
        ]),
    )


def _token_hash_sql(tok_sql: str, token_hash: str) -> tuple[str, int]:
    """(SQL hash of the token expression ``tok_sql``, usable bits).
    ``xxhash64`` is the production default (fastest, JVM intrinsic);
    ``md5_60`` takes the first 15 hex chars of md5 as a 60-bit long —
    slower, but reproducible in any engine with md5 (used by the
    correctness oracle)."""
    if token_hash == "xxhash64":
        return f"xxhash64({tok_sql})", 64
    if token_hash == "md5_60":
        return (
            f"CAST(conv(substring(md5({tok_sql}), 1, 15), 16, 10) "
            "AS BIGINT)",
            60,
        )
    raise ValueError(f"unknown token_hash {token_hash!r}")


def simhash_table(
    df: DataFrame, id_col: str, text_col: str,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """(id, h) — SimHash per document, computed scalably:
    explode tokens -> row-wise token hash (codegen) -> one hash
    aggregation with per-bit ±1 sums (map-side partial agg) -> bit-pack.
    Zero-token documents hash to 0. One shuffle total.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    i = f"`{id_col}` AS id"
    toks = df.repartition(par, id_col).selectExpr(
        i, f"explode({_tokens_sql(f'`{text_col}`')}) AS tok"
    )
    h_sql, bits = _token_hash_sql("tok", token_hash)
    # every projection, the per-bit sums and the bit-pack are SQL
    # strings: an ``array`` of the per-bit sums is ONE aggregate
    # expression, where one ``expr`` per bit cost about 6 py4j round
    # trips each, an aliased Column about 12, and the stacked-Column
    # form about 1000 per call. Same arithmetic: the CASE sums are the
    # same ±1 integer sums, shiftleft operates on a pinned BIGINT 1,
    # and the OR chain matches the bitwiseOR fold.
    sums_sql = ", ".join(
        f"sum(CASE WHEN (shiftright({h_sql}, {j}) & 1) = 1 THEN 1 ELSE -1 END)"
        for j in range(bits)
    )
    sums = toks.groupBy("id").agg(F.expr(f"array({sums_sql}) AS s"))
    packed_sql = " | ".join(
        f"(CASE WHEN s[{j}] > 0 THEN shiftleft(CAST(1 AS BIGINT), {j}) "
        "ELSE CAST(0 AS BIGINT) END)"
        for j in range(bits)
    )
    hashed = sums.selectExpr("id", f"({packed_sql}) AS h")
    return (
        df.selectExpr(i)
        .join(hashed, "id", "left")
        .selectExpr("id", "coalesce(h, CAST(0 AS BIGINT)) AS h")
    )


def blocked_hamming_pairs(
    hashed: DataFrame,
    n_blocks: int,
    block_width: int,
    max_hamming: int,
) -> DataFrame:
    """Pigeonhole-blocked Hamming join over an (``id``, ``h``) frame:
    split each 64-bit hash into ``n_blocks`` blocks of ``block_width``
    bits, equi-join per (block index, block value) — any pair within
    Hamming distance ``n_blocks - 1`` shares at least one exact block —
    and exact-popcount only the candidates. Returns
    (id1, id2, hamming) with ``hamming <= max_hamming``, id1 < id2.

    Shared by simhash_near_dup_pairs (text) and
    multimodal.ahash_near_dup_pairs (images): one copy of the blocking
    machinery so recall-contract fixes can't silently diverge."""
    blocks = hashed.select(
        "id",
        "h",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftright("h", i * block_width)
                        .bitwiseAND(F.lit((1 << block_width) - 1))
                        .alias("blk_val"),
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("b"),
    ).select(
        "id", "h",
        F.col("b.blk").alias("blk"), F.col("b.blk_val").alias("blk_val"),
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.blk_val") == F.col("b.blk_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.col("a.h").alias("h1"),
            F.col("b.h").alias("h2"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
    return (
        cands.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id1", "id2", "hamming")
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_blocks: int = 4,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Scale path: split the 64-bit hash into ``n_blocks`` 16-bit blocks;
    by pigeonhole, any pair within Hamming distance n_blocks-1 shares at
    least one exact block — candidates equi-join per block (bounded
    buckets), then exact popcount verification.

    RECALL CONTRACT: full recall is guaranteed only for Hamming
    distance <= ``n_blocks - 1``. A larger ``max_hamming`` is
    deliberately PARTIAL-recall LSH blocking (a pair whose differing
    bits spread across every block shares none and is never a
    candidate) — every returned pair is still exact-verified, and a
    warning logs the gap. Raising ``n_blocks`` restores recall but
    narrows each block (more candidates per bucket): the standard
    blocking trade-off, tune per corpus.

    Zero-token documents are excluded from pairing: they all SimHash to
    0, so a corpus with millions of empty docs would otherwise put them
    in one bucket (quadratic pair blow-up), and "empty ~ empty" is not
    a meaningful near-duplicate signal.
    """
    if max_hamming > n_blocks - 1:
        import logging

        logging.getLogger("mssql_dataframe_spark").warning(
            "simhash_near_dup_pairs: max_hamming=%d exceeds the "
            "n_blocks-1=%d pigeonhole guarantee — pairs with Hamming "
            "distance in (%d, %d] may be missed (partial-recall "
            "blocking); raise n_blocks for full recall",
            max_hamming, n_blocks - 1, n_blocks - 1, max_hamming,
        )
    _, bits = _token_hash_sql("", token_hash)
    h = simhash_table(df, id_col, text_col, token_hash=token_hash).filter(
        F.col("h") != 0
    )
    return blocked_hamming_pairs(h, n_blocks, bits // n_blocks, max_hamming)


def fuzzy_join_dist1(
    df: DataFrame,
    id_col: str = "id",
    str_col: str = "text",
) -> DataFrame:
    """Exact edit-distance-1 self-join via FastSS deletion
    neighborhoods: every string generates itself plus each
    single-character deletion; two strings within Levenshtein
    distance 1 ALWAYS share a neighborhood key (substitution at i —
    both drop position i; insert/delete — the longer drops the extra
    char), so the equi-join on the key misses no true pair, and a
    final ``levenshtein <= 1`` filter discards the collisions (key
    sharers are provably within distance 2 — candidates stay bounded).

    Returns ``(id1, id2)`` with ``id1 < id2``, each true pair once.

    Scale shape: the neighborhood explode is a narrow ~(len+1)-fan map,
    the join is an equi-join on short string keys (one shuffle), and
    verification costs one integer ``levenshtein`` per surviving
    candidate — never O(N^2). Skew note: a hot key (many strings
    sharing a deletion variant, e.g. very short strings) concentrates
    a bucket exactly like an LSH band; at corpus scale cap or salt
    keys above a bucket-size bound as in ``lsh_candidate_pairs``.
    """
    base = df.filter(F.col(str_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(str_col).alias("s")
    )
    s = F.col("s")
    # a small input (one parquet file) scans as ONE partition, and a
    # broadcast probe inherits its parent partitioning — the explode,
    # probe, and levenshtein verification would all run on a single
    # thread. Spread the probe side first; the shuffle moves only the
    # pre-explode (id, s) rows. Inputs already wider than the session
    # parallelism keep their partitioning.
    par = df.sparkSession.sparkContext.defaultParallelism
    if base.rdd.getNumPartitions() < par:
        base = base.repartition(par)
    # one deletion variant PER EXPLODED ROW (position 0 = the string
    # itself): per-row memory stays O(len). Materializing the whole
    # neighborhood as one array value first would hold len+1 strings
    # of ~len chars in a single row — O(len²) bytes inside one task
    # for a long document, the exact shape shingle_rows exists to
    # avoid. Duplicate variants from repeated chars (e.g. "aa" minus
    # either 'a') add candidate rows, discarded by the final distinct.
    keyed = base.select(
        "id", "s",
        F.explode(F.sequence(F.lit(0), F.length(s))).alias("__i"),
    ).select(
        "id",
        "s",
        F.when(F.col("__i") == 0, s)
        .otherwise(
            F.concat(
                s.substr(F.lit(1), F.col("__i") - 1),
                s.substr(F.col("__i") + 1, F.length(s)),
            )
        )
        .alias("k"),
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.col("a.s").alias("s1"),
            F.col("b.s").alias("s2"),
        )
    )
    # verify BEFORE deduplicating: levenshtein is a cheap map-side
    # filter, and the distinct then shuffles only the surviving int
    # pairs instead of every candidate with both strings attached
    return (
        cands.filter(F.levenshtein("s1", "s2") <= 1)
        .select("id1", "id2")
        .distinct()
    )


def exact_substring_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 48,
    kgram: int = 8,
    mod: int = 16,
) -> DataFrame:
    """Exact-substring near-dup pairs: documents sharing a VERBATIM
    ``window``-char span (the exact-substring dedup of Lee et al.,
    "Deduplicating Training Data Makes Language Models Better" —
    re-expressed relationally instead of via a suffix array).

    Content-defined anchoring makes it offset-independent: a position
    is an anchor when the md5 of its ``kgram``-char prefix hashes to
    ``0 mod mod``; both copies of a shared span select the SAME
    anchors regardless of where the span sits in each document, so
    anchored windows align without comparing every offset pair. A
    shared span of length >= window + mod*kgram (expected) contains an
    anchor; the equi-join on the window text is then EXACT — no
    verification step needed, matches are literal string equality.

    Scale shape: ~len/mod anchored rows per document (the explode is
    the only fan-out), one equi-join on 48-char keys, distinct on int
    pairs. Cost ∝ corpus size + true matches, never O(N^2). The same
    skew note as fuzzy_join_dist1 applies to pathological hot windows
    (boilerplate headers): cap or salt oversized window buckets.
    """
    guard, starts = _gram_starts_sql("t", window)
    base = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("t")
    ).where(guard)
    par = df.sparkSession.sparkContext.defaultParallelism
    if base.rdd.getNumPartitions() < par:
        base = base.repartition(par)
    pos = base.selectExpr("id", "t", f"explode({starts}) AS p")
    khash = F.conv(
        F.substring(F.md5(F.col("t").substr(F.col("p"), F.lit(kgram))), 1, 10),
        16, 10,
    ).cast("long")
    anchored = pos.filter(khash % mod == 0).select(
        "id", F.col("t").substr(F.col("p"), F.lit(window)).alias("w")
    )
    a, b = anchored.alias("a"), anchored.alias("b")
    return (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .distinct()
    )
