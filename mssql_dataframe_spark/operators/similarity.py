"""Similarity search over embedding columns (``array<float>``).

Two paths (SURVEY-extension per the driver's north star):
- brute-force cosine top-k — the exact baseline: a join between the
  (small) query set and the corpus, dot products computed with
  built-in ``zip_with``/``aggregate`` expressions in DOUBLE
  (JVM-side, no Python), ranked per query with a window;
- LSH-bucketed ANN — the scale path: deterministic integer random
  hyperplanes hash each vector to a bucket; candidates are generated
  by an equi-join on the bucket id (one shuffle on small keys) and
  only candidates get exact scoring. At 100 TB the bucket join
  replaces the O(N·Q) cross product with O(sum of bucket sizes).

Determinism note: hyperplanes are seeded random small-integer vectors
(full-rank — every table hashes independent directions), and the
projection arithmetic is INTEGER: vectors are quantized to
``floor(v*64 + 0.5)`` int64 first, so dot-product signs are exact in
any summation order and any engine. The DuckDB oracle inlines the same
weight literals; no RNG at query time, no platform drift.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import cache
from ..frames import local_frame


def dot_sql(a: str, b: str, dim: int) -> str:
    """Unrolled dot product as ONE SQL string — parsed in a single
    JVM round-trip. Building the same chain out of ~2·dim Python
    ``Column`` objects costs one py4j call per node and dominates
    plan-build time (measured: ~4 s for 24 planes × 64 dims)."""
    return " + ".join(
        f"element_at({a}, {i}) * element_at({b}, {i})"
        for i in range(1, dim + 1)
    )


def dot(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    """Dot product of two array<double> columns, left-to-right
    accumulation (deterministic — matches a sequential SQL fold).

    With string column names and known ``dim`` (the common case:
    embedding width is fixed schema-side) the product unrolls into a
    flat codegen'd chain via one ``F.expr`` parse; otherwise it falls
    back to the interpreted higher-order ``aggregate`` (same values:
    identical accumulation order, and the 0.0 init of the fold cannot
    change any partial sum).
    """
    if isinstance(a, str) and isinstance(b, str) and dim is not None:
        return F.expr(dot_sql(a, b, dim))
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    if dim is not None:
        expr = F.element_at(ca, 1) * F.element_at(cb, 1)
        for i in range(2, dim + 1):
            expr = expr + F.element_at(ca, i) * F.element_at(cb, i)
        return expr
    return F.aggregate(
        F.zip_with(ca, cb, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column | str, dim: int | None = None) -> Column:
    if isinstance(a, str) and dim is not None:
        return F.expr(f"sqrt({dot_sql(a, a, dim)})")
    return F.sqrt(dot(a, a, dim))


def cosine(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    return dot(a, b, dim) / (norm(a, dim) * norm(b, dim))


def _as_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def _quantize_sql(vec_sql: str, quant: int) -> str:
    """``floor(v*quant + 0.5)`` int64 quantizer — the ONE expression
    every integer-exact path (semantic_dedup, k-means, PQ, ADC query
    tables) must share: cross-path and cross-engine bit-agreement
    rests on all of them quantizing identically. ``0.5D`` is a DOUBLE
    literal (a bare ``0.5`` would be DECIMAL)."""
    return (
        f"transform(CAST({vec_sql} AS array<double>), "
        f"x -> CAST(floor(x * {int(quant)} + 0.5D) AS BIGINT))"
    )


def _quantize_col(vec_col: str, quant: int) -> Column:
    """:func:`_quantize_sql` over a column name, as a Column."""
    return F.expr(_quantize_sql(f"`{vec_col}`", quant))


def _round8_away(x: "np.ndarray") -> "np.ndarray":
    """Round-half-AWAY-from-zero to 8 decimals — the semantics of both
    Spark's ``F.round`` and DuckDB's ``ROUND``. ``np.round`` is
    half-to-even, which disagrees with them exactly at the .5 boundary
    of the 9th decimal; a numpy kernel that feeds a tie-broken
    comparison against either engine must round THIS way."""
    return np.sign(x) * np.floor(np.abs(x) * 1e8 + 0.5) / 1e8


def _drop_null_vectors(df: DataFrame, col_name: str) -> DataFrame:
    """NULL embeddings carry no similarity signal: the SQL paths drop
    them via NULL-propagating cosine, so the numpy kernels filter them
    here for the same result instead of crashing np.stack mid-batch."""
    return df.filter(F.col(col_name).isNotNull())


def brute_force_topk_oracle(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector — the
    RECALL ORACLE, not a production path (hence the ``_oracle``
    suffix): the crossJoin is O(queries x corpus) and exists solely
    to ground-truth ANN recall (ann_recall_at10). At scale use
    :func:`exact_topk_scalable` (broadcast queries, per-partition
    running top-k) or the LSH/IVF approximate indexes.

    Returns (query_id, neighbor_id, cosine_sim, rank). Excludes
    self-matches. Ties break on neighbor id (deterministic).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("__qv")
    ).withColumn("__qnorm", norm("__qv", dim))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("__cv")
    ).withColumn("__cnorm", norm("__cv", dim))
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine_sim",
            F.round(
                dot("__qv", "__cv", dim)
                / (F.col("__qnorm") * F.col("__cnorm")),
                8,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


# LSH hyperplanes: seeded random integers in [-3, 3]. A structured
# formula family (the previous ((i*31+j*17)%7)-3 design) is rank-7 —
# plane j+7 EQUALS plane j, so "independent" tables hashed the same
# directions and multi-table recall stalled near single-table recall.
# True random planes restore the 1-(1-p^P)^L recall curve; quantizing
# vectors to integers makes the projection signs engine-exact.
PLANE_SEED = 7
QUANT = 64  # floor(v*64 + 0.5): ~1.5 decimal digits of the unit scale


def plane_matrix(n_planes_total: int, dim: int, seed: int = PLANE_SEED) -> np.ndarray:
    """(n_planes_total, dim) int64 matrix of hyperplane weights. The
    single source of truth — the Spark bucket UDF and the DuckDB
    oracle literals both come from here."""
    rng = np.random.RandomState(seed)
    return rng.randint(-3, 4, size=(n_planes_total, dim)).astype(np.int64)


def table_buckets_udf(
    dim: int, n_tables: int, n_planes: int, seed: int = PLANE_SEED
):
    """Vectorized bucket computation: one Arrow batch -> one numpy
    matmul against the (L*P, dim) plane matrix -> ``n_tables`` bucket
    ids per row (table t owns planes ``t*P .. t*P+P-1``).

    Arithmetic is integer end-to-end: vectors quantize to
    ``floor(v*QUANT + 0.5)`` int64, so projection signs are exact and
    order-independent — numpy SIMD accumulation, Spark, and the DuckDB
    oracle's ``list_dot_product`` all agree bit-for-bit. This is the
    same Arrow-batch matmul shape as IVF assignment: the embedding
    column crosses the JVM/Python boundary once per row, the plane
    matrix is a task-constant closure (L*P*dim ints, ~12 KB)."""
    W = plane_matrix(n_tables * n_planes, dim, seed)
    pow2 = 1 << np.arange(n_planes, dtype=np.int64)

    @F.pandas_udf("array<long>")
    def buckets(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        X = np.stack(v.to_numpy())  # (B, dim) float64
        Q = np.floor(X * QUANT + 0.5).astype(np.int64)
        bits = (Q @ W.T > 0).astype(np.int64)  # (B, L*P)
        B = bits.reshape(len(X), n_tables, n_planes) @ pow2  # (B, L)
        return pd.Series(list(B))

    return buckets


def duckdb_quantize_sql(vec: str) -> str:
    """DuckDB-side quantizer matching the UDF: float->double cast is
    exact, ``x*64.0 + 0.5`` is one IEEE mult + add, floor is floor —
    identical doubles in, identical int64 out."""
    return f"list_transform({vec}, x -> CAST(floor(x * {QUANT}.0 + 0.5) AS BIGINT))"


def duckdb_bucket_sql(
    qvec: str,
    dim: int,
    n_planes: int,
    plane_start: int = 0,
    seed: int = PLANE_SEED,
) -> str:
    """DuckDB bucket id over a quantized BIGINT list column: weight
    rows ``plane_start .. plane_start+n_planes-1`` of the SAME
    :func:`plane_matrix`, inlined as literals (RandomState draws
    row-major, so a prefix-sized matrix shares rows with the full
    one). Integer dot products (|sum| << 2^53) are exact in
    list_dot_product's double result."""
    W = plane_matrix(plane_start + n_planes, dim, seed)
    terms = []
    for j in range(n_planes):
        lit = "[" + ", ".join(str(int(x)) for x in W[plane_start + j]) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product({qvec}, {lit}::BIGINT[]) > 0 "
            f"THEN {1 << j} ELSE 0 END)"
        )
    return " + ".join(terms)


def n_planes_for(n_rows: int, target_bucket_size: int = 128) -> int:
    """Scale rule: pick the hyperplane count so the expected bucket
    occupancy is ~``target_bucket_size`` (bucket count 2^P grows with
    the corpus — at 100 TB the table does NOT degenerate into a linear
    scan the way a fixed 64-bucket table would)."""
    import math

    if n_rows <= target_bucket_size:
        return 1
    return max(1, math.ceil(math.log2(n_rows / target_bucket_size)))


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 6,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via L independent LSH tables.

    Candidates = union over the ``n_tables`` hash tables of
    bucket-collision pairs (classic multi-table LSH: recall grows as
    1-(1-p^P)^L rather than the poor single-table p^P), then exact
    cosine re-rank of the deduplicated candidate set.

    Scale shape: the candidate generation joins SLIM (id, table,
    bucket) frames — vectors never ride through the explode/shuffle;
    the exact re-rank joins vectors back by id for candidates only.
    Pick ``n_planes`` with :func:`n_planes_for` so bucket count scales
    with the corpus; total buckets = n_tables * 2^n_planes.
    """
    c = _drop_null_vectors(corpus, vec_col).select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("__cv")
    ).withColumn("__cnorm", norm("__cv", dim))
    q = _drop_null_vectors(queries, vec_col).select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("__qv")
    ).withColumn("__qnorm", norm("__qv", dim))

    buckets = table_buckets_udf(dim, n_tables, n_planes)

    def slim(df, id_name, vec_name):
        return df.select(
            id_name, F.posexplode(buckets(vec_name)).alias("t", "bucket")
        )

    c_slim = slim(c, "neighbor_id", "__cv")
    q_slim = slim(q, "query_id", "__qv")
    cand = (
        q_slim.join(c_slim, ["t", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .withColumn(
            "cosine_sim",
            F.round(
                dot("__qv", "__cv", dim)
                / (F.col("__qnorm") * F.col("__cnorm")),
                8,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int | None = None,
    centroid_mod: int = 53,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_codebook: int = 1 << 16,
) -> DataFrame:
    """IVF-style ANN: a deterministic subset of the corpus acts as the
    centroid codebook (ids ≡ 1 mod ``centroid_mod`` — reproducible in
    ANSI SQL, unlike k-means); every corpus vector is assigned to its
    nearest centroid (inverted lists), and each query scores only the
    lists of its ``nprobe`` nearest centroids.

    Scale shape: the codebook is collected once (a real deployment
    caps it at a fixed size, e.g. 2^16 centroids) and BROADCAST INSIDE
    a ``mapInPandas`` closure; assignment matmuls each Arrow batch of
    corpus vectors against the codebook matrix — the corpus crosses the
    JVM/Python boundary once (N×dim doubles), never the N×C cross
    product. The probe join is an equi-join on centroid id; at 100 TB
    the inverted lists would be written bucketed by centroid id so the
    probe join is shuffle-free.
    """
    spark = corpus.sparkSession
    cents_plan = _drop_null_vectors(
        corpus.filter((F.col(id_col) % centroid_mod) == 1), vec_col
    ).select(
        F.col(id_col).alias("cid"), _as_double(vec_col).alias("__cvec")
    ).withColumn("__cnorm", norm("__cvec", dim))
    # bounded collect: limit(cap+1) keeps a misconfigured centroid_mod
    # from OOMing the driver BEFORE the guard below can fire
    cent_rows = sorted(
        cents_plan.limit(max_codebook + 1).collect(), key=lambda r: r["cid"]
    )
    if len(cent_rows) > max_codebook:
        raise ValueError(
            f"IVF codebook has {len(cent_rows)} centroids; cap is "
            f"{max_codebook} — raise centroid_mod or max_codebook"
        )
    # ship the codebook via sc.broadcast: serialized ONCE per executor,
    # not re-pickled into every task closure (matters at the 2^16-
    # centroid production shape)
    bc = spark.sparkContext.broadcast(
        (
            np.array([r["cid"] for r in cent_rows], dtype="int64"),
            np.vstack([r["__cvec"] for r in cent_rows]),  # (C, dim)
            np.array([r["__cnorm"] for r in cent_rows]),
        )
    )

    def assign(batches):
        cid_arr, cmat, cnorms = bc.value
        for pdf in batches:
            V = np.vstack(pdf["__cv"].to_numpy())  # (B, dim)
            vnorms = pdf["__vnorm"].to_numpy()
            scores = _round8_away(
                (V @ cmat.T) / np.outer(vnorms, cnorms)
            )  # (B, C), rounded half-away BEFORE argmax — np.round is
            #    half-to-even and would disagree with the SQL oracle's
            #    ROUND exactly at the 9th-decimal .5 boundary
            # argmax with lowest-cid tie-break (cid_arr ascending, and
            # np.argmax returns the first max)
            best = np.argmax(scores, axis=1)
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf["neighbor_id"],
                    "__cv": pdf["__cv"],
                    "__vnorm": pdf["__vnorm"],
                    "cid": cid_arr[best],
                }
            )

    c = _drop_null_vectors(corpus, vec_col).select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("__cv")
    ).withColumn("__vnorm", norm("__cv", dim))
    assigned = c.mapInPandas(
        assign,
        schema="neighbor_id long, __cv array<double>, __vnorm double, cid long",
    )
    q = _drop_null_vectors(queries, vec_col).select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("__qv")
    ).withColumn("__qnorm", norm("__qv", dim))
    w_probe = Window.partitionBy("query_id").orderBy(
        F.col("__qcos").desc(), F.col("cid").asc()
    )
    # rebuild the (tiny) codebook frame from the rows already
    # collected — reusing the lazy cents_plan here would re-run the
    # full corpus scan + norm a second time for the probe cross join
    cents = local_frame(
        spark, cent_rows, "cid long, __cvec array<double>, __cnorm double"
    )
    probes = (
        q.crossJoin(F.broadcast(cents))
        .withColumn(
            "__qcos",
            F.round(
                dot("__qv", "__cvec", dim)
                / (F.col("__qnorm") * F.col("__cnorm")),
                8,
            ),
        )
        .withColumn("__r", F.row_number().over(w_probe))
        .filter(F.col("__r") <= nprobe)
        .select("query_id", "__qv", "__qnorm", "cid")
    )
    scored = (
        probes.join(assigned, "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine_sim",
            F.round(
                dot("__qv", "__cv", dim)
                / (F.col("__qnorm") * F.col("__vnorm")),
                8,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH buckets + exact
    verification (id1 < id2, cosine >= threshold)."""
    buckets = table_buckets_udf(dim, n_tables=1, n_planes=n_planes)
    v = (
        _drop_null_vectors(df, vec_col)
        .select(F.col(id_col).alias("id"), _as_double(vec_col).alias("__v"))
        .withColumn("bucket", F.element_at(buckets("__v"), 1))
        .withColumn("__n", norm("__v", dim))
        .select("id", "__v", "bucket", "__n")
    )
    a, b = v.alias("a"), v.alias("b")
    # threshold on the RAW cosine (the documented contract, and what
    # the DuckDB twin filters on); rounding is output-rendering only —
    # filtering on the rounded value would admit pairs in
    # [threshold - 5e-9, threshold) that the oracle rejects
    raw = dot("a.__v", "b.__v", dim) / (F.col("a.__n") * F.col("b.__n"))
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .withColumn("__raw", raw)
        .filter(F.col("__raw") >= threshold)
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.round(F.col("__raw"), 8).alias("cosine_sim"),
        )
    )


def int8_quantize(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the standard 4x
    compression for embedding storage/serving at corpus scale:
    ``scale = max(|x|)/127``, ``q_i = round(x_i/scale)`` in [-127,127].

    Returns one row per (vector, position): ``(id, pos, qval, scale)``
    — exploded so downstream bucket/join logic (and the cross-engine
    oracle) works on scalar columns. All arithmetic is double-precision
    IEEE on JVM-side built-ins; zero vectors quantize to all-zero with
    scale 0 rather than dividing by zero.

    Scale shape: narrow per-row transform + explode; no shuffle. At
    100 TB the output is columnar int8 + one float scale per vector —
    write it partitioned by the downstream join key.
    """
    v = F.col(vec_col)
    scale = (
        F.array_max(F.transform(v, lambda x: F.abs(x))).cast("double")
        / F.lit(127.0)
    ).alias("scale")
    exploded = df.select(F.col(id_col), scale, F.posexplode(v).alias("pos", "x"))
    qval = F.when(F.col("scale") == 0, F.lit(0)).otherwise(
        F.round(F.col("x").cast("double") / F.col("scale"))
    )
    return exploded.select(
        id_col,
        F.col("pos").cast("int").alias("pos"),
        qval.cast("int").alias("qval"),
        F.col("scale"),
    )


def semantic_dedup(
    embeddings: DataFrame,
    k: int = 8,
    tau_sq_bp: int = 8100,
    quant: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster embeddings to
    ``k`` deterministic centroids, pick one representative per cluster
    (min id), and flag every member whose cosine similarity to its
    cluster representative clears ``sqrt(tau_sq_bp/10000)`` as a
    semantic duplicate. Returns ``(vec_id, cluster_id, is_dup)``.

    Exactness: vectors are quantized ``floor(v*quant + 0.5)`` with a
    power-of-two ``quant`` (multiplication by 2^n is exact in binary
    FP, so the quantized ints are bit-identical on any engine), and
    the cosine test runs entirely in int64 —
    ``10000*dot^2 >= tau_sq_bp * |a|^2 * |b|^2`` with ``dot > 0`` —
    no float comparisons anywhere, so the keep/drop verdict cannot
    straddle an ulp. Centroids are the ``k`` min-id vectors (ANSI-SQL
    reproducible, like ivf_topk's codebook); assignment minimizes the
    integer squared L2 distance with lowest-cid tie-break.

    Scale shape: centroids broadcast (k rows) into a map-side cross
    join; the argmin is ONE combiner aggregation keyed on the vector
    id (the min-struct reduces the k-fan map-side, and its (dist, cid)
    prefix is unique per id so the carried q/nv tail never influences
    the ordering); representatives are a k-row aggregate broadcast
    back. No shuffle ever carries more than the corpus itself. For a
    production k ~ sqrt(N) codebook, swap the cross join for the
    ivf_topk mapInPandas matmul assignment — the cluster/represent/
    flag pipeline downstream is unchanged.
    """
    def dot(x: str, y: str) -> str:
        return (
            f"aggregate(zip_with({x}, {y}, (u, v) -> u * v), "
            "CAST(0 AS BIGINT), (acc, w) -> acc + w)"
        )

    # every frame below is ONE SQL-string projection: plan construction
    # is a few py4j round trips instead of one per Column operator
    qe = embeddings.selectExpr(
        f"`{id_col}` AS vec_id", f"{_quantize_sql(f'`{vec_col}`', quant)} AS q"
    ).selectExpr("vec_id", "q", f"{dot('q', 'q')} AS nv")

    cent = qe.orderBy(qe["vec_id"]).limit(k).selectExpr(
        "CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid",
        "q AS cq",
        "nv AS nc",
    )

    # NOTE (r14 optimization pass): a map-side argmin here (the
    # _argmin_sql shape that removed kmeans/PQ's per-pass corpus
    # shuffle) was tested and REJECTED for this operator: without the
    # groupBy exchange there is no reuse point, so the representative
    # aggregate and the final join each re-ran the quantize + argmin
    # scan (0.85 s -> 1.41 s; persisting the grid still measured
    # 1.27 s with +4 cache jobs). The combiner aggregation below keeps
    # ONE corpus pass whose exchange both downstream consumers reuse.
    # assign carries the winning (dist, cid, q, nv) struct as m; the
    # consumers read its fields instead of an unpacking projection
    fanned = qe.crossJoin(F.broadcast(cent)).selectExpr(
        "vec_id", f"struct(nv + nc - 2 * {dot('q', 'cq')} AS dist, cid, q, nv) AS s"
    )
    assign = fanned.groupBy(fanned["vec_id"]).agg(F.expr("min(s) AS m"))
    rep = assign.groupBy(F.expr("m.cid AS cid")).agg(
        F.expr("min(struct(vec_id AS rep_id, m.q AS rq, m.nv AS nr)) AS r")
    )

    # the squared-cosine cross-multiplication runs in DECIMAL(38,0):
    # in int64 it overflows once 10000*rdot^2 ~ 2^63 — an L2 norm of
    # only ~5.7 at quant=1024 (any unnormalized corpus), where ANSI
    # mode would abort the job and legacy mode would silently flip
    # verdicts. Decimal38 matches the DuckDB oracle's HUGEINT
    # exactness envelope (|v| up to ~3000 at quant=1024); both sides
    # are integers, so the verdict still cannot straddle an ulp.
    rdot = dot("m.q", "r.rq")
    d38 = "DECIMAL(38,0)"
    return assign.join(F.broadcast(rep), F.expr("m.cid = cid")).selectExpr(
        "vec_id",
        "cid AS cluster_id",
        f"vec_id != r.rep_id AND {rdot} > 0"
        f" AND CAST(10000 AS {d38}) * CAST({rdot} AS {d38}) * CAST({rdot} AS {d38})"
        f" >= CAST({int(tau_sq_bp)} AS {d38})"
        f" * CAST(m.nv AS {d38}) * CAST(r.nr AS {d38}) AS is_dup",
    )


def _q_sqsum(c: Column) -> Column:
    """Exact int64 squared norm of a quantized vector column."""
    return F.aggregate(
        F.transform(c, lambda x: x * x),
        F.lit(0).cast("long"), lambda a, x: a + x,
    )


#: hard cap on the k*dim int64 literals _argmin_sql inlines into one
#: SQL expression (~2 MB of text at the cap — parse/analysis stays
#: sub-second there; production PQ codebooks are k<=256 over <=512-dim
#: subspaces = 131072 literals, half the cap)
ARGMIN_SQL_MAX_LITERALS = 1 << 18


def _argmin_sql(cents_rows: list, q: str = "q", nv: str = "nv") -> str:
    """SQL text for the MAP-SIDE integer-squared-L2 argmin over a
    centroid list known on the driver: ``array_min`` over one
    ``named_struct('dist', .., 'cid', ..)`` per centroid — the (dist,
    cid) struct ordering IS the lowest-cid tie-break the old
    ``min(struct(dist, cid, ..))`` aggregation used, and the
    arithmetic (``nv + nc - 2 * dot`` with an int64 zip_with/aggregate
    dot product) is token-identical to the aggregation form, so
    results are bit-equal. The win is structural: the argmin happens
    inside the scan projection, so NO shuffle ever carries the corpus
    vectors — the old crossJoin + groupBy(vec_id) shape exchanged
    every vector's array once per assignment pass (guide §2.3/§2.4:
    the argmin over k broadcast-size centroids never needed a
    shuffle). Emitted as one SQL string (one py4j round trip, the
    round's expression-tree lesson); k*dim integer literals in the
    plan are the same bytes the broadcast shipped before.

    Guarded by ``ARGMIN_SQL_MAX_LITERALS`` (ADVICE r14): the literal
    array grows as k*dim ints, and far past typical codebook sizes
    (k=256 at dim<=512 stays well under the cap) the multi-MB
    expression text risks slow analysis / Janino constant-pool limits
    the old broadcast shape never had — refuse loudly instead."""
    n_literals = sum(len(cq) for _, cq in cents_rows)
    if n_literals > ARGMIN_SQL_MAX_LITERALS:
        raise ValueError(
            f"map-side argmin over {n_literals} centroid literals "
            f"(k={len(cents_rows)}) exceeds ARGMIN_SQL_MAX_LITERALS="
            f"{ARGMIN_SQL_MAX_LITERALS}; reduce the codebook size or "
            "dimensionality (the inlined-literal plan would be "
            "multi-MB and risks codegen/analysis limits)"
        )
    items = ",".join(
        "named_struct('cid', {cid}, 'cq', array({cq}), 'nc', {nc}L)".format(
            cid=int(cid),
            cq=",".join(f"{int(x)}L" for x in cq),
            nc=sum(int(x) * int(x) for x in cq),
        )
        for cid, cq in cents_rows
    )
    return (
        f"array_min(transform(array({items}), c -> named_struct("
        f"'dist', {nv} + c.nc - 2 * aggregate("
        f"zip_with({q}, c.cq, (x, y) -> x * y), 0L, (acc, v) -> acc + v), "
        f"'cid', c.cid)))"
    )


def _lloyd_assign(spark, e: DataFrame, cents_rows: list) -> DataFrame:
    """One integer-exact Lloyd assignment pass: ``e`` carries
    (vec_id, q, nv); each vector takes its integer-squared-L2 argmin
    with lowest-cid tie-break, computed MAP-SIDE against the centroid
    literal array (see :func:`_argmin_sql` — zero shuffles; the old
    crossJoin + groupBy(vec_id) argmin exchanged the full corpus,
    vectors included, once per pass). Shared by kmeans_quantized and
    the per-subspace PQ loop so the bit-reproducible arithmetic has
    exactly one implementation."""
    return (
        e.select(
            "vec_id", F.expr(_argmin_sql(cents_rows)).alias("m"), "q"
        )
        .select(
            "vec_id",
            F.col("m.dist").alias("dist"),
            F.col("m.cid").alias("cid"),
            "q",
        )
    )


def _lloyd_train(spark, e: DataFrame, cents: list, iters: int) -> list:
    """``iters - 1`` Lloyd update rounds (the final assignment is the
    caller's): round-half-up integer centroid means, empty clusters
    keep their previous centroid. Collects only k*dim ints per round."""
    for _ in range(iters - 1):
        assign = _lloyd_assign(spark, e, cents)
        means = (
            assign.select("cid", F.posexplode("q").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "s", "n"))
                    ),
                    lambda t: F.floor(
                        (2 * t["s"] + t["n"]) / (2.0 * t["n"])
                    ).cast("long"),
                ).alias("cq")
            )
            .collect()
        )
        got = {r["cid"]: list(r["cq"]) for r in means}
        cents = [(cid, got.get(cid, cq)) for cid, cq in cents]
    return cents


def kmeans_quantized(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 3,
    quant: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Integer-exact Lloyd k-means over an embedding column — the
    codebook trainer behind IVF inverted lists and SemDeDup clusters.

    Every quantity lives on the ``1/quant`` grid as int64: vectors are
    quantized ``floor(v*quant + 0.5)`` (power-of-two quant => exact in
    binary FP), assignment minimizes integer squared L2 with
    lowest-cid tie-break, and the centroid update is the round-half-up
    integer mean ``floor((2*s + n) / (2n))`` per coordinate (numerator
    < 2^53, so the double division is exact). Lloyd's loop is
    therefore BIT-REPRODUCIBLE on any engine, any partitioning, any
    reduction order — unlike float k-means, whose per-cluster mean
    depends on summation order. Init = the k min-id vectors; an empty
    cluster keeps its previous centroid.

    Returns one row per cluster: (cid, n_members, inertia_q) after
    ``iters`` assignment/update rounds — inertia in squared grid
    units, an exact int64.

    Scale shape: the quantized corpus is computed once and persisted;
    each iteration is one map-side cross join against the k broadcast
    centroids, one combiner argmin keyed on the vector id, and one
    (cid, pos) combiner aggregation whose k*dim output is collected to
    the driver for the next broadcast (the classic broadcast-iteration
    pattern; k*dim ints, never data). Driver loop runs ``iters``
    times — at 100 TB each round is a single pass over the corpus, so
    train on a sample and assign the full corpus once, exactly like
    production IVF training.
    """
    qcol = _quantize_col(vec_col, quant)
    spark = embeddings.sparkSession
    # kept for the training collects AND the returned plan, so the
    # session owns it (cache.release() frees it): releasing it before
    # return would force the final assignment to re-scan and
    # re-quantize the corpus
    qe = cache.keep(
        embeddings.select(F.col(id_col).alias("vec_id"), qcol.alias("q"))
        .withColumn("nv", _q_sqsum(F.col("q")))
    )
    init = qe.orderBy("vec_id").limit(k).collect()
    cents = [(i, list(r["q"])) for i, r in enumerate(init)]
    cents = _lloyd_train(spark, qe, cents, iters)
    final = _lloyd_assign(spark, qe, cents)
    out = final.groupBy("cid").agg(
        F.count("*").alias("n_members"),
        F.sum("dist").alias("inertia_q"),
    )
    return out.select("cid", "n_members", "inertia_q")


def pq_train_encode(
    embeddings: DataFrame,
    m: int = 2,
    k: int = 4,
    iters: int = 2,
    quant: int = 1024,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    _return_codebooks: bool = False,
    _include_q: bool = False,
) -> DataFrame | tuple:
    """Product quantization (the IVF-PQ compression standard for
    billion-vector ANN): the vector is split into ``m`` contiguous
    subspaces of ``dim/m`` coordinates, an integer-exact Lloyd
    codebook of ``k`` centroids is trained PER SUBSPACE (the
    :func:`kmeans_quantized` arithmetic — quantized grid, lowest-cid
    tie-break, round-half-up integer means, empty clusters keep their
    centroid — so training is bit-reproducible on any engine), and
    each vector is encoded as ``m`` small code ids. Memory per vector
    drops from ``dim`` floats to ``m`` bytes (k <= 256); search-time
    asymmetric distance is ``m`` table lookups.

    Returns one row per vector: ``(vec_id, code_0..code_{m-1},
    recon_err_q)`` — the codes and the exact int64 squared
    reconstruction error (sum over subspaces of ||sub - centroid||²
    in grid units), the quantity PQ training minimizes.

    Scale shape: the quantized corpus is computed once and persisted;
    per subspace each Lloyd round is one map-side cross join against
    k broadcast centroids + one combiner argmin + one (cid, pos)
    combiner mean whose k*dim/m ints are collected for the next
    broadcast — vectors never shuffle. Encoding is ONE map-side
    projection computing all m argmins per row (no per-subspace
    frames, no id join — the codes frame has zero shuffles end to
    end), and m is a constant (8-16 in production).
    """
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    sub = dim // m
    spark = embeddings.sparkSession
    qcol = _quantize_col(vec_col, quant)
    # kept for the m training loops AND the returned plan's m
    # assignment branches, so the session owns it (releasing it before
    # return would re-scan and re-quantize the corpus once per subspace
    # at action time)
    qe = cache.keep(embeddings.select(
        F.col(id_col).alias("vec_id"),
        *[
            F.slice(qcol, s * sub + 1, sub).alias(f"q{s}")
            for s in range(m)
        ],
    ))
    init = qe.orderBy("vec_id").limit(k).collect()

    # the m per-subspace Lloyd trainings are INDEPENDENT driver loops
    # (each round blocks on a k*dim/m-int collect); running them
    # sequentially leaves the cluster idle during every round's
    # driver turnaround. A small thread pool overlaps them (guide
    # §2.6 — concurrent jobs back-fill each other's stragglers);
    # results are bit-identical because each subspace's training is
    # deterministic and touches only its own slice of the persisted
    # quantized corpus.
    def _train(s: int) -> list:
        e = qe.select("vec_id", F.col(f"q{s}").alias("q")).withColumn(
            "nv", _q_sqsum(F.col("q"))
        )
        cents = [(i, list(r[f"q{s}"])) for i, r in enumerate(init)]
        return _lloyd_train(spark, e, cents, iters)

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(m, 8)) as pool:
        codebooks = list(pool.map(_train, range(m)))

    # encode all m subspaces in ONE map-side projection over the
    # persisted quantized corpus: each subspace's argmin is a
    # _argmin_sql expression (zero shuffles), so the old shape — m
    # per-subspace assignment frames, each paying a full-corpus
    # groupBy exchange, re-joined m-1 times on vec_id — collapses to a
    # single scan with no join at all. Arithmetic per subspace is the
    # same _lloyd_assign argmin; recon_err_q is the same int64 sum.
    # _include_q additionally emits the full quantized vector (the
    # contiguous subspace slices re-concatenated) so ivfpq_topk can
    # fold its coarse assignment into THIS scan instead of joining the
    # codes to a second corpus scan on vec_id.
    # per-subspace squared norms are projected as COLUMNS first, so
    # each is evaluated once per row — spliced into _argmin_sql's
    # transform lambda they were re-evaluated once per centroid
    # (k times per row; ADVICE r14). Same arithmetic, same results.
    normed = qe.selectExpr(
        "vec_id",
        *[f"q{s}" for s in range(m)],
        *[
            f"aggregate(transform(q{s}, z -> z * z), 0L, "
            f"(sa, sv) -> sa + sv) AS __nv{s}"
            for s in range(m)
        ],
    )
    mins = normed.selectExpr(
        "vec_id",
        *[
            _argmin_sql(cents, q=f"q{s}", nv=f"__nv{s}") + f" AS __m{s}"
            for s, cents in enumerate(codebooks)
        ],
        *(
            ["concat({}) AS __q".format(
                ", ".join(f"q{s}" for s in range(m))
            )]
            if _include_q
            else []
        ),
    )
    err = " + ".join(f"__m{s}.dist" for s in range(m))
    res = mins.selectExpr(
        "vec_id",
        *[f"__m{s}.cid AS code_{s}" for s in range(m)],
        f"CAST({err} AS BIGINT) AS recon_err_q",
        *(["__q"] if _include_q else []),
    )
    if _return_codebooks:
        return res, codebooks
    return res


def pq_adc_topk(
    embeddings: DataFrame,
    query_ids: list,
    topk: int = 5,
    m: int = 2,
    k: int = 4,
    iters: int = 2,
    quant: int = 1024,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance PQ search: train + encode via
    :func:`pq_train_encode`, then answer each query with ``m`` table
    lookups per corpus vector — the IVF-PQ scan stage. Per query and
    subspace, the exact int64 distances from the query's subvector to
    the k centroids form a k-entry table; a vector's ADC score is the
    sum of its codes' table entries. Deterministic end-to-end (the
    quantized-grid contract), ties broken on ascending vector id.

    Returns ``(query_id, rank, vec_id, adc_score_q)`` rows, ``topk``
    per query.

    Scale shape: the per-query tables are m*k integers — broadcast
    joined onto the encoded corpus (one narrow scan of the m code
    columns; the original vectors are never touched at search time,
    which is the entire point of PQ). Top-k uses the
    :func:`exact_topk_scalable` shape: a per-partition running top-k
    inside the scoring scan (Arrow-batched, no shuffle of the scored
    corpus — a per-query global window here would funnel the ENTIRE
    scored corpus into one task per query), then one tiny window over
    the ``partitions x Q x topk`` surviving candidates. Per-partition
    pruning is lossless: a global top-k row is top-k within its own
    partition under the same (score asc, vec_id asc) total order. At
    production scale an IVF coarse quantizer prunes the corpus to
    nprobe inverted lists before this scan (see ivf_topk) — ADC is
    the within-list scorer.
    """
    encoded, codebooks = pq_train_encode(
        embeddings, m=m, k=k, iters=iters, quant=quant, dim=dim,
        id_col=id_col, vec_col=vec_col, _return_codebooks=True,
    )
    sub = dim // m
    qrows = _pq_query_rows(embeddings, query_ids, quant, id_col, vec_col)
    tables = _adc_tables(
        embeddings.sparkSession, qrows, codebooks, m, sub,
        embeddings.schema[id_col].dataType,
    )
    scored = encoded.select("vec_id", *[f"code_{s}" for s in range(m)])
    return _adc_score_topk(
        scored, tables, m, topk,
        embeddings.schema[id_col].dataType,
        encoded.schema["vec_id"].dataType,
    )


def _pq_query_rows(embeddings, query_ids, quant, id_col, vec_col):
    """Collect the query vectors on the quantized grid (few rows —
    the explicit query-id list)."""
    return (
        embeddings.filter(F.col(id_col).isin(list(query_ids)))
        .select(
            F.col(id_col).alias("query_id"),
            _quantize_col(vec_col, quant).alias("q"),
        )
        .collect()
    )


def _adc_tables(spark, qrows, codebooks, m, sub, query_id_type):
    """Per-(query, subspace, centroid) exact distance table — m*k ints
    per query, computed driver-side on the quantized grid. The
    query_id column keeps the id column's own type so non-integer
    document keys work too."""
    from pyspark.sql import types as T

    table_rows = []
    for r in qrows:
        qv = list(r["q"])
        for s in range(m):
            u = qv[s * sub:(s + 1) * sub]
            for cid, cq in codebooks[s]:
                d = sum((a - b) * (a - b) for a, b in zip(u, cq))
                table_rows.append((r["query_id"], s, cid, d))
    return local_frame(spark, table_rows, T.StructType([
        T.StructField("query_id", query_id_type),
        T.StructField("s", T.IntegerType()),
        T.StructField("cid", T.IntegerType()),
        T.StructField("d", T.LongType()),
    ]))


def _adc_score_topk(scored, tables, m, topk, query_id_type, vec_id_type):
    """ADC-score a codes frame against broadcast per-query tables and
    return ``(query_id, rank, vec_id, adc_score_q)`` top-k per query.

    ``scored`` carries ``vec_id, code_0..code_{m-1}`` and optionally a
    ``query_id`` (pre-probed IVF candidates); without one, the first
    table join fans each vector out to every query (flat ADC scan).
    Top-k is a per-partition running top-k inside the scoring scan
    (Arrow-batched; the accumulator never exceeds Q x topk rows) plus
    one tiny window over the surviving candidates — never a global
    per-query window over the full scored corpus.
    """
    has_query = "query_id" in scored.columns
    for s in range(m):
        t_s = tables.filter(F.col("s") == s).select(
            "query_id",
            F.col("cid").alias(f"code_{s}"),
            F.col("d").alias(f"__t{s}"),
        )
        on = (
            ["query_id", f"code_{s}"]
            if s or has_query
            else [f"code_{s}"]
        )
        scored = scored.join(F.broadcast(t_s), on)
    score = sum(
        (F.col(f"__t{s}") for s in range(1, m)), F.col("__t0")
    ).cast("long")
    cand = scored.withColumn("adc_score_q", score).select(
        "query_id", "vec_id", "adc_score_q"
    )

    def local_topk(batches):
        # running per-query top-k across the partition's Arrow batches:
        # the accumulator never exceeds Q x topk rows, and only those
        # survivors leave the scan stage (dtype-agnostic: pandas sorts
        # whatever the id column's type is)
        acc = None
        for pdf in batches:
            frame = pdf if acc is None else pd.concat(
                [acc, pdf], ignore_index=True
            )
            acc = (
                frame.sort_values(["adc_score_q", "vec_id"], kind="stable")
                .groupby("query_id", sort=False)
                .head(topk)
            )
        if acc is not None:
            yield acc

    from pyspark.sql import types as _T

    cand_schema = _T.StructType([
        _T.StructField("query_id", query_id_type),
        _T.StructField("vec_id", vec_id_type),
        _T.StructField("adc_score_q", _T.LongType()),
    ])
    cand = cand.mapInPandas(local_topk, schema=cand_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_score_q").asc(), F.col("vec_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", "rank", "vec_id", "adc_score_q")
    )


def ivfpq_topk(
    embeddings: DataFrame,
    query_ids: list,
    topk: int = 5,
    m: int = 2,
    k: int = 4,
    iters: int = 2,
    quant: int = 1024,
    dim: int = 64,
    centroid_mod: int = 53,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_codebook: int = 1 << 16,
) -> DataFrame:
    """IVF-PQ search (the billion-vector ANN standard, FAISS
    ``IVFx,PQy`` with ``by_residual=False``): a coarse inverted-file
    quantizer prunes the corpus to each query's ``nprobe`` nearest
    lists, and PQ asymmetric distance scores only those candidates
    from their ``m`` code bytes — the original vectors are read once
    at build time and never at search time.

    Deterministic end-to-end: the coarse codebook is the ids ≡ 1 mod
    ``centroid_mod`` subset (reproducible in ANSI SQL, the ivf_topk
    convention), coarse assignment is exact int64 L2 on the quantized
    grid with lowest-centroid tie-break, PQ training is the
    integer-exact Lloyd of :func:`pq_train_encode`, and ranking ties
    break on ascending vector id.

    Returns ``(query_id, rank, vec_id, adc_score_q)``, up to ``topk``
    per query (a query probing sparse lists may return fewer).

    Scale shape: the coarse codebook is collected once (capped at
    ``max_codebook``) and ships via ``sc.broadcast`` into ONE
    Arrow-batched assignment pass (each corpus vector crosses the
    boundary once; the N×C distance matrix never materializes
    row-wise). The PQ codes ride through that same pass — they are
    map-side expressions over the same quantized corpus — so the index
    (vec_id, codes, ccid) is built in ONE scan with no id join; at
    100 TB the index is written bucketed by ccid, so the probe
    equi-join is shuffle-free and search touches only
    ``nprobe/C`` of the codes. The probe pair list (Q × nprobe) and
    the ADC tables (Q × m × k ints) broadcast; top-k uses the
    per-partition running accumulator, never a full-corpus window.
    """
    import numpy as np

    encoded, codebooks = pq_train_encode(
        embeddings, m=m, k=k, iters=iters, quant=quant, dim=dim,
        id_col=id_col, vec_col=vec_col, _return_codebooks=True,
        _include_q=True,
    )
    sub = dim // m
    spark = embeddings.sparkSession
    id_type = embeddings.schema[id_col].dataType

    qcol = _quantize_col(vec_col, quant)
    # slice to exactly ``dim`` components: the assignment pass's V is
    # built from __q = concat(q0..q{m-1}) (dim elements by
    # construction), so the centroid matrix must use the same
    # dim-truncated representation — a longer embedding column would
    # otherwise shape-error the V @ cm.T matmul (ADVICE r14)
    qn = _drop_null_vectors(embeddings, vec_col).select(
        F.col(id_col).alias("vec_id"), F.slice(qcol, 1, dim).alias("q")
    )
    # bounded collect: the cap guard must fire BEFORE an unbounded
    # codebook can OOM the driver
    cent_rows = sorted(
        qn.filter((F.col("vec_id") % centroid_mod) == 1)
        .limit(max_codebook + 1).collect(),
        key=lambda r: r["vec_id"],
    )
    if len(cent_rows) > max_codebook:
        raise ValueError(
            f"IVF codebook has {len(cent_rows)} centroids; cap is "
            f"{max_codebook} — raise centroid_mod or max_codebook"
        )
    cid_arr = np.array([r["vec_id"] for r in cent_rows], dtype="int64")
    cmat = np.vstack([r["q"] for r in cent_rows]).astype("int64")
    cnorm = (cmat * cmat).sum(axis=1)
    bc = spark.sparkContext.broadcast((cid_arr, cmat, cnorm))

    code_cols = [f"code_{s}" for s in range(m)]

    def assign(batches):
        cids, cm, cn = bc.value
        for pdf in batches:
            V = np.vstack(pdf["q"].to_numpy()).astype("int64")
            vn = (V * V).sum(axis=1)
            dist = vn[:, None] + cn[None, :] - 2 * (V @ cm.T)
            # argmin returns the FIRST minimum; cids ascend, so ties
            # break on the lowest centroid id like the SQL oracle
            best = np.argmin(dist, axis=1)
            out = {"vec_id": pdf["vec_id"]}
            out.update({c: pdf[c] for c in code_cols})
            out["ccid"] = cids[best]
            yield pd.DataFrame(out)

    from pyspark.sql import types as _T

    # the PQ codes ride THROUGH the coarse-assignment scan (they are
    # map-side expressions over the same persisted quantized corpus),
    # so the index (vec_id, codes, ccid) is built in ONE pass — the
    # old shape scanned the corpus a second time for the coarse
    # assignment and shuffle-joined codes to it on vec_id. The NULL
    # filter on the re-concatenated vector reproduces
    # _drop_null_vectors' row set (quantization is NULL-propagating).
    assigned = (
        encoded.filter(F.col("__q").isNotNull())
        .select("vec_id", *code_cols, F.col("__q").alias("q"))
        .mapInPandas(
            assign,
            schema=_T.StructType(
                [
                    _T.StructField(
                        "vec_id", encoded.schema["vec_id"].dataType
                    ),
                ]
                + [
                    _T.StructField(c, encoded.schema[c].dataType)
                    for c in code_cols
                ]
                + [_T.StructField("ccid", _T.LongType())]
            ),
        )
    )

    # probes: exact int64 distance of each (few) collected query to
    # the coarse codebook, driver-side — Q × nprobe pairs, broadcast
    qrows = _pq_query_rows(embeddings, query_ids, quant, id_col, vec_col)
    probe_rows = []
    for r in qrows:
        # same dim truncation as the centroid matrix above
        qv = np.array(r["q"][:dim], dtype="int64")
        d = ((cmat - qv[None, :]) ** 2).sum(axis=1)
        order = np.lexsort((cid_arr, d))
        for ci in order[:nprobe]:
            probe_rows.append((r["query_id"], int(cid_arr[ci])))
    probes = local_frame(spark, probe_rows, _T.StructType([
        _T.StructField("query_id", id_type),
        _T.StructField("ccid", _T.LongType()),
    ]))

    cand = assigned.join(F.broadcast(probes), "ccid").drop("ccid")
    tables = _adc_tables(spark, qrows, codebooks, m, sub, id_type)
    return _adc_score_topk(
        cand, tables, m, topk, id_type,
        encoded.schema["vec_id"].dataType,
    )


def exact_topk_scalable(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = QUANT,
    max_queries: int = 1 << 14,
) -> DataFrame:
    """Exact top-k cosine neighbors, LINEAR in the corpus size.

    :func:`brute_force_topk_oracle` is the recall oracle but materializes
    |Q|x|N| scored rows through a window shuffle — quadratic traffic
    that dies at 100 TB. Here the (small) query set is collected once,
    broadcast to executors, and a ``mapInPandas`` kernel streams each
    corpus partition through one int64 numpy matmul per Arrow batch,
    keeping a running per-query top-k inside the partition. Only
    ``partitions x Q x k`` candidate rows ever leave the scan stage;
    one tiny window pass merges them into the global answer. No N x Q
    rows exist anywhere — same single-pass shape as IVF assignment.

    Determinism (the established quantized contract of this module):
    vectors quantize to ``floor(v*quant + 0.5)`` int64, so dot
    products are exact integers in any summation order; the score
    ``dot / (sqrt(|q|^2) * sqrt(|c|^2))`` is one IEEE divide over two
    correctly-rounded sqrts of exact integers — bit-identical in
    numpy, the JVM, and DuckDB. Ties break on neighbor id. Per-
    partition pruning is lossless: a global top-k row is top-k within
    its own partition under the same total order.
    """
    # id-type contract: this kernel packs ids into int64 numpy arrays
    # for the running top-k (the speed path). Non-integral keys raise
    # HERE with a pointer to the path that preserves them, instead of
    # a deep numpy ValueError mid-job.
    for side, frame in (("queries", queries), ("corpus", corpus)):
        if frame.schema[id_col].dataType.simpleString() not in (
            "tinyint", "smallint", "int", "bigint"
        ):
            raise TypeError(
                f"exact_topk_scalable requires integral {id_col!r} ids "
                f"({side} side is "
                f"{frame.schema[id_col].dataType.simpleString()}) — map "
                "string keys to a surrogate int first, or use "
                "pq_adc_topk, which preserves arbitrary id types"
            )
    q_rows = (
        _drop_null_vectors(queries, vec_col).select(
            F.col(id_col).alias("query_id"), _as_double(vec_col).alias("__qv")
        )
        .collect()
    )
    if len(q_rows) > max_queries:
        raise ValueError(
            f"{len(q_rows)} query vectors; cap is {max_queries} — "
            "batch the query set (each batch is one linear scan)"
        )
    q_ids = np.array([r["query_id"] for r in q_rows], dtype=np.int64)
    Qm = np.floor(
        np.vstack([r["__qv"] for r in q_rows]) * quant + 0.5
    ).astype(np.int64)  # (Q, dim)
    qn = np.sqrt((Qm * Qm).sum(axis=1).astype(np.float64))  # exact ints in
    bc = corpus.sparkSession.sparkContext.broadcast((q_ids, Qm, qn))

    def scan(batches):
        qids, Qm_, qn_ = bc.value
        nq = len(qids)
        # running per-query top-k across the partition's batches
        acc_ids = [np.empty(0, dtype=np.int64) for _ in range(nq)]
        acc_sc = [np.empty(0, dtype=np.float64) for _ in range(nq)]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = np.floor(
                np.stack(pdf["__cv"].to_numpy()) * quant + 0.5
            ).astype(np.int64)  # (B, dim)
            nid = pdf["neighbor_id"].to_numpy()
            cn = np.sqrt((C * C).sum(axis=1).astype(np.float64))
            dots = (C @ Qm_.T).astype(np.float64)  # exact: |dot| << 2^53
            with np.errstate(divide="ignore", invalid="ignore"):
                S = dots / np.outer(cn, qn_)  # (B, Q) IEEE div of exacts
            S = np.nan_to_num(S, nan=-np.inf)
            for j in range(nq):
                s = S[:, j]
                keep = nid != qids[j]  # exclude self-match
                ids = np.concatenate([acc_ids[j], nid[keep]])
                sc = np.concatenate([acc_sc[j], s[keep]])
                if len(ids) > k:
                    # total order: score desc, neighbor_id asc
                    order = np.lexsort((ids, -sc))[:k]
                    ids, sc = ids[order], sc[order]
                acc_ids[j], acc_sc[j] = ids, sc
        out_q, out_n, out_s = [], [], []
        for j in range(nq):
            out_q.extend([qids[j]] * len(acc_ids[j]))
            out_n.extend(acc_ids[j].tolist())
            out_s.extend(acc_sc[j].tolist())
        yield pd.DataFrame(
            {
                "query_id": pd.Series(out_q, dtype="int64"),
                "neighbor_id": pd.Series(out_n, dtype="int64"),
                "score": pd.Series(out_s, dtype="float64"),
            }
        )

    c = _drop_null_vectors(corpus, vec_col).select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("__cv")
    )
    cand = c.mapInPandas(
        scan, schema="query_id long, neighbor_id long, score double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("score"), 8).alias("cosine_sim"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )
