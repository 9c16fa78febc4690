"""ANN quality gates: approximate indexes must actually retrieve true
neighbors, not just run.

Two regimes, matching the two workloads:

- **LSH** exists for high-similarity retrieval (near-duplicate
  detection): on a corpus with planted near-duplicates (cosine ~0.98)
  the production 4-table x 6-plane config must find >= 90% of the
  planted neighbors. (On the weak-signal embeddings table — top-10
  cosine ~0.3 vs background ~0.0 — NO sign-LSH config can prune and
  recall at once; that regime belongs to IVF.)
- **IVF** is the general top-k path: recall@10 vs the exact
  brute-force baseline on the real embeddings table.

These tests pinned down a real bug: the original structured plane
family ((i*31+j*17)%7)-3 was rank-7 (plane j+7 == plane j), so the
4 "independent" tables hashed identical directions and planted-pair
recall sat at ~0.35 where the 1-(1-p^P)^L curve predicts ~0.99.
"""

from __future__ import annotations

import numpy as np
import pytest

from mssql_dataframe_spark.operators import similarity as S
from mssql_dataframe_spark.queries import _t


def _topk_sets(df):
    out: dict[int, set[int]] = {}
    for row in df.collect():
        out.setdefault(row["query_id"], set()).add(row["neighbor_id"])
    return out


def test_lsh_finds_planted_near_duplicates(spark):
    rng = np.random.RandomState(42)
    base = rng.randn(500, 64)
    qv = base[:40] + rng.randn(40, 64) * 0.18  # cosine ~0.98 to base twin
    corpus = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in enumerate(base)],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(int(1000 + i), [float(x) for x in v]) for i, v in enumerate(qv)],
        "vec_id long, embedding array<double>",
    )
    approx = _topk_sets(
        S.lsh_ann_topk(corpus, queries, dim=64, k=5, n_planes=6, n_tables=4)
    )
    found = sum(1 for i in range(40) if i in approx.get(1000 + i, set()))
    assert found / 40 >= 0.9


def test_ivf_recall_at_10_real_embeddings(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter("vec_id < 20")
    exact = _topk_sets(S.brute_force_topk_oracle(e, q, dim=64, k=10))
    approx = _topk_sets(
        S.ivf_topk(e, q, k=10, dim=64, centroid_mod=53, nprobe=8)
    )
    per_q = [
        len(approx.get(qid, set()) & hits) / len(hits)
        for qid, hits in exact.items()
    ]
    assert sum(per_q) / len(per_q) >= 0.8


def test_multi_table_planes_are_distinct():
    """Regression pin for the rank-7 plane family bug: every plane in
    the 4x6 production config must be a distinct direction."""
    W = S.plane_matrix(24, 64)
    assert len({tuple(row) for row in W.tolist()}) == 24
    assert np.linalg.matrix_rank(W) == 24


def test_kmeans_quantized_exact_and_monotone(spark):
    """Integer-exact Lloyd: identical results across runs, inertia
    non-increasing in the iteration count, all vectors assigned."""
    import random

    from mssql_dataframe_spark.operators.similarity import kmeans_quantized

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-0.5, 0.5) for _ in range(16)]) for i in range(120)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def run(iters):
        out = kmeans_quantized(df, k=4, iters=iters).collect()
        return (
            sum(r["n_members"] for r in out),
            sum(r["inertia_q"] for r in out),
            sorted((r["cid"], r["n_members"], r["inertia_q"]) for r in out),
        )

    n1, i1, r1 = run(1)
    n3, i3, r3 = run(3)
    n3b, _, r3b = run(3)
    assert n1 == n3 == n3b == 120
    assert i3 <= i1          # Lloyd never increases inertia
    assert r3 == r3b         # bit-reproducible


def test_kmeans_quantized_empty_cluster_keeps_centroid(spark):
    """With k greater than the number of distinct points, surplus
    clusters stay empty and their centroids persist without error."""
    from mssql_dataframe_spark.operators.similarity import kmeans_quantized

    rows = [(i, [1.0, 1.0]) for i in range(3)] + [(3, [-1.0, -1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = kmeans_quantized(df, k=3, iters=2).collect()
    assert sum(r["n_members"] for r in out) == 4
    # identical points collapse onto the first centroid; total exact
    assert all(r["inertia_q"] >= 0 for r in out)


def test_pq_train_encode_exact_and_consistent(spark):
    """PQ codes are reproducible, every vector gets m in-range codes,
    and the reconstruction error equals the per-subspace k-means
    assignment distances it is built from (more codebooks with the
    same k never increase total error on the same data)."""
    import random

    from mssql_dataframe_spark.operators.similarity import pq_train_encode

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-0.5, 0.5) for _ in range(16)]) for i in range(80)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = sorted(
        tuple(r) for r in pq_train_encode(
            df, m=2, k=4, iters=2, dim=16
        ).collect()
    )
    b = sorted(
        tuple(r) for r in pq_train_encode(
            df, m=2, k=4, iters=2, dim=16
        ).collect()
    )
    assert a == b                     # bit-reproducible
    assert len(a) == 80
    assert all(0 <= r[1] < 4 and 0 <= r[2] < 4 for r in a)
    assert all(r[3] >= 0 for r in a)
    # more Lloyd rounds never increase total reconstruction error
    # (same convention as the kmeans_quantized inertia test)
    err2 = sum(r[3] for r in a)
    err1 = sum(
        r["recon_err_q"]
        for r in pq_train_encode(df, m=2, k=4, iters=1, dim=16).collect()
    )
    assert err2 <= err1


def test_pq_adc_topk_shape_and_order(spark):
    """ADC search returns exactly topk ranked rows per query, scores
    non-decreasing with rank, reproducible across runs."""
    import random

    from mssql_dataframe_spark.operators.similarity import pq_adc_topk

    rng = random.Random(3)
    rows = [
        (i, [rng.uniform(-0.5, 0.5) for _ in range(16)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = pq_adc_topk(
        df, query_ids=[0, 5], topk=4, m=2, k=4, iters=2, dim=16
    ).collect()
    again = pq_adc_topk(
        df, query_ids=[0, 5], topk=4, m=2, k=4, iters=2, dim=16
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 5}
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == [1, 2, 3, 4]
        scores = [r["adc_score_q"] for r in rs]
        assert scores == sorted(scores)


def test_pq_train_encode_rejects_bad_subspace_split(spark):
    import pytest

    from mssql_dataframe_spark.operators.similarity import pq_train_encode

    df = spark.createDataFrame(
        [(0, [0.0] * 16)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="divisible"):
        pq_train_encode(df, m=3, dim=16)


def test_exact_topk_scalable_partition_invariant(spark):
    """The per-partition running top-k prune is lossless: the answer
    must be identical whether the corpus arrives as 1 partition or
    many (every global top-k row is top-k of its own partition under
    the same (score desc, id asc) total order)."""
    e = _t(spark, "/root/testdata/sf0.001", "embeddings")
    q = e.filter("vec_id < 5")
    one = S.exact_topk_scalable(e.coalesce(1), q, dim=64, k=10)
    many = S.exact_topk_scalable(e.repartition(7), q, dim=64, k=10)
    rows1 = sorted(map(tuple, one.collect()))
    rows7 = sorted(map(tuple, many.collect()))
    assert rows1 == rows7
    assert len(rows1) == 5 * 10


def test_exact_topk_scalable_agrees_with_brute_force_neighbors(spark):
    """Quantized-int ordering vs float ordering: the neighbor SETS
    should agree almost everywhere on real data (quantization at 1/64
    only reorders near-ties)."""
    e = _t(spark, "/root/testdata/sf0.001", "embeddings")
    q = e.filter("vec_id < 5")
    fast = _topk_sets(S.exact_topk_scalable(e, q, dim=64, k=10))
    brute = _topk_sets(S.brute_force_topk_oracle(e, q, k=10, dim=64))
    hits = sum(len(fast[qi] & brute[qi]) for qi in brute)
    assert hits >= 0.8 * sum(len(v) for v in brute.values())


def test_release_caches_frees_tracked_persists(spark):
    """kmeans_quantized / pq_train_encode persist their quantized
    grids for the returned plan's benefit; cache.release() frees them
    so repeated calls over large corpora don't accumulate executor
    cache for the session."""
    from mssql_dataframe_spark import cache
    from mssql_dataframe_spark.operators import similarity

    df = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5), 1.0, 0.5]) for i in range(24)],
        "vec_id long, embedding array<double>",
    )
    cache.release()  # start clean
    out = similarity.kmeans_quantized(df, k=2, iters=1)
    assert out.count() > 0
    assert len(cache._SESSION) == 1
    assert cache.release() >= 1
    assert not cache._SESSION
    # released caches recompute transparently on the next action
    assert out.count() > 0


def test_ivfpq_scores_agree_with_flat_adc(spark):
    """IVF-PQ is flat ADC restricted to probed lists: every
    (query, vec) it returns must carry the SAME exact int score the
    flat ADC scan assigns, ranks must be consistent, and the
    candidate set must be a subset of the flat top ranking."""
    rows = [
        (i, [float(((i * 7 + j * 13) % 29) - 14) / 14 for j in range(16)])
        for i in range(120)
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(m=2, k=4, iters=2, quant=256, dim=16)
    flat = {
        (r.query_id, r.vec_id): r.adc_score_q
        for r in S.pq_adc_topk(
            e, query_ids=[1, 54], topk=120, **kw
        ).collect()
    }
    out = S.ivfpq_topk(
        e, query_ids=[1, 54], topk=5, centroid_mod=11, nprobe=2, **kw
    ).collect()
    assert out
    by_q = {}
    for r in out:
        assert flat[(r.query_id, r.vec_id)] == r.adc_score_q
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        scores = [(r.adc_score_q, r.vec_id) for r in rs]
        assert scores == sorted(scores)
        assert len(rs) <= 5
