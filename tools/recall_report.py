"""Recall next to wall time for the approximate similarity operators.

Each approximate operator runs on a test-data directory's
``embeddings`` / ``documents`` tables and is scored against the exact
path on the same data:

- ANN top-k (``ann_lsh_topk``, ``ann_ivf_topk``, ``ivfpq_adc_search``
  shapes): recall@k = hits / (queries * k), the arithmetic of the
  ``ann_recall_at10`` registry entry, against the exact top-k of
  ``similarity.brute_force_topk_oracle`` (cosine; IVF-PQ ranks by L2 on
  the quantized grid, so its reference is the exact L2 top-k);
- near-duplicate pairs (``minhash_dedup_pairs``,
  ``simhash_near_dup_pairs``): pair recall = found / exact pairs, with
  the exact pairs from all pairs of documents (k-shingle Jaccard
  rounded to 6 places >= threshold, compared on the driver; SimHash
  Hamming distance <= max_hamming, from a cross join).

Wall time is the best of ``--reps`` builds and collects of the
operator's result in one session, each from empty caches (the first
run also pays code generation). Prints one markdown table.

Usage:
    python tools/recall_report.py --sf DIR [--reps 2]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from mssql_dataframe_spark import cache, connect  # noqa: E402
from mssql_dataframe_spark.operators import dedup as D  # noqa: E402
from mssql_dataframe_spark.operators import similarity as S  # noqa: E402

K = 10
QUERIES = list(range(10))  # the registry's query set: vec_id < 10


def _timed(make, reps):
    """(rows, best wall seconds) of ``reps`` builds and collects of the
    frame ``make()`` returns, each from empty caches."""
    best, rows = float("inf"), None
    for _ in range(reps):
        cache.release()
        SparkSession.getActiveSession().catalog.clearCache()
        t0 = time.perf_counter()
        rows = make().collect()
        best = min(best, time.perf_counter() - t0)
    return rows, best


def _topk_sets(rows, qcol, ncol):
    out = {}
    for r in rows:
        out.setdefault(r[qcol], set()).add(r[ncol])
    return out


def _recall_at_k(approx, exact, k):
    """ann_recall_at10's arithmetic: hits over queries * k."""
    hits = sum(len(approx.get(q, set()) & exact[q]) for q in exact)
    return hits / (len(exact) * k)


def _exact_jaccard_pairs(docs, k, threshold):
    """Every document pair whose exact k-shingle Jaccard, rounded half
    up to 6 places as the operator rounds it, reaches ``threshold`` —
    an all-pairs set comparison on the driver (the test-data corpora
    are a few hundred documents; a cross join of shingle arrays would
    run in one Spark task)."""
    from decimal import ROUND_HALF_UP, Decimal
    from itertools import combinations

    sets = [
        (r.doc_id, {r.text[i:i + k] for i in range(len(r.text) - k + 1)})
        for r in docs if r.text is not None and len(r.text) >= k
    ]
    out = set()
    for (i, a), (j, b) in combinations(sorted(sets, key=lambda x: x[0]), 2):
        inter = len(a & b)
        jac = Decimal(inter / (len(a) + len(b) - inter)).quantize(
            Decimal("0.000001"), ROUND_HALF_UP)
        if jac >= Decimal(str(threshold)):
            out.add((i, j))
    return out


def _exact_l2_topk(emb, quant, k):
    """Exact top-k by squared L2 on the ``floor(v*quant + 0.5)`` grid
    IVF-PQ quantizes to (self included, as IVF-PQ's search includes
    it), lowest id on ties."""
    q = emb.selectExpr(
        "vec_id", f"{S._quantize_sql('`embedding`', quant)} AS q"
    )
    a, b = q.alias("a"), q.alias("b")
    d = (
        a.filter(F.col("a.vec_id").isin(QUERIES))
        .crossJoin(b)
        .selectExpr(
            "a.vec_id AS query_id",
            "b.vec_id AS neighbor_id",
            "aggregate(zip_with(a.q, b.q, (x, y) -> (x - y) * (x - y)), "
            "CAST(0 AS BIGINT), (s, v) -> s + v) AS d2",
        )
    )
    w = "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, neighbor_id)"
    return d.selectExpr("*", f"{w} AS rn").filter(f"rn <= {k}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sf", required=True, help="test-data directory")
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args(argv)

    spark = connect(app_name="recall_report")
    emb = spark.read.parquet(os.path.join(args.sf, "embeddings.parquet"))
    docs = spark.read.parquet(os.path.join(args.sf, "documents.parquet"))
    queries = emb.filter(F.col("vec_id").isin(QUERIES))
    table = []

    exact_rows, t_exact = _timed(
        lambda: S.brute_force_topk_oracle(emb, queries, k=K), args.reps
    )
    exact = _topk_sets(exact_rows, "query_id", "neighbor_id")
    for name, make in (
        ("ann_lsh_topk (4 tables x 6 planes)", lambda: S.lsh_ann_topk(
            emb, queries, dim=64, k=K, n_planes=6, n_tables=4)),
        ("ann_ivf_topk (nprobe 2)", lambda: S.ivf_topk(
            emb, queries, k=K, centroid_mod=53, nprobe=2)),
        ("ann_ivf_topk (nprobe 12)", lambda: S.ivf_topk(
            emb, queries, k=K, centroid_mod=53, nprobe=12)),
    ):
        rows, t = _timed(make, args.reps)
        table.append((name, "recall@10", _recall_at_k(
            _topk_sets(rows, "query_id", "neighbor_id"), exact, K), t, t_exact))

    l2_rows, t_l2 = _timed(lambda: _exact_l2_topk(emb, 1024, K), args.reps)
    pq_rows, t = _timed(lambda: S.ivfpq_topk(
        emb, query_ids=QUERIES, topk=K, m=2, k=4, iters=2, quant=1024,
        dim=64, centroid_mod=53, nprobe=2,
    ), args.reps)
    table.append(("ivfpq_adc_search (m 2, k 4, nprobe 2)", "recall@10 (L2)",
                  _recall_at_k(_topk_sets(pq_rows, "query_id", "vec_id"),
                               _topk_sets(l2_rows, "query_id", "neighbor_id"), K),
                  t, t_l2))

    t0 = time.perf_counter()
    truth = _exact_jaccard_pairs(docs.select("doc_id", "text").collect(), 8, 0.5)
    t_mh_exact = time.perf_counter() - t0
    mh_rows, t = _timed(lambda: D.minhash_dedup_pairs(
        docs, "doc_id", "text", 8, 8, 0.5, rows_per_band=2), args.reps)
    found = {(r.id1, r.id2) for r in mh_rows}
    table.append(("minhash_dedup_pairs (8 bands x 2, Jaccard >= 0.5)",
                  f"pair recall ({len(truth)} pairs)",
                  len(found & truth) / max(len(truth), 1), t, t_mh_exact))

    h = D.simhash_table(docs, "doc_id", "text").filter("h != 0")
    ha, hb = h.alias("a"), h.alias("b")
    hamming = ha.join(hb, F.col("a.id") < F.col("b.id")).selectExpr(
        "a.id AS id1", "b.id AS id2", "bit_count(a.h ^ b.h) AS hd")
    for max_h in (3, 8):
        exact_sh, t_sh_exact = _timed(
            lambda: hamming.filter(f"hd <= {max_h}").select("id1", "id2"),
            args.reps)
        sh_rows, t = _timed(lambda: D.simhash_near_dup_pairs(
            docs, "doc_id", "text", max_hamming=max_h, n_blocks=4), args.reps)
        truth = {tuple(r) for r in exact_sh}
        found = {(r.id1, r.id2) for r in sh_rows}
        table.append((f"simhash_near_dup_pairs (4 blocks, Hamming <= {max_h})",
                      f"pair recall ({len(truth)} pairs)",
                      len(found & truth) / max(len(truth), 1), t, t_sh_exact))

    print("| operator | measure | recall | wall s | exact path wall s |")
    print("|---|---|---|---|---|")
    for name, measure, recall, t, te in table:
        op, setting = name.split(" ", 1)
        print(f"| `{op}` {setting} | {measure} | {recall:.3f} | {t:.2f} | {te:.2f} |")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
