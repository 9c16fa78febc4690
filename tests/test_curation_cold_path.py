"""Cold-path shape of the curation pass (dedup survivors, quality
gate, semantic dedup): no Python worker in the survivors plan, no Spark
job while the quality and semantic plans are built, and a bounded
number of py4j round trips for building them. The bounds are the
figures measured when the SQL-string plans and the driver-side
union-find landed; they may only go down. The text operators' build
costs are pinned the same way, at the figures measured when every
operator took its text rules from ``operators/text.py``.
"""

from __future__ import annotations

import contextlib
import os
import random

import pytest

from mssql_dataframe_spark import cache
from mssql_dataframe_spark.operators import curation as C
from mssql_dataframe_spark.operators import dedup as D
from mssql_dataframe_spark.operators import similarity as S
from mssql_dataframe_spark.operators import text as X

_WORDS = (
    "spark parquet manifest shuffle stage task driver executor join "
    "aggregate window filter projection bloom footer snapshot commit"
).split()

#: jobs that building plus collecting dedup_cluster_survivors runs on
#: the corpus below (the MinHash pair query's AQE stages, then nothing
#: for the local result frame)
SURVIVOR_JOBS = 14
#: py4j round trips (GC detaches excluded) for building each frame
BUILD_ROUND_TRIPS = 100
#: py4j round trips for building each text operator over the documents
#: table, once the session has built it before (ngram_jaccard_pairs
#: includes the count job that pins its gram rows)
TEXT_BUILD_ROUND_TRIPS = {
    "lang_id": 596,
    "tfidf_top_terms": 469,
    "bigram_pmi": 912,
    "bigram_logprob": 650,
    "apply_token_merges": 298,
    "simhash_table": 61,
    "ngram_jaccard_pairs": 553,
}


@pytest.fixture(scope="module")
def corpus(spark):
    rng = random.Random(7)
    texts = [" ".join(rng.choice(_WORDS) for _ in range(rng.randrange(12, 40)))
             for _ in range(40)]
    # near-duplicates: one word of a source document swapped
    for i in range(5):
        words = texts[i].split()
        words[3] = "changed"
        texts.append(" ".join(words))
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id bigint, text string")
    vecs = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)],
        "vec_id bigint, embedding array<float>",
    )
    return docs.localCheckpoint(), vecs.localCheckpoint()


@contextlib.contextmanager
def _job_group(spark, name):
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(name))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_survivors_run_no_python_worker_and_bounded_jobs(spark, corpus):
    docs, _ = corpus
    with _job_group(spark, "cold-survivors") as jobs:
        out = D.dedup_cluster_survivors(docs, threshold=0.5)
        rows = out.collect()
        n_jobs = jobs()
    assert {r.doc_id for r in rows if not r.is_survivor} >= {40, 41, 42, 43, 44}
    plan = out._jdf.queryExecution().executedPlan().toString()
    for node in ("MapInPandas", "PythonUDF", "EvalPython"):
        assert node not in plan, plan
    assert n_jobs <= SURVIVOR_JOBS, n_jobs


@pytest.mark.parametrize("stage", ["quality_filter", "semantic_dedup"])
def test_building_quality_and_semantic_runs_no_job(
    spark, corpus, stage, round_trips
):
    docs, vecs = corpus

    def build():
        if stage == "quality_filter":
            return C.quality_filter(docs)
        return S.semantic_dedup(vecs, k=4, tau_sq_bp=1200)

    with _job_group(spark, f"cold-{stage}") as jobs:
        with round_trips() as sent:
            df = build()
        n_jobs = jobs()
    assert n_jobs == 0
    assert len(sent) <= BUILD_ROUND_TRIPS, len(sent)
    assert df.count() == (45 if stage == "quality_filter" else 60)


@pytest.mark.parametrize("op", sorted(TEXT_BUILD_ROUND_TRIPS))
def test_text_operator_build_round_trips(spark, sf_dir, round_trips, op):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    merges = [("table", "hash"), ("part", "filter"),
              ("customer", "join"), ("merge", "group")]
    build = {
        "lang_id": lambda: X.lang_id(docs),
        "tfidf_top_terms": lambda: X.tfidf_top_terms(docs),
        "bigram_pmi": lambda: X.bigram_pmi(docs),
        "bigram_logprob": lambda: X.bigram_logprob(docs),
        "apply_token_merges": lambda: X.apply_token_merges(docs, merges),
        "simhash_table": lambda: D.simhash_table(docs, "doc_id", "text"),
        "ngram_jaccard_pairs": lambda: D.ngram_jaccard_pairs(docs),
    }[op]
    # the first build in a session also pays one-time lookups; pin the
    # steady-state cost of a later build
    build()
    with round_trips() as sent:
        build()
    cache.release()
    assert len(sent) <= TEXT_BUILD_ROUND_TRIPS[op], len(sent)
