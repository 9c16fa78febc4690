"""Cold-path shape of the curation pass (dedup survivors, quality
gate, semantic dedup): no Python worker in the survivors plan, no Spark
job while the quality and semantic plans are built, and a bounded
number of py4j round trips for building them. The bounds are the
figures measured when the SQL-string plans and the driver-side
union-find landed; they may only go down.
"""

from __future__ import annotations

import contextlib
import gc
import random

import pytest

from mssql_dataframe_spark.operators import curation as C
from mssql_dataframe_spark.operators import dedup as D
from mssql_dataframe_spark.operators import similarity as S

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


@contextlib.contextmanager
def _round_trips():
    """py4j commands sent while the block runs, counted by wrapping
    ``GatewayClient.send_command`` (as perfbench's tracer does).
    Memory commands are left out: they detach objects of EARLIER calls
    whenever Python frees them, so they land in whichever call runs
    next."""
    import py4j.java_gateway as jg

    orig = jg.GatewayClient.send_command
    sent = []

    def counting(client, command, *a, **kw):
        if not command.startswith("m"):
            sent.append(command)
        return orig(client, command, *a, **kw)

    gc.collect()
    gc.disable()
    jg.GatewayClient.send_command = counting
    try:
        yield sent
    finally:
        jg.GatewayClient.send_command = orig
        gc.enable()


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
def test_building_quality_and_semantic_runs_no_job(spark, corpus, stage):
    docs, vecs = corpus

    def build():
        if stage == "quality_filter":
            return C.quality_filter(docs)
        return S.semantic_dedup(vecs, k=4, tau_sq_bp=1200)

    with _job_group(spark, f"cold-{stage}") as jobs:
        with _round_trips() as sent:
            df = build()
        n_jobs = jobs()
    assert n_jobs == 0
    assert len(sent) <= BUILD_ROUND_TRIPS, len(sent)
    assert df.count() == (45 if stage == "quality_filter" else 60)
