"""One cache lifetime: every persisted intermediate goes through
``cache.keep`` and is freed by the scope that owns it or, when the
session owns it, by ``cache.release()``."""

from __future__ import annotations

import decimal
import pathlib
import re
import threading

import pytest
from pyspark.sql import Row, functions as F

import mssql_dataframe_spark
from mssql_dataframe_spark import cache
from mssql_dataframe_spark.operators import dedup as D
from mssql_dataframe_spark.operators import distributed_window as DW
from mssql_dataframe_spark.operators import similarity as S


def test_release_frees_every_session_cache(spark):
    """The MinHash pipeline, k-means and a global row number each
    leave the caches their returned plans read with the session;
    release() unpersists all of them and returns their count, and the
    released plans recompute the same rows."""
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"document number {i} lorem ipsum dolor")
         for i in range(20)],
        "doc_id long, text string",
    )
    vecs = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5), 1.0, 0.5]) for i in range(24)],
        "vec_id long, embedding array<double>",
    )
    nums = spark.createDataFrame(
        [Row(k=i, v=decimal.Decimal(str((i * 37) % 100)) / 4)
         for i in range(500)],
        "k int, v decimal(10,2)",
    )
    cache.release()  # start clean

    pairs = D.minhash_dedup_pairs(docs, threshold=0.5)
    pairs_rows = sorted(map(tuple, pairs.collect()))
    n_minhash = len(cache._SESSION)
    assert n_minhash, "pipeline must register its persisted intermediates"

    centroids = S.kmeans_quantized(vecs, k=2, iters=1)
    centroid_rows = sorted(map(tuple, centroids.collect()))
    assert centroid_rows
    assert len(cache._SESSION) == n_minhash + 1

    ranked, _ = DW.global_row_number(nums, [F.col("k")], out="rn")
    assert ranked.count() == 500
    assert len(cache._SESSION) == n_minhash + 2

    held = list(cache._SESSION)
    assert all(p.storageLevel.useMemory for p in held)
    assert cache.release() == len(held)
    assert all(not p.storageLevel.useMemory for p in held)
    assert cache.release() == 0
    # released caches recompute transparently on the next action
    assert sorted(map(tuple, pairs.collect())) == pairs_rows
    assert sorted(map(tuple, centroids.collect())) == centroid_rows
    assert ranked.count() == 500
    cache.release()


def test_release_frees_cc_final_round_cache(spark):
    """The distributed connected-components loop releases each
    superseded round itself; the last round's cache, which the
    returned plan reads, stays with the session until release()."""
    cache.release()
    jsc = spark.sparkContext._jsc.sc()
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id1 long, id2 long"
    )
    out = D.connected_components(edges, small_graph_edges=0)
    assert out.filter(F.col("component") == 0).count() == 9
    held = list(cache._SESSION)
    assert len(held) == 1 and held[0].storageLevel.useMemory
    before = jsc.getPersistentRDDs().size()
    assert cache.release() == 1
    assert not held[0].storageLevel.useMemory
    assert jsc.getPersistentRDDs().size() < before
    assert out.filter(F.col("component") == 0).count() == 9


def test_scope_releases_its_frames_on_error(spark):
    df = spark.range(10)
    with pytest.raises(RuntimeError, match="boom"):
        with cache.scope() as owned:
            kept = cache.keep(df, fill=True)
            with cache.scope() as inner:
                nested = cache.keep(df.selectExpr("id * 2 AS id"))
                assert len(inner) == 1 and inner[0] is nested
            assert not nested.storageLevel.useMemory
            assert len(owned) == 1 and owned[0] is kept
            assert kept.storageLevel.useMemory
            raise RuntimeError("boom")
    assert owned == []
    assert not kept.storageLevel.useMemory
    assert all(f is not kept for f in cache._SESSION)


def test_scopes_are_not_shared_across_threads(spark):
    """A frame kept on another thread belongs to that thread's owner
    (the session here), not to a scope open on this one."""
    frames = []
    with cache.scope() as owned:
        t = threading.Thread(
            target=lambda: frames.append(cache.keep(spark.range(3)))
        )
        t.start()
        t.join()
        assert owned == []
    assert any(f is frames[0] for f in cache._SESSION)
    assert frames[0].storageLevel.useMemory
    assert cache.release(frames[0]) == 1
    assert all(f is not frames[0] for f in cache._SESSION)
    assert not frames[0].storageLevel.useMemory


def _persist_calls(package: pathlib.Path) -> list[str]:
    """``file: call`` for each ``.persist(`` or ``.cache()`` in the
    package outside ``cache.py``."""
    found = []
    for path in sorted(package.rglob("*.py")):
        rel = path.relative_to(package).as_posix()
        if rel == "cache.py":
            continue
        for m in re.finditer(r"\.persist\(|\.cache\(\)", path.read_text()):
            found.append(f"{rel}: {m.group()}")
    return found


def test_cache_is_the_only_persist():
    """Every cache the package makes goes through cache.keep, so one
    place knows what to release."""
    package = pathlib.Path(mssql_dataframe_spark.__file__).parent
    assert _persist_calls(package) == []


def _stored_rdds(spark) -> set[int]:
    """Ids of the RDDs holding blocks in the block store."""
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_scope_frees_its_checkpoints_on_exit_and_on_error(spark):
    """A checkpoint holds its blocks until the owning scope exits, on
    success or on error (``unpersist()`` alone leaves them behind)."""
    before = _stored_rdds(spark)
    with cache.scope() as owned:
        ck = cache.checkpoint(spark.range(10))
        assert len(owned) == 1 and owned[0] is ck
        held = _stored_rdds(spark) - before
        assert held
        assert ck.count() == 10
    assert not _stored_rdds(spark) & held
    with pytest.raises(RuntimeError, match="boom"):
        with cache.scope():
            cache.checkpoint(spark.range(10))
            held = _stored_rdds(spark) - before
            assert held
            raise RuntimeError("boom")
    assert not _stored_rdds(spark) & held


def _scd2_table(eng, spark, name):
    eng.create.table(
        name,
        {"k": "bigint", "attr": "bigint", "_valid_from": "datetime2",
         "_valid_to": "datetime2", "_is_current": "bit"},
    )
    eng.write.insert(name, spark.range(20).select(
        F.col("id").alias("k"), F.col("id").alias("attr"),
        F.lit("2024-01-01 00:00:00").cast("timestamp_ntz")
        .alias("_valid_from"),
        F.lit(None).cast("timestamp_ntz").alias("_valid_to"),
        F.lit(True).alias("_is_current"),
    ))


@pytest.mark.parametrize(
    "verb", ["update", "merge", "delete", "merge_scd2", "merge_duplicate_key"]
)
def test_write_verbs_free_their_staged_source(engine, spark, verb):
    """A rewrite verb stages its source in the block store and frees it
    when the verb ends: afterwards no RDD the verb created holds
    blocks, also when the verb raises."""
    eng = engine
    if verb == "merge_scd2":
        _scd2_table(eng, spark, "dbo.rel")
    else:
        eng.create.table("dbo.rel", {"k": "bigint", "v": "bigint"},
                         primary_key_column="k")
        eng.write.insert(
            "dbo.rel", spark.range(20).selectExpr("id AS k", "id AS v")
        )
    src = spark.range(10, 30).selectExpr("id AS k", "-id AS v")
    before = _stored_rdds(spark)
    if verb == "update":
        eng.write.update("dbo.rel", src)
    elif verb == "merge":
        eng.write.merge("dbo.rel", src)
    elif verb == "delete":
        assert eng.write.delete("dbo.rel", src.select("k")) == 10
    elif verb == "merge_scd2":
        eng.write.merge_scd2(
            "dbo.rel", src.withColumnRenamed("v", "attr"), match_columns=["k"]
        )
    else:
        with pytest.raises(ValueError, match="duplicate match-key"):
            eng.write.merge("dbo.rel", src.unionAll(src), upsert=True)
    assert _stored_rdds(spark) - before == set()
