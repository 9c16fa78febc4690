"""distributed_window: the two-pass range-partitioned replacements for
unpartitioned global windows must be bit-identical to the global
window they replace, and a cache scope must release every range-
partition cache (the caches exist only to keep spark_partition_id
stable between the offsets job and the main job)."""

from __future__ import annotations

import decimal

from pyspark.sql import Row, functions as F
from pyspark.sql.window import Window

from mssql_dataframe_spark import cache
from mssql_dataframe_spark.operators import distributed_window as DW


def _frame(spark):
    rows = [Row(k=i, v=decimal.Decimal(str((i * 37) % 100)) / 4) for i in range(500)]
    return spark.createDataFrame(rows, "k int, v decimal(10,2)").repartition(8)


def test_global_row_number_matches_global_window(spark):
    df = _frame(spark)
    with cache.scope():
        got, total = DW.global_row_number(
            df, [F.col("v").desc(), F.col("k")], out="rn"
        )
        got = got.localCheckpoint(eager=True)
    assert total == 500
    want = df.withColumn(
        "rn",
        F.row_number()
        .over(Window.orderBy(F.col("v").desc(), F.col("k")))
        .cast("bigint"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_global_cumsum_matches_global_window_decimal_exact(spark):
    df = _frame(spark)
    with cache.scope():
        got, grand = DW.global_cumsum(
            df, [F.col("v").desc(), F.col("k")], "v", out="cum"
        )
        got = got.localCheckpoint(eager=True)
    w = (
        Window.orderBy(F.col("v").desc(), F.col("k"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = df.withColumn("cum", F.sum("v").over(w))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert isinstance(grand, decimal.Decimal)
    assert grand == sum((r.v for r in df.collect()), decimal.Decimal(0))


def test_scope_releases_all_range_partition_caches(spark):
    df = _frame(spark)
    with cache.scope() as owned:
        got, _ = DW.global_row_number(df, [F.col("k")], out="rn")
        got, _ = DW.global_row_number(got, [F.col("v"), F.col("k")], out="rn2")
        held = list(owned)
        assert len(held) == 2
        assert all(p.storageLevel.useMemory for p in held)  # kept while building
        out = got.localCheckpoint(eager=True)
    assert owned == []  # the scope's frames are drained
    assert all(not p.storageLevel.useMemory for p in held)  # caches released
    assert out.count() == 500  # result survives the release


def test_release_all_drains_session_pins(spark):
    df = _frame(spark)
    cache.release()  # start clean
    got, _ = DW.global_row_number(df, [F.col("k")], out="rn")  # no scope
    assert got.count() == 500
    assert cache.release() >= 1
    assert cache.release() == 0


def test_ntile_from_rank_col_matches_partitioned_ntile(spark):
    """Per-group arithmetic NTILE (column total) must equal
    NTILE() OVER (PARTITION BY g ORDER BY ...) for uneven group
    sizes, including groups smaller than the bucket count."""
    rows = [Row(g="a", k=i) for i in range(10)]
    rows += [Row(g="b", k=i) for i in range(7)]
    rows += [Row(g="c", k=0)]  # 1 row < 3 buckets
    df = spark.createDataFrame(rows, "g string, k int")
    w = Window.partitionBy("g").orderBy("k")
    want = {
        (r.g, r.k): r.b
        for r in df.withColumn("b", F.ntile(3).over(w)).collect()
    }
    rn = F.row_number().over(w)
    sizes = df.groupBy("g").count()
    got = {
        (r.g, r.k): r.b
        for r in df.withColumn("__rn", rn)
        .join(F.broadcast(sizes), "g")
        .withColumn(
            "b",
            DW.ntile_from_rank_col(F.col("__rn"), F.col("count"), 3),
        )
        .collect()
    }
    assert got == want


def test_perplexity_buckets_labels_and_coverage(spark):
    from mssql_dataframe_spark.operators import curation as C

    rows = [
        (i, " ".join(["common"] * 3 + (["rare%d" % i] if i % 2 else [])),
         "en" if i % 3 else "fr")
        for i in range(12)
    ] + [(50, None, "en"), (51, "", "fr")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    with cache.scope():
        out = C.perplexity_buckets(df).localCheckpoint(eager=True).collect()
    assert {r.doc_id for r in out} == set(range(12))  # no-token docs drop
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r)
        assert r.bucket_label == {1: "head", 3: "tail"}.get(
            r.ppl_bucket, "middle"
        )
    for lang, rs in by_lang.items():
        # every language covers bucket 1..3 when it has >= 3 docs
        if len(rs) >= 3:
            assert {r.ppl_bucket for r in rs} == {1, 2, 3}


def test_global_cumsum_null_prefix_matches_global_window(spark):
    """NULL handling is bit-identical to the global window: a
    partition-local all-NULL prefix still surfaces the prior
    partitions' running total, and only a globally-all-NULL prefix
    stays NULL."""
    # leading NULLs, then values, with enough rows that range
    # partitioning splits them across several partitions
    rows = [(i, None if i < 5 or i % 7 == 3 else i * 10) for i in range(200)]
    df = spark.createDataFrame(rows, "k long, v long").repartition(8)
    with cache.scope():
        got_df, total = DW.global_cumsum(df, ["k"], "v", out="cum")
        got_df = got_df.localCheckpoint(eager=True)
    got = {r["k"]: r["cum"] for r in got_df.collect()}
    want, run, seen = {}, 0, False
    for i in range(200):
        v = None if i < 5 or i % 7 == 3 else i * 10
        if v is not None:
            run += v
            seen = True
        want[i] = run if seen else None
    assert got == want
    assert total == run


def test_global_cumsum_all_null_column(spark):
    df = spark.createDataFrame(
        [(i, None) for i in range(10)], "k long, v long"
    )
    with cache.scope():
        got_df, _ = DW.global_cumsum(df, ["k"], "v", out="cum")
        got_df = got_df.localCheckpoint(eager=True)
    got = [r["cum"] for r in got_df.collect()]
    assert got == [None] * 10


def test_ntile_from_rank_guards_double_exactness(spark):
    import pytest

    with pytest.raises(ValueError, match="2\\^53"):
        DW.ntile_from_rank(F.lit(1), total=2**53, buckets=5)


def test_range_partitioned_tolerates_auto_shuffle_conf(spark, monkeypatch):
    """Platforms that auto-manage the shuffle report a non-numeric
    conf value (open-source Spark refuses to even set one, so the
    foreign-session behavior is simulated at the conf getter)."""
    real_get = type(spark.conf).get

    def fake_get(self, key, *args, **kwargs):
        if key == "spark.sql.shuffle.partitions":
            return "auto"
        return real_get(self, key, *args, **kwargs)

    monkeypatch.setattr(type(spark.conf), "get", fake_get)
    df = spark.createDataFrame([(i,) for i in range(10)], "k long")
    with cache.scope():
        out, total = DW.global_row_number(df, ["k"])
        monkeypatch.undo()
        out = out.localCheckpoint(eager=True)
    assert total == 10
    got = {r["k"]: r["rn"] for r in out.collect()}
    assert got == {i: i + 1 for i in range(10)}
