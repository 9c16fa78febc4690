"""Insert's deferred-validation fusion (round-14 optimization #8):
the validation agg rides the staging write as ``observe()`` metrics
instead of running as its own full pass over the source, and PK
batch-dup/collision checks fold into one keys-only job over the
STAGED files. These tests pin the internals the fusion changed:

- the source plan executes exactly ONCE per insert,
- a validation violation aborts BEFORE anything commits (staged files
  discarded, version unchanged) with the eager path's error classes,
- values only ``try_cast`` can NULL (no eager probe covered them —
  e.g. double NaN into INT) now surface as the engine's own
  ``DataframeColumnInvalidValue``, pre-commit, instead of a raw Spark
  ANSI error mid-write,
- both deferred PK branches (no-overlap dup check; merged
  dup+collision job when standing files overlap) raise the same
  errors as before.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mssql_dataframe_spark import errors


def test_insert_executes_source_plan_once(engine, spark):
    """The eager path paid two full source executions (validation agg
    + staging write); deferred pays one. Counted with an accumulator
    inside the source plan — local mode, no task retries."""
    engine.create.table(
        "dbo.once", {"k": "bigint", "v": "bigint"}, primary_key_column="k"
    )
    acc = spark.sparkContext.accumulator(0)

    def tick(it):
        for pdf in it:
            acc.add(len(pdf))
            yield pdf

    src = (
        spark.range(1000)
        .selectExpr("id AS k", "id * 2 AS v")
        .mapInPandas(tick, "k long, v long")
    )
    engine.write.insert("dbo.once", src)
    assert engine.read.table("dbo.once").count() == 1000
    assert acc.value == 1000  # one execution, not 2000


def test_constraint_laden_insert_executes_source_once(engine, spark):
    """CHECK, FK, and PK probes all moved post-stage (over the staged
    files): even a fully constraint-laden table executes the SOURCE
    plan exactly once per insert — the eager shape paid one extra
    full execution per probe family."""
    engine.create.table("dbo.par1", {"pk": "bigint"}, primary_key_column="pk")
    engine.write.insert(
        "dbo.par1", spark.createDataFrame([Row(pk=1), Row(pk=2)], "pk long")
    )
    engine.create.table(
        "dbo.con1", {"k": "bigint", "ref": "bigint", "qty": "int"},
        primary_key_column="k",
    )
    engine.modify.check_constraint("dbo.con1", "add", "qty_pos", "qty > 0")
    engine.modify.foreign_key(
        "dbo.con1", "add", "fk_p",
        columns="ref", ref_table="dbo.par1", ref_columns="pk",
    )
    acc = spark.sparkContext.accumulator(0)

    def tick(it):
        for pdf in it:
            acc.add(len(pdf))
            yield pdf

    src = (
        spark.range(100)
        .selectExpr("id AS k", "1 + id % 2 AS ref", "CAST(1 AS INT) AS qty")
        .mapInPandas(tick, "k long, ref long, qty int")
    )
    engine.write.insert("dbo.con1", src)
    assert engine.read.table("dbo.con1").count() == 100
    assert acc.value == 100  # one execution despite CHECK+FK+PK probes
    # and the probes still enforce: violating batches all fail
    with pytest.raises(errors.SQLCheckConstraintViolation):
        engine.write.insert(
            "dbo.con1",
            spark.createDataFrame(
                [Row(k=200, ref=1, qty=-5)], "k long, ref long, qty int"
            ),
        )
    with pytest.raises(errors.SQLForeignKeyViolation):
        engine.write.insert(
            "dbo.con1",
            spark.createDataFrame(
                [Row(k=201, ref=99, qty=1)], "k long, ref long, qty int"
            ),
        )
    assert engine.read.table("dbo.con1").count() == 100


def test_invalid_value_aborts_pre_commit_and_discards_stage(engine, spark):
    engine.create.table("dbo.bad1", {"k": "bigint", "n": "int"},
                        primary_key_column="k")
    engine.write.insert(
        "dbo.bad1",
        spark.createDataFrame([Row(k=1, n=10)], "k long, n int"),
    )
    store = engine.store
    v_before = store.meta("dbo.bad1").version
    with pytest.raises(errors.DataframeColumnInvalidValue):
        engine.write.insert(
            "dbo.bad1",
            spark.createDataFrame(
                [Row(k=2, n="7"), Row(k=3, n="not-a-number")],
                "k long, n string",
            ),
        )
    meta = store.meta("dbo.bad1")
    assert meta.version == v_before  # nothing committed
    rows = engine.read.table("dbo.bad1").collect()
    assert [(r["k"], r["n"]) for r in rows] == [(1, 10)]
    # the losing commit's staging directory was discarded
    tdir = store._table_dir("dbo.bad1")
    assert not [d for d in os.listdir(tdir) if d.startswith(".stage_")]


def test_nan_into_int_raises_engine_error_not_spark_error(engine, spark):
    """Double NaN into INT: no eager probe covered it (NaN compares
    False against range bounds), so the eager path died with a raw
    Spark ANSI cast error mid-write. The deferred non-null-count
    invariant converts it into the engine's own error, pre-commit."""
    engine.create.table("dbo.nan1", {"k": "bigint", "n": "int"},
                        primary_key_column="k")
    src = spark.createDataFrame(
        [Row(k=1, n=1.0), Row(k=2, n=float("nan"))], "k long, n double"
    )
    with pytest.raises(errors.DataframeColumnInvalidValue, match="'n'"):
        engine.write.insert("dbo.nan1", src)
    assert engine.read.table("dbo.nan1").count() == 0


def test_merged_dup_and_collision_job_branches(engine, spark):
    """When standing files overlap the batch's key range, batch dups
    and snapshot collisions are detected by ONE merged job — both
    branches must still raise, dup taking precedence."""
    engine.create.table("dbo.pkm", {"k": "bigint", "v": "bigint"},
                        primary_key_column="k")
    engine.write.insert(
        "dbo.pkm",
        spark.createDataFrame([Row(k=1, v=1), Row(k=5, v=5)], "k long, v long"),
    )
    # overlapping range (k=2 in [1,5]) + batch-internal duplicate
    with pytest.raises(errors.SQLUniqueConstraintViolation,
                       match="duplicate key values"):
        engine.write.insert(
            "dbo.pkm",
            spark.createDataFrame(
                [Row(k=2, v=0), Row(k=2, v=0)], "k long, v long"
            ),
        )
    # overlapping range, no batch dup, collides with standing key
    with pytest.raises(errors.SQLUniqueConstraintViolation,
                       match="already in"):
        engine.write.insert(
            "dbo.pkm",
            spark.createDataFrame(
                [Row(k=3, v=3), Row(k=5, v=99)], "k long, v long"
            ),
        )
    assert engine.read.table("dbo.pkm").count() == 2


def test_rounding_warning_still_emitted_from_staging(engine, spark, caplog):
    """The decimal rounding warning now fires post-stage (the probe
    rides the write); it must still be emitted by the insert call."""
    import logging

    engine.create.table("dbo.dec1", {"k": "bigint", "d": "decimal(5,2)"},
                        primary_key_column="k")
    with caplog.at_level(logging.WARNING, logger="mssql_dataframe_spark"):
        engine.write.insert(
            "dbo.dec1",
            spark.createDataFrame([Row(k=1, d=1.2345)], "k long, d double"),
        )
    assert any("rounded to precision and scale" in r.message
               for r in caplog.records)
    val = engine.read.table("dbo.dec1").collect()[0]["d"]
    assert str(val) == "1.23"


def test_constraint_laden_merge_executes_source_once(
    engine, spark
):
    """The merge SOURCE plan executes exactly ONCE per merge: the
    validation aggregates ride the source staging write as observe()
    metrics, and pruning/discovery/the rewrite join all read the
    staged LEAF (round-15 staged-source fusion). The r14 shape paid
    2 source executions (validation agg + rewrite staging write); the
    eager shape before that paid one more per probe family (CHECK +
    FK + PK unique = up to 5 on this table)."""
    engine.create.table(
        "dbo.mpar", {"pk": "bigint"}, primary_key_column="pk"
    )
    engine.write.insert(
        "dbo.mpar", spark.createDataFrame([Row(pk=1), Row(pk=2)], "pk long")
    )
    engine.create.table(
        "dbo.mcon", {"k": "bigint", "ref": "bigint", "qty": "int"},
        primary_key_column="k",
    )
    engine.modify.check_constraint("dbo.mcon", "add", "qty_pos", "qty > 0")
    engine.modify.foreign_key(
        "dbo.mcon", "add", "fk_mp",
        columns="ref", ref_table="dbo.mpar", ref_columns="pk",
    )
    engine.write.insert(
        "dbo.mcon",
        spark.range(50).selectExpr(
            "id AS k", "1 + id % 2 AS ref", "CAST(1 AS INT) AS qty"
        ),
    )
    acc = spark.sparkContext.accumulator(0)

    def tick(it):
        for pdf in it:
            acc.add(len(pdf))
            yield pdf

    src = (
        spark.range(25, 75)
        .selectExpr("id AS k", "1 + id % 2 AS ref", "CAST(2 AS INT) AS qty")
        .mapInPandas(tick, "k long, ref long, qty int")
    )
    engine.write.merge("dbo.mcon", src, match_columns=["k"], upsert=True)
    assert engine.read.table("dbo.mcon").count() == 75
    assert acc.value == 50  # ONE source execution, despite all probes
    # the deferred probes still enforce, pre-commit (nothing published)
    v_now = engine.store.meta("dbo.mcon").version
    with pytest.raises(errors.SQLCheckConstraintViolation):
        engine.write.merge(
            "dbo.mcon",
            spark.createDataFrame(
                [Row(k=200, ref=1, qty=-5)], "k long, ref long, qty int"
            ),
            match_columns=["k"], upsert=True,
        )
    with pytest.raises(errors.SQLForeignKeyViolation):
        engine.write.merge(
            "dbo.mcon",
            spark.createDataFrame(
                [Row(k=201, ref=99, qty=1)], "k long, ref long, qty int"
            ),
            match_columns=["k"], upsert=True,
        )
    assert engine.store.meta("dbo.mcon").version == v_now
    assert engine.read.table("dbo.mcon").count() == 75


def test_update_executes_source_once(engine, spark):
    """write.update's source plan executes exactly once (the source
    staging write); bounds, discovery, and the rewrite all read the
    staged leaf."""
    engine.create.table(
        "dbo.uonce", {"k": "bigint", "v": "bigint"},
        primary_key_column="k",
    )
    engine.write.insert(
        "dbo.uonce",
        spark.range(100).selectExpr("id AS k", "id AS v"),
    )
    acc = spark.sparkContext.accumulator(0)

    def tick(it):
        for pdf in it:
            acc.add(len(pdf))
            yield pdf

    src = (
        spark.range(40)
        .selectExpr("id AS k", "id * 10 AS v")
        .mapInPandas(tick, "k long, v long")
    )
    engine.write.update("dbo.uonce", src)
    assert acc.value == 40  # one execution
    got = {
        r["k"]: r["v"]
        for r in engine.read.table("dbo.uonce").collect()
    }
    assert got[0] == 0 and got[39] == 390 and got[99] == 99


def test_scd2_executes_source_once(engine, spark):
    """merge_scd2's source plan executes exactly once (the source
    staging write feeds bounds, discovery, and the full-outer
    rewrite)."""
    engine.create.table(
        "dbo.sonce",
        {"k": "bigint", "attr": "bigint", "_valid_from": "datetime2",
         "_valid_to": "datetime2", "_is_current": "bit"},
    )
    from pyspark.sql import functions as F

    engine.write.merge_scd2(
        "dbo.sonce",
        spark.range(50).selectExpr("id AS k", "id AS attr"),
        match_columns=["k"],
        as_of=F.lit("2024-01-01 00:00:00").cast("timestamp"),
    )
    acc = spark.sparkContext.accumulator(0)

    def tick(it):
        for pdf in it:
            acc.add(len(pdf))
            yield pdf

    src = (
        spark.range(25, 60)
        .selectExpr("id AS k", "id * 2 AS attr")
        .mapInPandas(tick, "k long, attr long")
    )
    engine.write.merge_scd2(
        "dbo.sonce", src, match_columns=["k"],
        as_of=F.lit("2024-02-01 00:00:00").cast("timestamp"),
    )
    assert acc.value == 35  # one execution
    out = engine.read.table("dbo.sonce")
    # 50 original keys (25 now closed + replaced) + 10 fresh keys
    assert out.count() == 50 + 25 + 10
    cur = out.filter("_is_current = true").count()
    assert cur == 60


def test_delete_executes_key_source_once(engine, spark):
    """write.delete stages the distinct key set exactly once (r15):
    bloom/content discovery, the referential-action probes, the
    survivors anti-join and the bounds all read the staged leaf, so
    the caller's key pipeline executes once — not once per consumer."""
    engine.create.table(
        "dbo.donce", {"k": "bigint", "v": "bigint"},
        primary_key_column="k",
    )
    engine.write.insert(
        "dbo.donce",
        spark.range(200).selectExpr("id AS k", "id AS v"),
    )
    acc = spark.sparkContext.accumulator(0)

    def tick(it):
        for pdf in it:
            acc.add(len(pdf))
            yield pdf

    # duplicate key rows on purpose: the staged frame is the DISTINCT
    # key set, but the caller's pipeline (where the accumulator sits)
    # must still run exactly once over all 80 input rows.
    src = (
        spark.range(40)
        .selectExpr("id AS k")
        .unionAll(spark.range(40).selectExpr("id AS k"))
        .mapInPandas(tick, "k long")
    )
    n = engine.write.delete("dbo.donce", src)
    assert acc.value == 80  # one execution of the key pipeline
    assert n == 40
    assert engine.read.table("dbo.donce").count() == 160
    remaining = engine.read.table("dbo.donce").agg(
        F.min("k").alias("lo")
    ).collect()[0]["lo"]
    assert remaining == 40


def _commit_in_group(engine, spark, table, tag, verb):
    """Run ``verb()`` in its own Spark job group and return
    ``(jobs, previous manifest, new manifest, newest history row)``;
    asserts the file accounting of the commit it made: the new
    manifest is carried entries of the previous one plus new files,
    and the row totals balance."""
    sc = spark.sparkContext
    store = engine.store
    prev = store.manifest(table, store.meta(table).version)
    sc.setJobGroup(tag, "verb job-count pin")
    try:
        verb()
    finally:
        sc.setJobGroup(None, None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(tag) or [])
    new = store.manifest(table, store.meta(table).version)
    prev_by_path = {e["path"]: e for e in prev}
    carried = [e for e in new if e["path"] in prev_by_path]
    added = [e for e in new if e["path"] not in prev_by_path]
    removed = [e for e in prev if e["path"] not in {x["path"] for x in new}]
    for e in carried:
        assert e == prev_by_path[e["path"]], "carried entry changed"

    def rows(es):
        return sum(e["rows"] for e in es)

    assert rows(new) == rows(prev) - rows(removed) + rows(added)
    assert len(carried) + len(removed) == len(prev)
    top = store.history(table)[0]
    assert top["n_files_kept"] == len(carried)
    assert top["n_files_added"] == len(added)
    return jobs, prev, new, top


def test_write_verb_job_counts_and_file_accounting(engine, spark):
    """Per-verb Spark job counts, pinned exactly, plus carry-by-reference
    file accounting for every write verb: insert, update, delete, upsert
    merge on a single-column and on a composite PK, merge with
    ``delete_requires`` and SCD2. Each table is loaded as four disjoint
    key-range files, and each batch touches one of them, so pruning
    engages everywhere (``n_files_kept`` > 0). The counts are the
    deterministic cross-check on write-path refactors: they may only
    stay the same or fall."""
    eng = engine
    got = {}

    eng.create.table("dbo.jc", {"k": "bigint", "v": "bigint"},
                     primary_key_column="k")
    eng.write.insert(
        "dbo.jc",
        spark.range(200).selectExpr("id AS k", "id AS v")
        .repartitionByRange(4, "k"),
    )
    jobs, prev, new, top = _commit_in_group(
        eng, spark, "dbo.jc", "jc_insert",
        lambda: eng.write.insert(
            "dbo.jc", spark.range(200, 220).selectExpr("id AS k", "id AS v")
        ),
    )
    got["insert"] = jobs
    assert top["n_files_kept"] == len(prev) == 4
    jobs, _, _, top = _commit_in_group(
        eng, spark, "dbo.jc", "jc_update",
        lambda: eng.write.update(
            "dbo.jc", spark.range(10, 20).selectExpr("id AS k", "-id AS v")
        ),
    )
    got["update"] = jobs
    assert top["n_files_kept"] > 0
    jobs, _, _, top = _commit_in_group(
        eng, spark, "dbo.jc", "jc_merge",
        lambda: eng.write.merge(
            "dbo.jc", spark.range(60, 70).selectExpr("id AS k", "0 AS v"),
            upsert=True,
        ),
    )
    got["merge_upsert"] = jobs
    assert top["n_files_kept"] > 0
    deleted = {}
    jobs, _, _, top = _commit_in_group(
        eng, spark, "dbo.jc", "jc_delete",
        lambda: deleted.setdefault("n", eng.write.delete(
            "dbo.jc", spark.range(110, 115).selectExpr("id AS k")
        )),
    )
    got["delete"] = jobs
    assert deleted["n"] == 5 and top["n_files_kept"] > 0

    eng.create.table("dbo.jcc", {"a": "bigint", "b": "bigint", "v": "bigint"},
                     primary_key_column=["a", "b"])
    eng.write.insert(
        "dbo.jcc",
        spark.range(200).selectExpr("id AS a", "id % 3 AS b", "id AS v")
        .repartitionByRange(4, "a", "b"),
    )
    jobs, _, _, top = _commit_in_group(
        eng, spark, "dbo.jcc", "jc_merge_composite",
        lambda: eng.write.merge(
            "dbo.jcc",
            spark.range(10, 20).selectExpr("id AS a", "id % 3 AS b", "0 AS v"),
            upsert=True,
        ),
    )
    got["merge_composite"] = jobs
    assert top["n_files_kept"] > 0

    eng.create.table("dbo.jcd", {"k": "bigint", "part": "bigint", "v": "bigint"},
                     primary_key_column="k")
    eng.write.insert(
        "dbo.jcd",
        spark.range(200).selectExpr("id AS k", "id DIV 50 AS part", "id AS v")
        .repartitionByRange(4, "k"),
    )
    # reload partition 1 without its last ten keys
    jobs, _, _, top = _commit_in_group(
        eng, spark, "dbo.jcd", "jc_merge_delete_requires",
        lambda: eng.write.merge(
            "dbo.jcd",
            spark.range(50, 90).selectExpr("id AS k", "1 AS part", "0 AS v"),
            delete_requires=["part"],
        ),
    )
    got["merge_delete_requires"] = jobs
    assert top["n_files_kept"] > 0
    assert eng.read.table("dbo.jcd").count() == 190

    eng.create.table(
        "dbo.jcs",
        {"k": "bigint", "attr": "bigint", "_valid_from": "datetime2",
         "_valid_to": "datetime2", "_is_current": "bit"},
    )
    eng.store.update_meta("dbo.jcs", properties={"stats_column": "k"})
    eng.write.insert(
        "dbo.jcs",
        spark.range(200).select(
            F.col("id").alias("k"), F.col("id").alias("attr"),
            F.lit("2024-01-01 00:00:00").cast("timestamp_ntz")
            .alias("_valid_from"),
            F.lit(None).cast("timestamp_ntz").alias("_valid_to"),
            F.lit(True).alias("_is_current"),
        ).repartitionByRange(4, "k"),
    )
    jobs, _, _, top = _commit_in_group(
        eng, spark, "dbo.jcs", "jc_scd2",
        lambda: eng.write.merge_scd2(
            "dbo.jcs",
            spark.range(150, 160).selectExpr("id AS k", "-id AS attr"),
            match_columns=["k"],
            as_of=F.lit("2024-06-01 00:00:00").cast("timestamp_ntz"),
        ),
    )
    got["scd2"] = jobs
    assert top["n_files_kept"] > 0
    assert eng.read.table("dbo.jcs").count() == 210

    assert got == {
        "insert": 4,
        "update": 6,
        "merge_upsert": 7,
        "delete": 3,
        "merge_composite": 11,
        "merge_delete_requires": 15,
        "scd2": 7,
    }
