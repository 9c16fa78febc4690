"""Core verb round-trip tests (mirrors the reference's test layering —
SURVEY.md §5: round-trip oracle per operator, error paths)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mssql_dataframe_spark import errors


def _mini_df(spark):
    return spark.createDataFrame(
        [
            Row(id=1, name="alpha", amount=10.5),
            Row(id=2, name="beta", amount=20.0),
            Row(id=3, name="gamma", amount=None),
        ]
    )


COLS = {"id": "bigint", "name": "nvarchar(100)", "amount": "float"}


def test_create_insert_read_roundtrip(engine, spark):
    engine.create.table("dbo.t1", COLS, primary_key_column="id")
    engine.write.insert("dbo.t1", _mini_df(spark))
    out = engine.read.table("dbo.t1").orderBy("id").collect()
    assert [r.id for r in out] == [1, 2, 3]
    assert out[2].amount is None


def test_read_projection_pk_force_include(engine, spark):
    engine.create.table("dbo.t2", COLS, primary_key_column="id")
    engine.write.insert("dbo.t2", _mini_df(spark))
    out = engine.read.table("dbo.t2", column_names=["name"])
    # PK force-included (reference read.py:77-82)
    assert set(out.columns) == {"id", "name"}


def test_read_where_order_limit(engine, spark):
    engine.create.table("dbo.t3", COLS, primary_key_column="id")
    engine.write.insert("dbo.t3", _mini_df(spark))
    out = engine.read.table(
        "dbo.t3",
        where="amount >= 10 AND name <> 'beta'",
        order_column="id",
        order_direction="DESC",
        limit=1,
    ).collect()
    assert len(out) == 1 and out[0].id == 1


def test_read_errors(engine, spark):
    engine.create.table("dbo.t4", COLS, primary_key_column="id")
    with pytest.raises(errors.SQLColumnDoesNotExist):
        engine.read.table("dbo.t4", column_names=["nope"])
    with pytest.raises(ValueError):
        engine.read.table("dbo.t4", limit="ten")
    with pytest.raises(ValueError):
        engine.read.table("dbo.t4", order_column="id")
    with pytest.raises(errors.SQLTableDoesNotExist):
        engine.read.table("dbo.nope")


def test_update(engine, spark):
    engine.create.table("dbo.t5", COLS, primary_key_column="id")
    engine.write.insert("dbo.t5", _mini_df(spark))
    upd = spark.createDataFrame([Row(id=2, amount=99.0), Row(id=9, amount=1.0)])
    engine.write.update("dbo.t5", upd)
    out = {r.id: r.amount for r in engine.read.table("dbo.t5").collect()}
    assert out[2] == 99.0
    assert out[1] == 10.5
    assert 9 not in out  # unmatched source rows ignored


def test_update_requires_pk_or_match(engine, spark):
    engine.create.table("dbo.t6", COLS)
    engine.write.insert("dbo.t6", _mini_df(spark))
    upd = spark.createDataFrame([Row(id=2, amount=99.0)])
    with pytest.raises(errors.SQLUndefinedPrimaryKey):
        engine.write.update("dbo.t6", upd)
    engine.write.update("dbo.t6", upd, match_columns=["id"])
    out = {r.id: r.amount for r in engine.read.table("dbo.t6").collect()}
    assert out[2] == 99.0


def test_merge_full(engine, spark):
    engine.create.table("dbo.t7", COLS, primary_key_column="id")
    engine.write.insert("dbo.t7", _mini_df(spark))
    src = spark.createDataFrame(
        [Row(id=2, name="beta2", amount=2.0), Row(id=4, name="delta", amount=4.0)]
    )
    engine.write.merge("dbo.t7", src)
    out = {r.id: (r.name, r.amount) for r in engine.read.table("dbo.t7").collect()}
    # updated, inserted, others deleted (not matched by source)
    assert out == {2: ("beta2", 2.0), 4: ("delta", 4.0)}


def test_merge_upsert(engine, spark):
    engine.create.table("dbo.t8", COLS, primary_key_column="id")
    engine.write.insert("dbo.t8", _mini_df(spark))
    src = spark.createDataFrame(
        [Row(id=2, name="beta2", amount=2.0), Row(id=4, name="delta", amount=4.0)]
    )
    engine.write.merge("dbo.t8", src, upsert=True)
    out = {r.id for r in engine.read.table("dbo.t8").collect()}
    assert out == {1, 2, 3, 4}


def test_merge_delete_requires(engine, spark):
    cols = {"id": "bigint", "part": "nvarchar(10)", "v": "float"}
    engine.create.table("dbo.t9", cols, primary_key_column="id")
    engine.write.insert(
        "dbo.t9",
        spark.createDataFrame(
            [Row(id=1, part="a", v=1.0), Row(id=2, part="a", v=2.0),
             Row(id=3, part="b", v=3.0)]
        ),
    )
    # source only covers partition 'a': row 3 (partition b) must survive,
    # row 2 (partition a, not in source) must be deleted
    src = spark.createDataFrame([Row(id=1, part="a", v=10.0)])
    engine.write.merge("dbo.t9", src, delete_requires=["part"])
    out = {r.id: r.v for r in engine.read.table("dbo.t9").collect()}
    assert out == {1: 10.0, 3: 3.0}
    with pytest.raises(ValueError):
        engine.write.merge("dbo.t9", src, upsert=True, delete_requires=["part"])


def test_metadata_timestamps(engine_ts, spark):
    engine_ts.create.table("dbo.t10", COLS, primary_key_column="id")
    engine_ts.write.insert("dbo.t10", _mini_df(spark))
    df = engine_ts.read.table("dbo.t10")
    assert "_time_insert" in df.columns
    assert df.filter(F.col("_time_insert").isNull()).count() == 0
    upd = spark.createDataFrame([Row(id=1, amount=0.0)])
    engine_ts.write.update("dbo.t10", upd)
    df = engine_ts.read.table("dbo.t10")
    stamped = df.filter(F.col("_time_update").isNotNull()).collect()
    assert [r.id for r in stamped] == [1]


def test_identity_pk(engine, spark):
    engine.create.table(
        "dbo.t11", {"name": "nvarchar(20)"}, sql_primary_key=True
    )
    engine.write.insert(
        "dbo.t11", spark.createDataFrame([Row(name="x"), Row(name="y")])
    )
    engine.write.insert("dbo.t11", spark.createDataFrame([Row(name="z")]))
    out = sorted((r._pk, r.name) for r in engine.read.table("dbo.t11").collect())
    assert [p for p, _ in out] == [1, 2, 3]


def test_validation_range_and_size(engine, spark):
    engine.create.table(
        "dbo.t12", {"id": "tinyint", "s": "varchar(3)"}, primary_key_column="id"
    )
    with pytest.raises(errors.SQLInsufficientColumnSize):
        engine.write.insert(
            "dbo.t12", spark.createDataFrame([Row(id=300, s="ok")])
        )
    with pytest.raises(errors.SQLInsufficientColumnSize):
        engine.write.insert(
            "dbo.t12", spark.createDataFrame([Row(id=1, s="toolong")])
        )
    with pytest.raises(errors.SQLNonUnicodeTypeColumn):
        engine.write.insert(
            "dbo.t12", spark.createDataFrame([Row(id=1, s="é")])
        )
    engine.write.insert("dbo.t12", spark.createDataFrame([Row(id=255, s="ok")]))
    assert engine.read.table("dbo.t12").count() == 1


def test_modify_column(engine, spark):
    engine.create.table("dbo.t13", COLS, primary_key_column="id")
    engine.write.insert("dbo.t13", _mini_df(spark))
    engine.modify.column("dbo.t13", "add", "extra", "int")
    out = engine.read.table("dbo.t13")
    assert "extra" in out.columns
    assert out.filter(F.col("extra").isNotNull()).count() == 0
    engine.modify.column("dbo.t13", "alter", "extra", "bigint")
    assert dict(engine.get_schema("dbo.t13").sql_type)["extra"] == "bigint"
    with pytest.raises(errors.SQLRecastColumnUnchanged):
        engine.modify.column("dbo.t13", "alter", "extra", "bigint")
    engine.modify.column("dbo.t13", "drop", "extra")
    assert "extra" not in engine.read.table("dbo.t13").columns


def test_modify_primary_key(engine, spark):
    engine.create.table("dbo.t14", COLS)
    engine.write.insert("dbo.t14", _mini_df(spark))
    engine.modify.primary_key("dbo.t14", "add", ["id"], "pk_t14")
    schema = engine.get_schema("dbo.t14")
    assert schema.loc["id", "pk_seq"] == 1
    engine.modify.primary_key("dbo.t14", "drop")
    with pytest.raises(errors.SQLUndefinedPrimaryKey):
        engine.modify.primary_key("dbo.t14", "drop")


def test_decimal_rounding_warning(engine, spark, caplog):
    engine.create.table(
        "dbo.t15", {"id": "bigint", "d": "decimal(5,2)"}, primary_key_column="id"
    )
    import logging

    with caplog.at_level(logging.WARNING, logger="mssql_dataframe_spark"):
        engine.write.insert(
            "dbo.t15", spark.createDataFrame([Row(id=1, d=1.239)])
        )
    assert any("rounded" in r.message for r in caplog.records)
    val = engine.read.table("dbo.t15").collect()[0].d
    assert float(val) == 1.24


def test_create_from_dataframe(engine, spark):
    df = _mini_df(spark)
    engine.create.table_from_dataframe("dbo.t16", df, primary_key="id")
    engine.write.insert("dbo.t16", df)
    assert engine.read.table("dbo.t16").count() == 3


def test_modify_primary_key_add_drop(engine, spark):
    engine.create.table("dbo.pk1", COLS)
    engine.write.insert("dbo.pk1", _mini_df(spark))
    engine.modify.primary_key("dbo.pk1", "add", "id", primary_key_name="pk_id")
    schema = engine.get_schema("dbo.pk1")
    assert schema.loc["id", "pk_seq"] == 1
    assert schema.loc["id", "pk_name"] == "pk_id"
    engine.modify.primary_key("dbo.pk1", "drop")
    assert engine.get_schema("dbo.pk1")["pk_seq"].isna().all()


def test_modify_primary_key_uniqueness_audit(engine, spark):
    engine.create.table("dbo.pk2", COLS)
    df = _mini_df(spark).withColumn("id", F.lit(7).cast("bigint"))
    engine.write.insert("dbo.pk2", df)
    with pytest.raises(ValueError, match="duplicate key"):
        engine.modify.primary_key("dbo.pk2", "add", "id")


def test_modify_primary_key_errors(engine, spark):
    engine.create.table("dbo.pk3", COLS)
    with pytest.raises(errors.SQLColumnDoesNotExist):
        engine.modify.primary_key("dbo.pk3", "add", "nope")
    with pytest.raises(errors.SQLUndefinedPrimaryKey):
        engine.modify.primary_key("dbo.pk3", "drop")


def test_get_schema_report(engine, spark):
    engine.create.table(
        "dbo.gs1",
        {"id": "int", "name": "nvarchar(50)", "price": "decimal(10,2)"},
        primary_key_column="id",
        not_nullable=["id"],
    )
    rep = engine.get_schema("dbo.gs1")
    assert list(rep.index) == ["id", "name", "price"]
    assert rep.loc["id", "sql_type"] == "int"
    assert not rep.loc["id", "is_nullable"]
    assert rep.loc["name", "column_size"] == 50
    assert rep.loc["price", "decimal_digits"] == 2
    assert rep.loc["price", "spark_type"] == "decimal(10,2)"
    assert rep.loc["id", "pk_seq"] == 1


def test_register_view_sql_read(engine, spark):
    """The read_values analog (reference conversion.py:902-952):
    arbitrary SQL over a registered table view."""
    engine.create.table("dbo.rv1", COLS, primary_key_column="id")
    engine.write.insert("dbo.rv1", _mini_df(spark))
    view = engine.register_view("dbo.rv1", "rv1")
    out = spark.sql(
        f"SELECT count(*) AS n, sum(amount) AS s FROM {view} WHERE amount IS NOT NULL"
    ).collect()[0]
    assert out["n"] == 2 and abs(out["s"] - 30.5) < 1e-9


def test_merge_identity_table(engine, spark):
    """Merge into a sql_primary_key=True (identity _pk) table: matched
    source rows UPDATE in place keeping their _pk; new keys insert ONCE
    with fresh identities (regression: a semi-join in the identity path
    dropped updates and double-inserted new rows)."""
    engine.create.table_from_dataframe(
        "dbo.mi1", _mini_df(spark), sql_primary_key=True
    )
    engine.write.insert("dbo.mi1", _mini_df(spark))
    before = {r.id: r._pk for r in engine.read.table("dbo.mi1").collect()}
    src = spark.createDataFrame(
        [
            Row(id=1, name="alpha2", amount=11.0),   # update
            Row(id=4, name="delta", amount=40.0),    # insert
        ]
    )
    engine.write.merge("dbo.mi1", src, match_columns=["id"], upsert=True)
    out = {r.id: r for r in engine.read.table("dbo.mi1").collect()}
    assert sorted(out) == [1, 2, 3, 4]              # no duplicate inserts
    assert out[1].name == "alpha2" and out[1].amount == 11.0  # update applied
    assert out[1]._pk == before[1]                  # identity preserved
    assert out[4]._pk is not None and out[4]._pk not in before.values()
    pks = [r._pk for r in out.values()]
    assert len(set(pks)) == len(pks)                # identities unique


def test_merge_identity_delete_path(engine, spark):
    """upsert=False on an identity table: unmatched target rows are
    deleted, matched rows survive as updates (not deletions)."""
    engine.create.table_from_dataframe(
        "dbo.mi2", _mini_df(spark), sql_primary_key=True
    )
    engine.write.insert("dbo.mi2", _mini_df(spark))
    src = spark.createDataFrame([Row(id=2, name="beta2", amount=21.0)])
    engine.write.merge("dbo.mi2", src, match_columns=["id"])
    out = engine.read.table("dbo.mi2").collect()
    assert len(out) == 1 and out[0].id == 2 and out[0].name == "beta2"


def test_not_null_enforcement(engine, spark):
    engine.create.table("dbo.nn1", COLS, not_nullable=["amount"])
    with pytest.raises(errors.DataframeColumnInvalidValue, match="NOT NULL"):
        engine.write.insert("dbo.nn1", _mini_df(spark))  # amount has a NULL
    # missing NOT NULL column entirely is also a violation
    with pytest.raises(errors.DataframeColumnInvalidValue, match="missing"):
        engine.write.insert(
            "dbo.nn1",
            spark.createDataFrame([Row(id=9, name="x")]),
        )


def test_duplicate_match_keys_raise(engine, spark):
    """T-SQL MERGE/UPDATE refuse to touch the same target row twice."""
    engine.create.table("dbo.dk1", COLS, primary_key_column="id")
    engine.write.insert("dbo.dk1", _mini_df(spark))
    dup = spark.createDataFrame(
        [Row(id=1, amount=1.0), Row(id=1, amount=2.0)]
    )
    with pytest.raises(ValueError, match="duplicate match-key"):
        engine.write.update("dbo.dk1", dup)
    with pytest.raises(ValueError, match="duplicate match-key"):
        engine.write.merge("dbo.dk1", dup, upsert=True)


def test_invalid_value_conversion_raises(engine, spark):
    """String that cannot cast to the declared numeric type surfaces as
    DataframeColumnInvalidValue, not a silent NULL (reference
    custom_errors.py:68)."""
    engine.create.table("dbo.iv1", {"id": "bigint", "qty": "int"})
    bad = spark.createDataFrame([Row(id=1, qty="not-a-number")])
    with pytest.raises(errors.DataframeColumnInvalidValue):
        engine.write.insert("dbo.iv1", bad)
    ok = spark.createDataFrame([Row(id=1, qty="42")])
    engine.write.insert("dbo.iv1", ok)  # convertible strings pass
    assert engine.read.table("dbo.iv1").collect()[0].qty == 42


def test_lazy_reader_survives_next_write(engine, spark):
    """Snapshot retention (keep_versions): a DataFrame returned before a
    mutation stays consumable after it — the old snapshot is vacuumed
    only once it falls keep_versions commits behind."""
    engine.create.table("dbo.ks1", COLS, primary_key_column="id")
    engine.write.insert("dbo.ks1", _mini_df(spark))
    held = engine.read.table("dbo.ks1")          # lazy plan on v-current
    engine.write.update(
        "dbo.ks1", spark.createDataFrame([Row(id=1, amount=99.0)])
    )                                            # v+1 committed
    assert held.count() == 3                     # old snapshot still on disk
    # after keep_versions more writes the old dir IS vacuumed
    engine.write.update(
        "dbo.ks1", spark.createDataFrame([Row(id=2, amount=98.0)])
    )
    engine.write.update(
        "dbo.ks1", spark.createDataFrame([Row(id=3, amount=97.0)])
    )
    assert engine.read.table("dbo.ks1").count() == 3


def test_get_schema_validate_convert(engine, spark):
    """get_schema(dataframe=...) returns (schema, converted) with the
    candidate frame cast to the declared types (reference
    conversion.py:38-162)."""
    engine.create.table(
        "dbo.gs2",
        {"id": "bigint", "price": "decimal(10,2)", "qty": "smallint"},
        primary_key_column="id",
    )
    cand = spark.createDataFrame([Row(id=1, price=3.14159, qty=7)])
    schema, converted = engine.get_schema("dbo.gs2", dataframe=cand)
    assert schema.loc["price", "sql_type"] == "decimal"
    row = converted.collect()[0]
    assert str(row.price) == "3.14"
    assert converted.schema["qty"].dataType.simpleString() == "smallint"
    # without a dataframe the return shape is unchanged (schema only)
    assert engine.get_schema("dbo.gs2").shape[0] == 3


def test_get_schema_unconvertible_value_error_matches_insert(engine, spark):
    """A value the declared type cannot hold (double NaN into an int
    column) raises the same DataframeColumnInvalidValue from
    get_schema(dataframe=) as from insert, at call time."""
    engine.create.table("dbo.gs3", {"id": "bigint", "n": "int"},
                        primary_key_column="id")
    cand = spark.createDataFrame([(1, float("nan"))], "id long, n double")
    with pytest.raises(errors.DataframeColumnInvalidValue):
        engine.get_schema("dbo.gs3", dataframe=cand)
    with pytest.raises(errors.DataframeColumnInvalidValue):
        engine.write.insert("dbo.gs3", cand)


def test_get_schema_validation_is_one_job(engine, spark):
    """get_schema(dataframe=) validates with ONE Spark job: the checks
    ride a noop-sink pass over the candidate as observe() metrics."""
    engine.create.table(
        "dbo.gs4",
        {"id": "bigint", "price": "decimal(10,2)", "s": "varchar(10)"},
        primary_key_column="id",
    )
    cand = spark.createDataFrame([Row(id=1, price=3.14159, s="ab")])
    sc = spark.sparkContext
    sc.setJobGroup("gs4", "get_schema job probe")
    try:
        engine.get_schema("dbo.gs4", dataframe=cand)
    finally:
        sc.setJobGroup(None, None)
    assert len(sc.statusTracker().getJobIdsForGroup("gs4") or []) == 1


def test_single_validation_job(engine, spark):
    """Validation job count is CONSTANT in the number of decimal columns
    (the per-decimal-column rounding probes used to add one Spark job
    each; they now fold into the one shared aggregation pass). AQE may
    split the agg into >1 job, so the invariant pinned here is
    width-independence, not an absolute count."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_for_insert(tag, n_dec):
        cols = {"id": "bigint",
                **{f"d{i}": "decimal(10,2)" for i in range(n_dec)}}
        engine.create.table(f"dbo.{tag}", cols)
        df = spark.createDataFrame(
            [Row(id=1, **{f"d{i}": 1.111 for i in range(n_dec)})]
        )
        sc.setJobGroup(tag, "validation job probe")
        try:
            engine.write.insert(f"dbo.{tag}", df)
        finally:
            sc.setJobGroup(None, None)
        return len(tracker.getJobIdsForGroup(tag) or [])

    narrow = jobs_for_insert("sj_narrow", 1)
    wide = jobs_for_insert("sj_wide", 12)
    assert wide == narrow, (
        f"validation jobs grew with column count: {narrow} jobs at 1 "
        f"decimal column vs {wide} at 12"
    )


def test_column_profile_single_pass_and_nulls(spark):
    """Profile metrics are exact (nulls counted, distinct exact,
    min/max rendered) and the whole report is ONE aggregate job."""
    from mssql_dataframe_spark.operators.profiling import column_profile

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b"), (None, "b")],
        "k long, s string",
    )
    out = {r["column_name"]: r for r in column_profile(df, ["k", "s"]).collect()}
    k, s = out["k"], out["s"]
    assert (k["n_rows"], k["n_nulls"], k["n_distinct"]) == (4, 1, 2)
    assert (k["min_value"], k["max_value"]) == ("1", "2")
    assert (s["n_rows"], s["n_nulls"], s["n_distinct"]) == (4, 1, 2)
    assert (s["min_value"], s["max_value"]) == ("a", "b")


def test_merge_auto_evolve_adds_column_metadata_only(engine, spark):
    from pyspark.sql import Row

    from mssql_dataframe_spark import errors as E

    engine.create.table(
        "dbo.ae", {"id": "bigint", "v": "int"}, primary_key_column="id"
    )
    engine.write.insert(
        "dbo.ae",
        spark.createDataFrame([Row(id=1, v=10), Row(id=2, v=20)],
                              "id long, v int"),
    )
    v_before = engine.store.meta("dbo.ae").version
    src = spark.createDataFrame(
        [Row(id=2, v=21, tag="b"), Row(id=3, v=30, tag="c")],
        "id long, v int, tag string",
    )
    # without the flag, an unknown source column is still an error
    import pytest as _pytest
    with _pytest.raises(E.DataframeColumnDoesNotExist):
        engine.write.merge("dbo.ae", src, upsert=True)
    engine.write.merge("dbo.ae", src, upsert=True, auto_evolve=True)
    rows = {r["id"]: (r["v"], r["tag"])
            for r in engine.read.table("dbo.ae").collect()}
    assert rows == {1: (10, None), 2: (21, "b"), 3: (30, "c")}
    # schema add was metadata-only: exactly ONE data commit (the merge)
    assert engine.store.meta("dbo.ae").version == v_before + 1
    assert engine.store.meta("dbo.ae").column_types["tag"] == "nvarchar(MAX)"


def test_merge_not_matched_by_source_update(engine, spark):
    from pyspark.sql import Row

    from mssql_dataframe_spark import errors as E

    engine.create.table(
        "dbo.nmbs",
        {"id": "bigint", "status": "varchar(10)", "v": "int"},
        primary_key_column="id",
    )
    engine.write.insert(
        "dbo.nmbs",
        spark.createDataFrame(
            [Row(id=i, status="live", v=i) for i in (1, 2, 3)],
            "id long, status string, v int",
        ),
    )
    src = spark.createDataFrame(
        [Row(id=2, status="live", v=20), Row(id=4, status="live", v=40)],
        "id long, status string, v int",
    )
    engine.write.merge(
        "dbo.nmbs", src, upsert=True,
        not_matched_by_source_set={"status": "'stale'"},
    )
    got = {r["id"]: (r["status"], r["v"])
           for r in engine.read.table("dbo.nmbs").collect()}
    # 1,3 absent from source -> flagged; 2 updated; 4 inserted
    assert got == {1: ("stale", 1), 3: ("stale", 3),
                   2: ("live", 20), 4: ("live", 40)}
    # set expressions see PRE-update values and the whitelist holds
    import pytest as _pytest
    with _pytest.raises(ValueError, match="both claim"):
        engine.write.merge(
            "dbo.nmbs", src, delete_requires=["id"],
            not_matched_by_source_set={"status": "'x'"},
        )
    with _pytest.raises(E.SQLInvalidSyntax):
        engine.write.merge(
            "dbo.nmbs", src,
            not_matched_by_source_set={"status": "rand()"},
        )
    with _pytest.raises(ValueError, match="key/identity/computed"):
        engine.write.merge(
            "dbo.nmbs", src,
            not_matched_by_source_set={"id": "0"},
        )


def test_identity_reseed(engine, spark):
    from pyspark.sql import Row

    import pytest as _pytest

    from mssql_dataframe_spark import errors as E

    engine.create.table(
        "dbo.rs", {"v": "int"}, sql_primary_key=True  # identity _pk
    )
    engine.write.insert(
        "dbo.rs",
        spark.createDataFrame([Row(v=1), Row(v=2)], "v int"),
    )
    # jump the counter forward
    assert engine.modify.identity_reseed("dbo.rs", 100) == 100
    engine.write.insert(
        "dbo.rs", spark.createDataFrame([Row(v=3)], "v int")
    )
    pks = sorted(r["_pk"] for r in engine.read.table("dbo.rs").collect())
    assert pks == [1, 2, 100]
    # repair form re-syncs to max+1
    assert engine.modify.identity_reseed("dbo.rs") == 101
    # colliding reseed refused
    with _pytest.raises(ValueError, match="collide"):
        engine.modify.identity_reseed("dbo.rs", 50)
    # no identity column -> error
    engine.create.table("dbo.noid", {"k": "bigint"}, primary_key_column="k")
    with _pytest.raises(E.SQLUndefinedPrimaryKey):
        engine.modify.identity_reseed("dbo.noid")


def test_merge_auto_evolve_failed_validation_has_no_side_effect(engine, spark):
    """A merge that fails validation must not leave auto-evolved
    columns behind — the schema add commits only with the data."""
    from pyspark.sql import Row

    import pytest as _pytest

    from mssql_dataframe_spark import errors as E

    engine.create.table(
        "dbo.aefail", {"id": "bigint", "v": "int"}, primary_key_column="id"
    )
    engine.modify.check_constraint("dbo.aefail", "add", "v_pos", "v > 0")
    engine.write.insert(
        "dbo.aefail",
        spark.createDataFrame([Row(id=1, v=10)], "id long, v int"),
    )
    bad = spark.createDataFrame(
        [Row(id=2, v=-5, tag="x")], "id long, v int, tag string"
    )
    with _pytest.raises(E.SQLCheckConstraintViolation):
        engine.write.merge("dbo.aefail", bad, upsert=True, auto_evolve=True)
    meta = engine.store.meta("dbo.aefail")
    assert "tag" not in meta.spark_schema.fieldNames()  # no partial evolve
    assert "tag" not in meta.column_types
    # the same evolution succeeds once the rows validate
    good = spark.createDataFrame(
        [Row(id=2, v=5, tag="x")], "id long, v int, tag string"
    )
    engine.write.merge("dbo.aefail", good, upsert=True, auto_evolve=True)
    rows = {r["id"]: (r["v"], r["tag"])
            for r in engine.read.table("dbo.aefail").collect()}
    assert rows == {1: (10, None), 2: (5, "x")}


def test_facade_exceptions_and_version_spec(engine):
    """Reference-parity facade surface (package.py:75, 87-104):
    ``engine.exceptions`` exposes the error taxonomy and
    ``version_spec`` records runtime versions."""
    from mssql_dataframe_spark import errors

    assert engine.exceptions is errors
    assert engine.exceptions.SQLTableDoesNotExist is errors.SQLTableDoesNotExist
    vs = engine.version_spec
    assert vs["spark"] == engine.spark.version
    assert vs["pyspark"] and vs["pandas"]


def test_compare_dfs_utility(engine, spark):
    """equality.compare_dfs (reference __equality__.py): True on equal
    multisets, descriptive AssertionError naming the unequal column."""
    import pytest as _pytest

    from mssql_dataframe_spark.equality import compare_dfs

    a = spark.createDataFrame([(1, "x"), (2, "y")], "k long, v string")
    b = spark.createDataFrame([(2, "y"), (1, "x")], "k long, v string")
    assert compare_dfs(a, b) is True  # unordered relations
    c = spark.createDataFrame([(1, "x"), (2, "z")], "k long, v string")
    with _pytest.raises(AssertionError, match=r"\['v'\]"):
        compare_dfs(a, c)
    with _pytest.raises(AssertionError, match="row counts"):
        compare_dfs(a, a.limit(1))
    with _pytest.raises(AssertionError, match="columns differ"):
        compare_dfs(a, a.select("v", "k"))


def test_per_call_metadata_timestamp_override(engine, spark):
    """Reference parity (test_update_override_timestamps /
    test_merge_override_timestamps): include_metadata_timestamps=True
    per call overrides an engine default of False — the _time_* column
    is auto-created with the warning contract and stamped for that
    write only."""
    engine.create.table("dbo.t_ovr", COLS, primary_key_column="id")
    engine.write.insert("dbo.t_ovr", _mini_df(spark))  # default: no stamps
    assert "_time_insert" not in engine.read.table("dbo.t_ovr").columns
    upd = spark.createDataFrame([Row(id=1, amount=0.0)])
    engine.write.update(
        "dbo.t_ovr", upd, include_metadata_timestamps=True
    )
    df = engine.read.table("dbo.t_ovr")
    assert "_time_update" in df.columns
    assert [r.id for r in df.filter(F.col("_time_update").isNotNull()).collect()] == [1]
    engine.write.merge(
        "dbo.t_ovr",
        spark.createDataFrame([Row(id=9, amount=9.0)]),
        upsert=True,
        include_metadata_timestamps=True,
    )
    df = engine.read.table("dbo.t_ovr")
    assert "_time_insert" in df.columns
    assert df.filter("id = 9 AND _time_insert IS NOT NULL").count() == 1
