"""Regression pins for the r9 validation-pipeline review findings:
string-source range/grid parity, ANSI-safe decimal probes, GUID
bounds canonicalization, and NULL-merge-key semantics."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mssql_dataframe_spark import errors


def test_string_source_range_check_enforced(engine, spark):
    """'10000' into tinyint must raise the range error — previously
    the lexicographic string min/max hit a swallowed TypeError and the
    out-of-range value was stored unchecked."""
    engine.create.table("dbo.vh1", {"pk": "bigint", "v": "tinyint"},
                        primary_key_column="pk")
    df = spark.createDataFrame([Row(pk=1, v="10000")],
                               "pk long, v string")
    with pytest.raises(errors.SQLInsufficientColumnSize, match="'v'"):
        engine.write.insert("dbo.vh1", df)
    # in-range strings still land, converted
    engine.write.insert(
        "dbo.vh1",
        spark.createDataFrame([Row(pk=1, v="255")], "pk long, v string"),
    )
    assert engine.read.table("dbo.vh1").collect()[0]["v"] == 255


def test_high_precision_decimal_is_writable(engine, spark):
    """10^21 is a legal NUMERIC(38,0) value; the old Decimal(38,18)
    widening overflowed it and aborted the validation job under ANSI."""
    from decimal import Decimal

    engine.create.table("dbo.vh2", {"pk": "bigint", "v": "numeric(38,0)"},
                        primary_key_column="pk")
    engine.write.insert(
        "dbo.vh2",
        spark.createDataFrame(
            [Row(pk=1, v=Decimal(10) ** 21)],
            "pk long, v decimal(38,0)",
        ),
    )
    assert engine.read.table("dbo.vh2").collect()[0]["v"] == Decimal(10) ** 21


def test_money_overflow_raises_engine_error(engine, spark):
    """A money value beyond Decimal(19,4) must surface as the engine's
    invalid-value error — not a raw Spark arithmetic crash from the
    rounding-warning probe's plain cast."""
    from decimal import Decimal

    engine.create.table("dbo.vh3", {"pk": "bigint", "v": "money"},
                        primary_key_column="pk")
    df = spark.createDataFrame(
        [Row(pk=1, v=Decimal(10) ** 16)], "pk long, v decimal(38,0)"
    )
    with pytest.raises(errors.DataframeColumnInvalidValue):
        engine.write.insert("dbo.vh3", df)


def test_merge_accepts_multiple_null_key_source_rows(engine, spark):
    """T-SQL MERGE matches nothing on NULL keys, so two NULL-keyed
    source rows are two inserts — not 'the same row updated twice'."""
    engine.create.table(
        "dbo.vh4", {"k": "bigint", "v": "nvarchar(10)"},
    )
    engine.write.insert(
        "dbo.vh4",
        spark.createDataFrame([Row(k=1, v="a")], "k long, v string"),
    )
    src = spark.createDataFrame(
        [Row(k=None, v="x"), Row(k=None, v="y"), Row(k=1, v="a2")],
        "k long, v string",
    )
    engine.write.merge("dbo.vh4", src, match_columns=["k"])
    got = [
        (r["k"], r["v"])
        for r in engine.read.table("dbo.vh4").collect()
        if r["v"] is not None
    ]
    assert (1, "a2") in got
    assert sum(1 for k, _ in got if k is None) == 2
    # duplicated NON-null keys still raise
    dup = spark.createDataFrame(
        [Row(k=2, v="p"), Row(k=2, v="q")], "k long, v string"
    )
    with pytest.raises(ValueError, match="duplicate match-key"):
        engine.write.merge("dbo.vh4", dup, match_columns=["k"])


def test_datetime_max_of_997_rejects_rounding_overflow(engine, spark):
    """Legacy DATETIME tops out at .997; a value that would round past
    year 9999 fails the range check instead of storing an
    unrepresentable timestamp."""
    engine.create.table("dbo.vh5", {"pk": "bigint", "t": "datetime"},
                        primary_key_column="pk")
    bad = spark.createDataFrame(
        [(1, datetime.datetime(9999, 12, 31, 23, 59, 59, 999500))],
        "pk long, t timestamp_ntz",
    )
    with pytest.raises(errors.SQLInsufficientColumnSize):
        engine.write.insert("dbo.vh5", bad)
    ok = spark.createDataFrame(
        [(1, datetime.datetime(9999, 12, 31, 23, 59, 59, 996500))],
        "pk long, t timestamp_ntz",
    )
    engine.write.insert("dbo.vh5", ok)
    got = engine.read.table("dbo.vh5").collect()[0]["t"]
    assert got == datetime.datetime(9999, 12, 31, 23, 59, 59, 997000)


def test_string_temporal_source_rounds_like_timestamp(engine, spark):
    """The same logical smalldatetime/datetime value stores
    identically whether supplied as a timestamp or a string."""
    engine.create.table(
        "dbo.vh6",
        {"pk": "bigint", "sd": "smalldatetime", "dt": "datetime"},
        primary_key_column="pk",
    )
    as_ts = spark.createDataFrame(
        [(1,
          datetime.datetime(2024, 5, 1, 10, 30, 29, 999000),
          datetime.datetime(2024, 5, 1, 10, 30, 29, 999000))],
        "pk long, sd timestamp_ntz, dt timestamp_ntz",
    )
    as_str = spark.createDataFrame(
        [(2, "2024-05-01 10:30:29.999", "2024-05-01 10:30:29.999")],
        "pk long, sd string, dt string",
    )
    engine.write.insert("dbo.vh6", as_ts)
    engine.write.insert("dbo.vh6", as_str)
    rows = {r["pk"]: r for r in engine.read.table("dbo.vh6").collect()}
    assert rows[1]["sd"] == rows[2]["sd"] == datetime.datetime(
        2024, 5, 1, 10, 31
    )
    # .999 has no grid slot: DATETIME rounds it up to the next second
    assert rows[1]["dt"] == rows[2]["dt"] == datetime.datetime(
        2024, 5, 1, 10, 30, 30
    )


def test_guid_key_bounds_match_stored_canonical_form(engine, spark):
    """Lowercase-GUID match keys must still find their uppercase
    stored rows — previously the pre-canonicalization bounds made
    stats pruning declare every file disjoint, silently skipping the
    update (and letting duplicate PKs through)."""
    g1 = "AAAAAAAA-0000-0000-0000-000000000001"
    g2 = "BBBBBBBB-0000-0000-0000-000000000002"
    engine.create.table(
        "dbo.vh7",
        {"gid": "uniqueidentifier", "v": "bigint"},
        primary_key_column="gid",
    )
    engine.write.insert(
        "dbo.vh7",
        spark.createDataFrame(
            [Row(gid=g1, v=1), Row(gid=g2, v=2)], "gid string, v long"
        ),
    )
    # update arrives with LOWERCASE keys
    engine.write.update(
        "dbo.vh7",
        spark.createDataFrame(
            [Row(gid=g1.lower(), v=10)], "gid string, v long"
        ),
    )
    got = {r["gid"]: r["v"] for r in engine.read.table("dbo.vh7").collect()}
    assert got == {g1: 10, g2: 2}
    # and a lowercase re-insert of an existing key is a PK collision
    with pytest.raises(Exception, match="(?i)primary|duplicate"):
        engine.write.insert(
            "dbo.vh7",
            spark.createDataFrame(
                [Row(gid=g2.lower(), v=9)], "gid string, v long"
            ),
        )


def test_merge_rejects_insert_with_missing_not_null_column(engine, spark):
    """A NOT NULL column absent from the merge source makes any
    inserted row a violation (SQL Server error 515 shape) — previously
    NULL was silently committed."""
    engine.create.table(
        "dbo.vh8",
        {"k": "bigint", "name": "nvarchar(20)", "v": "bigint"},
        primary_key_column="k",
        not_nullable=["name"],
    )
    engine.write.insert(
        "dbo.vh8",
        spark.createDataFrame(
            [Row(k=1, name="a", v=1)], "k long, name string, v long"
        ),
    )
    # update-only merge without 'name' is fine (no inserts happen)
    engine.write.merge(
        "dbo.vh8",
        spark.createDataFrame([Row(k=1, v=10)], "k long, v long"),
        upsert=True,
    )
    assert engine.read.table("dbo.vh8").collect()[0]["v"] == 10
    # a NEW key without 'name' must raise, not insert NULL
    with pytest.raises(errors.DataframeColumnInvalidValue, match="name"):
        engine.write.merge(
            "dbo.vh8",
            spark.createDataFrame([Row(k=2, v=2)], "k long, v long"),
            upsert=True,
        )
    assert engine.read.table("dbo.vh8").count() == 1


def test_merge_superset_match_enforces_pk(engine, spark):
    """match_columns strictly wider than the PK: a source row whose
    full match tuple is absent inserts — but a PK value that already
    exists must still raise, not silently duplicate."""
    engine.create.table(
        "dbo.vh9",
        {"k": "bigint", "part": "nvarchar(5)", "v": "bigint"},
        primary_key_column="k",
    )
    engine.write.insert(
        "dbo.vh9",
        spark.createDataFrame(
            [Row(k=1, part="A", v=1)], "k long, part string, v long"
        ),
    )
    with pytest.raises(errors.SQLUniqueConstraintViolation):
        engine.write.merge(
            "dbo.vh9",
            spark.createDataFrame(
                [Row(k=1, part="B", v=9)], "k long, part string, v long"
            ),
            match_columns=["k", "part"],
            upsert=True,
        )
    # disjoint PK values through the same shape still insert fine
    engine.write.merge(
        "dbo.vh9",
        spark.createDataFrame(
            [Row(k=2, part="B", v=2)], "k long, part string, v long"
        ),
        match_columns=["k", "part"],
        upsert=True,
    )
    assert engine.read.table("dbo.vh9").count() == 2


def test_merge_nmbs_set_cannot_duplicate_pk(engine, spark):
    """A WHEN NOT MATCHED BY SOURCE SET expression rewriting a non-
    match PK column must hit the PK uniqueness check."""
    engine.create.table(
        "dbo.vh10",
        {"k": "bigint", "tag": "nvarchar(5)", "v": "bigint"},
        primary_key_column="k",
    )
    engine.write.insert(
        "dbo.vh10",
        spark.createDataFrame(
            [Row(k=1, tag="x", v=1), Row(k=2, tag="y", v=2)],
            "k long, tag string, v long",
        ),
    )
    with pytest.raises(errors.SQLUniqueConstraintViolation):
        engine.write.merge(
            "dbo.vh10",
            spark.createDataFrame(
                [Row(k=1, tag="x", v=10)], "k long, tag string, v long"
            ),
            match_columns=["tag"],
            not_matched_by_source_set={"k": "1"},
        )


def test_merge_delete_requires_accepts_bare_string(engine, spark):
    """delete_requires='part' mirrors match_columns' string form
    instead of exploding into per-character column errors."""
    engine.create.table(
        "dbo.vh11",
        {"k": "bigint", "part": "bigint", "v": "bigint"},
        primary_key_column="k",
    )
    engine.write.insert(
        "dbo.vh11",
        spark.createDataFrame(
            [Row(k=1, part=0, v=1), Row(k=2, part=1, v=2)],
            "k long, part long, v long",
        ),
    )
    engine.write.merge(
        "dbo.vh11",
        spark.createDataFrame(
            [Row(k=3, part=0, v=3)], "k long, part long, v long"
        ),
        delete_requires="part",
    )
    got = {r["k"] for r in engine.read.table("dbo.vh11").collect()}
    assert got == {2, 3}  # k=1 (part 0, not in source) deleted


def test_scd2_rejects_new_version_with_missing_not_null_column(
    engine, spark
):
    """A NOT NULL non-tracked column absent from the SCD2 source makes
    any synthesized new-version row (src-only insert OR changed-row
    replacement) a violation — previously row_struct('new') silently
    filled it with NULL (the hole write.merge already closed)."""
    engine.create.table(
        "dbo.vhs1",
        {
            "id": "bigint",
            "name": "nvarchar(20)",
            "cat": "nvarchar(5)",
            "_valid_from": "datetime2",
            "_valid_to": "datetime2",
            "_is_current": "bit",
        },
        primary_key_column="id",
        not_nullable=["cat"],
    )
    t1 = F.lit("2024-01-01 00:00:00").cast("timestamp_ntz")
    t2 = F.lit("2024-06-01 00:00:00").cast("timestamp_ntz")
    engine.write.merge_scd2(
        "dbo.vhs1",
        spark.createDataFrame(
            [Row(id=1, name="a", cat="X")],
            "id long, name string, cat string",
        ),
        as_of=t1,
    )
    # unchanged re-merge WITHOUT cat: no new version rows synthesize,
    # so the missing column is harmless (probe gates on the rare path)
    engine.write.merge_scd2(
        "dbo.vhs1",
        spark.createDataFrame([Row(id=1, name="a")], "id long, name string"),
        as_of=t2,
    )
    assert engine.read.table("dbo.vhs1").count() == 1
    # a NEW key without cat must raise, not insert NULL
    with pytest.raises(errors.DataframeColumnInvalidValue, match="cat"):
        engine.write.merge_scd2(
            "dbo.vhs1",
            spark.createDataFrame(
                [Row(id=2, name="b")], "id long, name string"
            ),
            as_of=t2,
        )
    # a CHANGED existing key without cat synthesizes a new current row
    # too — same violation
    with pytest.raises(errors.DataframeColumnInvalidValue, match="cat"):
        engine.write.merge_scd2(
            "dbo.vhs1",
            spark.createDataFrame(
                [Row(id=1, name="a2")], "id long, name string"
            ),
            as_of=t2,
        )
    assert engine.read.table("dbo.vhs1").count() == 1


def test_scd2_superset_business_key_enforces_pk(engine, spark):
    """A business key strictly wider than the PK inserts a new current
    row even when its PK value already exists — SQL Server still
    enforces the PK there."""
    engine.create.table(
        "dbo.vhs2",
        {
            "id": "bigint",
            "region": "nvarchar(5)",
            "amount": "bigint",
            "_valid_from": "datetime2",
            "_valid_to": "datetime2",
            "_is_current": "bit",
        },
        primary_key_column="id",
    )
    t1 = F.lit("2024-01-01 00:00:00").cast("timestamp_ntz")
    engine.write.merge_scd2(
        "dbo.vhs2",
        spark.createDataFrame(
            [Row(id=1, region="US", amount=10)],
            "id long, region string, amount long",
        ),
        match_columns=["id", "region"],
        as_of=t1,
    )
    with pytest.raises(errors.SQLUniqueConstraintViolation):
        engine.write.merge_scd2(
            "dbo.vhs2",
            spark.createDataFrame(
                [Row(id=1, region="EU", amount=20)],
                "id long, region string, amount long",
            ),
            match_columns=["id", "region"],
            as_of=t1,
        )
    # a fresh PK value through the same shape still inserts fine
    engine.write.merge_scd2(
        "dbo.vhs2",
        spark.createDataFrame(
            [Row(id=2, region="EU", amount=20)],
            "id long, region string, amount long",
        ),
        match_columns=["id", "region"],
        as_of=t1,
    )
    assert engine.read.table("dbo.vhs2").count() == 2


def test_scd2_valid_from_pk_rejects_as_of_collision(engine, spark):
    """The canonical (business key, valid_from) composite PK: closing
    and re-opening a key at the SAME as_of would store two rows with
    an identical PK tuple — must raise, not silently corrupt."""
    engine.create.table(
        "dbo.vhs3",
        {
            "id": "bigint",
            "amount": "bigint",
            "_valid_from": "datetime2",
            "_valid_to": "datetime2",
            "_is_current": "bit",
        },
        primary_key_column=["id", "_valid_from"],
    )
    t1 = F.lit("2024-01-01 00:00:00").cast("timestamp_ntz")
    t2 = F.lit("2024-06-01 00:00:00").cast("timestamp_ntz")
    engine.write.merge_scd2(
        "dbo.vhs3",
        spark.createDataFrame([Row(id=1, amount=10)], "id long, amount long"),
        match_columns=["id"],
        as_of=t1,
    )
    with pytest.raises(errors.SQLUniqueConstraintViolation):
        engine.write.merge_scd2(
            "dbo.vhs3",
            spark.createDataFrame(
                [Row(id=1, amount=20)], "id long, amount long"
            ),
            match_columns=["id"],
            as_of=t1,  # same effective timestamp as the open version
        )
    # a later as_of closes and re-opens cleanly
    engine.write.merge_scd2(
        "dbo.vhs3",
        spark.createDataFrame([Row(id=1, amount=20)], "id long, amount long"),
        match_columns=["id"],
        as_of=t2,
    )
    assert engine.read.table("dbo.vhs3").count() == 2


def test_merge_nmbs_set_null_into_not_null_raises(engine, spark):
    """`SET c = NULL` (or any NULL-evaluating expression) against a
    NOT NULL column via WHEN NOT MATCHED BY SOURCE must raise like SQL
    Server's error 515 — the grammar whitelist cannot see result
    nullability."""
    engine.create.table(
        "dbo.vh15",
        {"k": "bigint", "flag": "bigint", "v": "bigint"},
        primary_key_column="k",
        not_nullable=["flag"],
    )
    engine.write.insert(
        "dbo.vh15",
        spark.createDataFrame(
            [Row(k=1, flag=0, v=1), Row(k=2, flag=0, v=2)],
            "k long, flag long, v long",
        ),
    )
    # the bare NULL literal is already grammar-rejected; a
    # whitelisted expression that EVALUATES to NULL is the hole
    with pytest.raises(errors.DataframeColumnInvalidValue, match="flag"):
        engine.write.merge(
            "dbo.vh15",
            spark.createDataFrame(
                [Row(k=1, flag=0, v=10)], "k long, flag long, v long"
            ),
            not_matched_by_source_set={"flag": "nullif(flag, flag)"},
        )
    # a non-NULL expression still flags normally
    engine.write.merge(
        "dbo.vh15",
        spark.createDataFrame(
            [Row(k=1, flag=0, v=10)], "k long, flag long, v long"
        ),
        not_matched_by_source_set={"flag": "1"},
    )
    got = {(r["k"], r["flag"], r["v"]) for r in engine.read.table("dbo.vh15").collect()}
    assert got == {(1, 0, 10), (2, 1, 2)}


def test_merge_insert_allows_not_null_time_insert(engine, spark):
    """A NOT NULL _time_insert is engine-stamped on every inserted row
    when metadata timestamps are on — the missing-column probe must
    not falsely reject it."""
    engine.create.table(
        "dbo.vh16",
        {"k": "bigint", "v": "bigint", "_time_insert": "datetime2"},
        primary_key_column="k",
        not_nullable=["_time_insert"],
    )
    engine.write.merge(
        "dbo.vh16",
        spark.createDataFrame([Row(k=1, v=1)], "k long, v long"),
        upsert=True,
        include_metadata_timestamps=True,
    )
    row = engine.read.table("dbo.vh16").collect()[0]
    assert row["v"] == 1 and row["_time_insert"] is not None


def test_merge_auto_evolve_occ_loss_leaves_schema_unchanged(engine, spark):
    """A merge that auto-evolves the schema but loses the commit race
    must not leave the evolved columns in the catalog — the evolution
    publishes atomically with the data commit."""
    engine.create.table(
        "dbo.vh17", {"k": "bigint", "v": "bigint"}, primary_key_column="k"
    )
    engine.write.insert(
        "dbo.vh17",
        spark.createDataFrame([Row(k=1, v=1)], "k long, v long"),
    )
    store = engine.store
    orig_rf, orig_ow = store.replace_files, store.overwrite
    raced = {"done": False}

    def race(orig):
        def wrapper(snap, df, *a, **kw):
            # fire the concurrent insert at the last pre-commit moment
            if snap.name == "dbo.vh17" and not raced["done"]:
                raced["done"] = True
                store.replace_files, store.overwrite = orig_rf, orig_ow
                engine.write.insert(
                    "dbo.vh17",
                    spark.createDataFrame([Row(k=9, v=9)], "k long, v long"),
                )
            return orig(snap, df, *a, **kw)

        return wrapper

    store.replace_files, store.overwrite = race(orig_rf), race(orig_ow)
    try:
        with pytest.raises(errors.SQLConcurrentWriteConflict):
            engine.write.merge(
                "dbo.vh17",
                spark.createDataFrame(
                    [Row(k=1, v=2, extra=5)], "k long, v long, extra long"
                ),
                upsert=True,
                auto_evolve=True,
            )
    finally:
        store.replace_files, store.overwrite = orig_rf, orig_ow
    meta = store.meta("dbo.vh17")
    assert "extra" not in meta.column_types
    assert "extra" not in meta.spark_schema.fieldNames()
    got = {(r["k"], r["v"]) for r in engine.read.table("dbo.vh17").collect()}
    assert got == {(1, 1), (9, 9)}
    # the retry (re-read, re-plan) evolves and commits cleanly
    engine.write.merge(
        "dbo.vh17",
        spark.createDataFrame(
            [Row(k=1, v=2, extra=5)], "k long, v long, extra long"
        ),
        upsert=True,
        auto_evolve=True,
    )
    assert "extra" in store.meta("dbo.vh17").column_types
    got = {
        (r["k"], r["v"], r["extra"])
        for r in engine.read.table("dbo.vh17").collect()
    }
    assert got == {(1, 2, 5), (9, 9, None)}


def test_merge_delete_requires_high_cardinality(engine, spark):
    """A high-cardinality delete_requires column must not be force-
    broadcast (driver OOM risk at scale) — the membership join is left
    to the planner and the semantics hold at any cardinality."""
    engine.create.table(
        "dbo.vh18",
        {"k": "bigint", "part": "bigint", "v": "bigint"},
        primary_key_column="k",
    )
    n = 4000
    base = spark.range(n).selectExpr(
        "id as k", "id as part", "id as v"
    )
    engine.write.insert("dbo.vh18", base)
    # source reloads parts [0, 1000): keys 0..499 survive as updates,
    # 500..999 are deleted (their part is in the source but their key
    # is not), parts >= 1000 are untouched
    src = spark.range(500).selectExpr(
        "id as k", "id as part", "id + 100000 as v"
    ).union(
        spark.range(500, 1000).selectExpr(
            "id + 1000000 as k", "id as part", "id as v"
        )
    )
    engine.write.merge("dbo.vh18", src, delete_requires=["part"])
    out = engine.read.table("dbo.vh18")
    assert out.count() == n - 500 + 500
    assert out.filter((F.col("k") >= 500) & (F.col("k") < 1000)).count() == 0
    assert (
        out.filter((F.col("k") >= 1000) & (F.col("k") < 4000)).count()
        == 3000
    )
