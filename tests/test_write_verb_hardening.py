"""Round-11 review pins for the create/insert/update verbs: identity
integrity (no explicit values, commit-atomic counter), PK NOT NULL on
update, the stats-path no-match contract, and create-time fail-fast
validation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mssql_dataframe_spark.errors import (
    DataframeColumnInvalidValue,
    SQLColumnDoesNotExist,
)


def test_insert_rejects_explicit_identity_values(engine, spark):
    engine.create.table(
        "dbo.ident", {"id": "int identity", "val": "varchar(10)"},
        primary_key_column="id",
    )
    with pytest.raises(DataframeColumnInvalidValue, match="identity"):
        engine.write.insert(
            "dbo.ident",
            spark.createDataFrame([(5, "x")], "id int, val string"),
        )
    # the auto path still works and starts from the untouched counter
    engine.write.insert(
        "dbo.ident", spark.createDataFrame([("a",), ("b",)], "val string")
    )
    got = {r["id"] for r in engine.read.table("dbo.ident").collect()}
    assert got == {1, 2}


def test_identity_counter_rides_the_commit(engine, spark, monkeypatch):
    """identity_next publishes in the SAME meta write as the data
    commit — never via a separate pre-commit update_meta that a losing
    writer could use to clobber the winner's counter."""
    engine.create.table(
        "dbo.idc", {"id": "int identity", "val": "varchar(10)"},
        primary_key_column="id",
    )

    def boom(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("identity_next must ride the commit")

    monkeypatch.setattr(engine.store, "update_meta", boom)
    engine.write.insert(
        "dbo.idc", spark.createDataFrame([("a",), ("b",)], "val string")
    )
    assert engine.store.meta("dbo.idc").identity_next == 3
    # merge's identity path too
    engine.write.merge(
        "dbo.idc",
        spark.createDataFrame([("c",)], "val string"),
        match_columns=["val"],
    )
    assert engine.store.meta("dbo.idc").identity_next == 4


def test_update_rejects_null_into_primary_key(engine, spark):
    df = spark.createDataFrame([(1, 10, "a"), (2, 20, "b")],
                               "pk long, grp long, val string")
    engine.create.table_from_dataframe("dbo.upk", df, primary_key="pk")
    engine.write.insert("dbo.upk", df)
    bad = spark.createDataFrame([(None, 10, "z")],
                                "pk long, grp long, val string")
    with pytest.raises(Exception, match="pk|NULL|null"):
        engine.write.update("dbo.upk", bad, match_columns=["grp"])
    # the committed table still holds no NULL PKs
    assert engine.read.table("dbo.upk").filter(
        F.col("pk").isNull()
    ).count() == 0


def test_update_no_match_commits_nothing_on_stats_path(engine, spark):
    """A source entirely outside every file's key range must not
    publish a version (the no-match-commits-nothing contract, already
    honored by the content-discovery path)."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, val string")
    engine.create.table_from_dataframe("dbo.nm", df, primary_key="id")
    engine.write.insert("dbo.nm", df)
    v = engine.store.meta("dbo.nm").version
    engine.write.update(
        "dbo.nm",
        spark.createDataFrame([(999, "z")], "id long, val string"),
    )
    assert engine.store.meta("dbo.nm").version == v


def test_create_validates_not_nullable_names(engine):
    with pytest.raises(SQLColumnDoesNotExist, match="bb"):
        engine.create.table(
            "dbo.nnv", {"a": "int", "b": "int"}, not_nullable=["a", "bb"]
        )


def test_create_rejects_zero_columns(engine):
    with pytest.raises(ValueError, match="at least one column"):
        engine.create.table("dbo.empty", {})


def test_create_view_fails_fast_on_bad_order_spec(engine, spark):
    df = spark.createDataFrame([(1, "a")], "id long, val string")
    engine.create.table_from_dataframe("dbo.vsrc", df, primary_key="id")
    with pytest.raises(SQLColumnDoesNotExist):
        engine.create.view("v_bad1", "dbo.vsrc",
                           order_column="typo", order_direction="ASC")
    with pytest.raises(ValueError, match="ASC or DESC"):
        engine.create.view("v_bad2", "dbo.vsrc",
                           order_column="id", order_direction="SIDEWAYS")
    with pytest.raises(ValueError, match="together"):
        engine.create.view("v_bad3", "dbo.vsrc", order_column="id")
    with pytest.raises(ValueError, match="integer"):
        engine.create.view("v_bad4", "dbo.vsrc", limit="10")


#: each rewrite verb run with a zero-row source against a 20-row,
#: 4-file table: (versions it commits, rows after, newest history
#: record as (operation, n_files_added, n_files_kept, n_rows))
_EMPTY_SOURCE = {
    "update": (0, 20, ("append", 4, 0, 20)),
    "delete": (0, 20, ("append", 4, 0, 20)),
    "merge_upsert": (1, 20, ("merge", 0, 4, 20)),
    "merge": (1, 0, ("merge", 0, 0, 0)),
    "merge_scd2": (1, 20, ("merge_scd2", 0, 4, 20)),
}


@pytest.mark.parametrize("verb", sorted(_EMPTY_SOURCE))
def test_rewrite_verbs_with_an_empty_source(engine, spark, verb):
    """Update and delete commit nothing; an upsert merge and SCD2
    commit a version that carries every file; a plain merge, whose
    not-matched-by-source delete is active, empties the table."""
    eng = engine
    base = spark.range(20).selectExpr("id AS k", "id AS v")
    if verb == "merge_scd2":
        eng.create.table(
            "dbo.es",
            {"k": "bigint", "v": "bigint", "_valid_from": "datetime2",
             "_valid_to": "datetime2", "_is_current": "bit"},
        )
        base = base.select(
            "k", "v",
            F.lit("2024-01-01 00:00:00").cast("timestamp_ntz")
            .alias("_valid_from"),
            F.lit(None).cast("timestamp_ntz").alias("_valid_to"),
            F.lit(True).alias("_is_current"),
        )
    else:
        eng.create.table("dbo.es", {"k": "bigint", "v": "bigint"},
                         primary_key_column="k")
    eng.write.insert("dbo.es", base.repartitionByRange(4, "k"))
    v0 = eng.store.meta("dbo.es").version
    src = spark.range(0).selectExpr("id AS k", "-id AS v")
    out = {
        "update": lambda: eng.write.update("dbo.es", src),
        "delete": lambda: eng.write.delete("dbo.es", src.select("k")),
        "merge_upsert": lambda: eng.write.merge("dbo.es", src, upsert=True),
        "merge": lambda: eng.write.merge("dbo.es", src),
        "merge_scd2": lambda: eng.write.merge_scd2(
            "dbo.es", src, match_columns=["k"],
            as_of=F.lit("2024-06-01 00:00:00").cast("timestamp_ntz"),
        ),
    }[verb]()
    if verb == "delete":
        assert out == 0
    steps, n_rows, record = _EMPTY_SOURCE[verb]
    assert eng.store.meta("dbo.es").version == v0 + steps
    assert eng.read.table("dbo.es").count() == n_rows
    top = eng.store.history("dbo.es")[0]
    assert top["version"] == v0 + steps
    assert (top["operation"], top["n_files_added"], top["n_files_kept"],
            top["n_rows"]) == record
