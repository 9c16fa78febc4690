"""write.delete_where (Delta DELETE WHERE analog): file-level pruning
by content discovery, NULL-predicate row retention, no-op no-match."""

from __future__ import annotations

import pytest
from pyspark.sql import Row


def _mk(engine, spark):
    engine.create.table(
        "dbo.dw", {"id": "bigint", "v": "int"}, primary_key_column="id"
    )
    # two files with disjoint v ranges (separate inserts = separate commits)
    engine.write.insert(
        "dbo.dw",
        spark.createDataFrame(
            [Row(id=i, v=i) for i in range(10)], "id long, v int"
        ).coalesce(1),
    )
    engine.write.insert(
        "dbo.dw",
        spark.createDataFrame(
            [Row(id=100 + i, v=1000 + i) for i in range(10)],
            "id long, v int",
        ).coalesce(1),
    )


def _paths(engine, name="dbo.dw"):
    meta = engine.store.meta(name)
    return {e["path"] for e in engine.store.manifest(name, meta.version)}


def test_deletes_and_carries_untouched_files_by_reference(engine, spark):
    _mk(engine, spark)
    before = _paths(engine)
    n = engine.write.delete_where("dbo.dw", "v >= 1005")
    assert n == 5
    after = _paths(engine)
    # the low-range file holds no matches: same physical file survives
    assert len(before & after) >= 1
    vals = {r["v"] for r in engine.read.table("dbo.dw").collect()}
    assert vals == set(range(10)) | {1000 + i for i in range(5)}


def test_null_predicate_keeps_row(engine, spark):
    engine.create.table(
        "dbo.dwn", {"id": "bigint", "v": "int"}, primary_key_column="id"
    )
    engine.write.insert(
        "dbo.dwn",
        spark.createDataFrame(
            [Row(id=1, v=5), Row(id=2, v=None)], "id long, v int"
        ),
    )
    n = engine.write.delete_where("dbo.dwn", "v > 0")
    assert n == 1
    assert [r["id"] for r in engine.read.table("dbo.dwn").collect()] == [2]


def test_no_match_commits_nothing(engine, spark):
    _mk(engine, spark)
    v_before = engine.store.meta("dbo.dw").version
    assert engine.write.delete_where("dbo.dw", "v > 999999") == 0
    assert engine.store.meta("dbo.dw").version == v_before


def test_truncate_is_metadata_only_and_fk_guarded(engine, spark):
    _mk(engine, spark)
    v = engine.store.meta("dbo.dw").version
    assert engine.write.truncate("dbo.dw") == 20
    meta = engine.store.meta("dbo.dw")
    assert meta.version == v + 1
    assert engine.store.manifest("dbo.dw", meta.version) == []  # no files
    assert engine.read.table("dbo.dw").count() == 0
    # time travel still reaches the pre-truncate snapshot
    assert engine.read.table("dbo.dw", version=v).count() == 20
    # FK-referenced tables cannot be truncated, even with clean children
    engine.create.table(
        "dbo.dwc", {"cid": "bigint", "ref": "bigint"},
        primary_key_column="cid",
    )
    engine.modify.foreign_key(
        "dbo.dwc", "add", "fk_dw",
        columns="ref", ref_table="dbo.dw", ref_columns="id",
    )
    from mssql_dataframe_spark import errors as E

    with pytest.raises(E.SQLForeignKeyViolation, match="truncate"):
        engine.write.truncate("dbo.dw")


@pytest.mark.parametrize("verb", ["delete", "delete_where"])
def test_deleted_count_reads_own_commit(engine, spark, verb):
    """The returned count is the rows this delete removed, read from the
    version it committed — not from whatever version is current when
    the call returns. A writer appending right after the delete's
    commit must not shift the count."""
    _mk(engine, spark)
    store = engine.store
    commit = store.replace_files

    def commit_then_race(*args, **kwargs):
        commit(*args, **kwargs)
        engine.write.insert(
            "dbo.dw",
            spark.createDataFrame([Row(id=500, v=5)], "id long, v int"),
        )

    store.replace_files = commit_then_race
    try:
        if verb == "delete":
            n = engine.write.delete(
                "dbo.dw",
                spark.createDataFrame([Row(id=i) for i in range(3)], "id long"),
            )
        else:
            n = engine.write.delete_where("dbo.dw", "v < 3")
    finally:
        store.replace_files = commit
    assert n == 3
    assert engine.read.table("dbo.dw").count() == 20 - 3 + 1
