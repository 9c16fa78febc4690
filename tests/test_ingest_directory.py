"""write.ingest_directory with engine-managed columns: computed and
identity columns must not be read from landed files — they are
recomputed/assigned by the insert path."""

from __future__ import annotations

import os

from pyspark.sql import Row


def test_ingest_with_computed_and_identity(engine, spark, tmp_path):
    engine.create.table(
        "dbo.ing",
        {"qty": "int", "price": "float"},
        sql_primary_key=True,  # adds the identity _pk, engine-assigned
    )
    engine.modify.computed_column(
        "dbo.ing", "add", "total", "qty * price", "float"
    )
    land = str(tmp_path / "land")
    spark.createDataFrame(
        [Row(qty=2, price=10.0), Row(qty=3, price=4.0)],
        "qty int, price double",
    ).coalesce(1).write.parquet(os.path.join(land, "w1"))
    assert engine.write.ingest_directory("dbo.ing", land) == 1
    rows = sorted(
        (r["qty"], r["price"], r["total"], r["_pk"])
        for r in engine.read.table("dbo.ing").collect()
    )
    assert [(q, p, t) for q, p, t, _ in rows] == [(2, 10.0, 20.0), (3, 4.0, 12.0)]
    assert sorted(pk for _, _, _, pk in rows) == [1, 2]  # identity assigned
    # second wave: identity continues, computed recomputes
    spark.createDataFrame([Row(qty=5, price=2.0)], "qty int, price double"
                          ).coalesce(1).write.parquet(os.path.join(land, "w2"))
    assert engine.write.ingest_directory("dbo.ing", land) == 1
    got = {r["_pk"]: r["total"] for r in engine.read.table("dbo.ing").collect()}
    assert got[3] == 10.0


def test_ingest_csv_maps_columns_by_name(engine, spark, tmp_path):
    """A landed CSV whose header order differs from the declared schema
    must map by NAME (positional mapping would scramble values)."""
    engine.create.table(
        "dbo.csvt", {"a": "int", "b": "varchar(10)"}, primary_key_column="a"
    )
    land = str(tmp_path / "land")
    import os as _os

    _os.makedirs(land)
    with open(_os.path.join(land, "w1.csv"), "w") as f:
        f.write("b,a\nx,1\ny,2\n")
    assert engine.write.ingest_directory("dbo.csvt", land, file_format="csv") == 1
    rows = sorted(
        (r["a"], r["b"]) for r in engine.read.table("dbo.csvt").collect()
    )
    assert rows == [(1, "x"), (2, "y")]


def test_ingest_csv_multi_file_mixed_header_order(engine, spark, tmp_path):
    """One ingest call that discovers SEVERAL CSVs with different
    header orders must map each file by ITS OWN header. (A naive
    multi-file read unifies the batch by the first file's header and
    maps later files positionally — silent scrambling.)"""
    engine.create.table(
        "dbo.csvmix", {"a": "int", "b": "varchar(10)"}, primary_key_column="a"
    )
    land = str(tmp_path / "land")
    import os as _os

    _os.makedirs(land)
    # w1 sorts first and declares (a,b); w2 declares (b,a)
    with open(_os.path.join(land, "w1.csv"), "w") as f:
        f.write("a,b\n1,x\n")
    with open(_os.path.join(land, "w2.csv"), "w") as f:
        f.write("b,a\ny,2\n")
    assert engine.write.ingest_directory("dbo.csvmix", land, file_format="csv") == 2
    rows = sorted(
        (r["a"], r["b"]) for r in engine.read.table("dbo.csvmix").collect()
    )
    assert rows == [(1, "x"), (2, "y")]


def test_ingest_csv_multi_file_one_bad_header_fails_whole_batch(
    engine, spark, tmp_path
):
    """If any file in the batch lacks a declared column, the whole
    ingest fails before commit — no partial load, no ledger entry."""
    engine.create.table(
        "dbo.csvbad", {"a": "int", "b": "varchar(10)"}, primary_key_column="a"
    )
    land = str(tmp_path / "land")
    import os as _os

    import pytest as _pytest

    _os.makedirs(land)
    with open(_os.path.join(land, "w1.csv"), "w") as f:
        f.write("a,b\n1,x\n")
    with open(_os.path.join(land, "w2.csv"), "w") as f:
        f.write("a,wrong\n2,y\n")
    with _pytest.raises(ValueError, match="missing declared column"):
        engine.write.ingest_directory("dbo.csvbad", land, file_format="csv")
    assert engine.read.table("dbo.csvbad").count() == 0
    assert not (engine.store.meta("dbo.csvbad").properties.get("ingested_files"))


def test_ingest_csv_missing_column_raises(engine, spark, tmp_path):
    engine.create.table(
        "dbo.csvm", {"a": "int", "b": "varchar(10)"}, primary_key_column="a"
    )
    land = str(tmp_path / "land")
    import os as _os

    import pytest as _pytest

    _os.makedirs(land)
    with open(_os.path.join(land, "w1.csv"), "w") as f:
        f.write("a,wrong\n1,x\n")
    with _pytest.raises(ValueError, match="missing declared column"):
        engine.write.ingest_directory("dbo.csvm", land, file_format="csv")
    # nothing committed, nothing remembered
    assert engine.read.table("dbo.csvm").count() == 0
    assert not (engine.store.meta("dbo.csvm").properties.get("ingested_files"))


def test_ingest_csv_case_colliding_header_raises(engine, spark, tmp_path):
    """A header whose columns lower-case-collide (``A`` and ``a``) is
    ambiguous under by-name mapping — fail loudly instead of silently
    picking whichever one the dict kept."""
    engine.create.table(
        "dbo.csvcc", {"a": "int", "b": "varchar(10)"}, primary_key_column="a"
    )
    land = str(tmp_path / "land")
    import os as _os

    import pytest as _pytest

    _os.makedirs(land)
    with open(_os.path.join(land, "w1.csv"), "w") as f:
        f.write("A,a,b\n9,1,x\n")
    with _pytest.raises(ValueError, match="case-colliding"):
        engine.write.ingest_directory("dbo.csvcc", land, file_format="csv")
    assert engine.read.table("dbo.csvcc").count() == 0
    assert not (engine.store.meta("dbo.csvcc").properties.get("ingested_files"))


def test_ingest_ledger_commits_atomically_with_data(engine, spark, tmp_path):
    """The ingested-files ledger rides the SAME commit as the data:
    a failed insert leaves no ledger entry (so retry re-reads the
    file), and a successful ingest is exactly one version bump whose
    meta already carries the ledger."""
    import os as _os

    import pytest as _pytest

    from mssql_dataframe_spark import errors as E

    engine.create.table(
        "dbo.led", {"q": "int"}, sql_primary_key=True
    )
    engine.modify.check_constraint("dbo.led", "add", "q_pos", "q > 0")
    land = str(tmp_path / "land")
    spark.createDataFrame([Row(q=-5)], "q int").coalesce(1).write.parquet(
        _os.path.join(land, "bad")
    )
    with _pytest.raises(E.SQLCheckConstraintViolation):
        engine.write.ingest_directory("dbo.led", land)
    meta = engine.store.meta("dbo.led")
    assert not meta.properties.get("ingested_files")  # failure left no ledger
    assert engine.read.table("dbo.led").count() == 0

    # replace with a valid landing wave; the retry re-reads everything
    import shutil as _shutil

    _shutil.rmtree(land)
    spark.createDataFrame([Row(q=7)], "q int").coalesce(1).write.parquet(
        _os.path.join(land, "good")
    )
    v_before = engine.store.meta("dbo.led").version
    assert engine.write.ingest_directory("dbo.led", land) == 1
    meta = engine.store.meta("dbo.led")
    assert meta.version == v_before + 1  # ONE commit: data + ledger together
    assert len(meta.properties["ingested_files"]) == 1
    assert engine.read.table("dbo.led").count() == 1


def test_concurrent_ingest_of_the_same_files_loads_them_once(
    engine, spark, tmp_path, monkeypatch
):
    """Engine A builds its ledger, engine B (same store root) ingests
    the same landing directory, then A commits. A commits only on the
    snapshot its ledger came from, so it fails cleanly instead of
    loading the file a second time."""
    import pytest as _pytest

    from mssql_dataframe_spark import SparkEngine
    from mssql_dataframe_spark import errors as E
    from mssql_dataframe_spark.core.write import ingest as ingest_mod

    engine.create.table("dbo.ingr", {"id": "bigint", "v": "bigint"})
    land = str(tmp_path / "land")
    spark.range(10).selectExpr("id", "id AS v").coalesce(1).write.parquet(
        os.path.join(land, "w1")
    )
    other = SparkEngine(spark=spark, store_root=engine.store.root)
    orig_list = ingest_mod._list_data_files
    raced = []

    def list_then_race(path, suffix):
        listed = orig_list(path, suffix)
        if not raced:
            raced.append(True)
            assert other.write.ingest_directory("dbo.ingr", land) == 1
        return listed

    monkeypatch.setattr(ingest_mod, "_list_data_files", list_then_race)
    with _pytest.raises(E.SQLConcurrentWriteConflict):
        engine.write.ingest_directory("dbo.ingr", land)
    monkeypatch.undo()
    assert raced
    assert engine.read.table("dbo.ingr").count() == 10
    assert len(engine.store.meta("dbo.ingr").properties["ingested_files"]) == 1
    # a retry sees B's ledger and loads nothing
    assert engine.write.ingest_directory("dbo.ingr", land) == 0
    assert engine.read.table("dbo.ingr").count() == 10
