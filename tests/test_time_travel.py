"""Snapshot time travel on the COW store (beyond-reference surface)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _mk(engine, spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, val string"
    )
    engine.create.table_from_dataframe("dbo.tt", df, primary_key="id")
    engine.write.insert("dbo.tt", df)
    return df


def test_version_read_returns_prior_snapshot(engine, spark):
    _mk(engine, spark)
    v_ins = engine.store.meta("dbo.tt").version  # create=v0, insert=v1
    engine.write.update(
        "dbo.tt",
        spark.createDataFrame([(1, "a2")], "id long, val string"),
    )
    old = {r["id"]: r["val"] for r in engine.read.table("dbo.tt", version=v_ins).collect()}
    cur = {r["id"]: r["val"] for r in engine.read.table("dbo.tt").collect()}
    assert old == {1: "a", 2: "b"}
    assert cur == {1: "a2", 2: "b"}


def test_version_read_validates_window(engine, spark):
    _mk(engine, spark)
    with pytest.raises(ValueError, match="not available"):
        engine.read.table("dbo.tt", version=5)
    # churn past the retention window (keep_versions=3; insert already
    # committed v1): v0 vacuumed
    for i in range(3):
        engine.write.update(
            "dbo.tt",
            spark.createDataFrame([(1, f"v{i}")], "id long, val string"),
        )
    with pytest.raises(ValueError, match="not available"):
        engine.read.table("dbo.tt", version=0)
    # recent prior versions still readable
    assert engine.read.table("dbo.tt", version=3).count() == 2


def test_history_ledger_and_retention(engine, spark):
    """Every write commits a labeled version; history lists retained
    versions newest-first and old versions fall off with vacuum."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, val string")
    engine.create.table_from_dataframe("dbo.h", df, primary_key="id")
    engine.write.insert("dbo.h", df)
    engine.write.update(
        "dbo.h", spark.createDataFrame([(1, "a2")], "id long, val string")
    )
    hist = engine.store.history("dbo.h")
    assert [(h["version"], h["operation"], h["n_rows"]) for h in hist] == [
        (2, "update", 2),
        (1, "append", 2),
        (0, "create", 0),
    ]
    assert all(h["timestamp"] is not None for h in hist)
    # append commit records carried files
    assert hist[1]["n_files_added"] >= 1 and hist[1]["n_files_kept"] == 0
    assert hist[0]["n_files_kept"] >= 0

    # churn past retention: the oldest versions drop out of history
    for i in range(4):
        engine.write.update(
            "dbo.h",
            spark.createDataFrame([(2, f"v{i}")], "id long, val string"),
        )
    hist2 = engine.store.history("dbo.h")
    assert hist2[0]["version"] == 6
    assert len(hist2) <= engine.store.keep_versions + 1
    assert {h["operation"] for h in hist2} == {"update"}

    # DataFrame surface mirrors the ledger
    rows = engine.read.table_history("dbo.h").collect()
    assert rows[0]["version"] == 6 and rows[0]["operation"] == "update"


def test_per_table_retention_property(engine, spark):
    """The keep_versions table property overrides the store default:
    an audit table keeps deeper history, a churn table keeps less."""
    df = spark.createDataFrame([(1, "a")], "id long, val string")

    engine.create.table("dbo.deep", {"id": "bigint", "val": "nvarchar(10)"},
                        primary_key_column="id",
                        properties={"keep_versions": 6})
    engine.write.insert("dbo.deep", df)
    for i in range(5):
        engine.write.update(
            "dbo.deep",
            spark.createDataFrame([(1, f"v{i}")], "id long, val string"),
        )
    # current v6 + six retained priors: v0 still readable
    assert engine.read.table("dbo.deep", version=0).count() == 0
    assert len(engine.store.history("dbo.deep")) == 7

    engine.create.table("dbo.shallow", {"id": "bigint", "val": "nvarchar(10)"},
                        primary_key_column="id",
                        properties={"keep_versions": 1})
    engine.write.insert("dbo.shallow", df)
    for i in range(3):
        engine.write.update(
            "dbo.shallow",
            spark.createDataFrame([(1, f"v{i}")], "id long, val string"),
        )
    hist = engine.store.history("dbo.shallow")
    assert len(hist) == 2  # current + one retained prior
    assert hist[0]["version"] == 4


def test_restore_rolls_back_data(engine, spark):
    """RESTORE commits the target manifest as the next version:
    data returns to the prior state, history keeps both the bad
    write and the rollback, and no files are rewritten."""
    _mk(engine, spark)
    v_ins = engine.store.meta("dbo.tt").version
    files_before = {
        e["path"] for e in engine.store.manifest("dbo.tt", v_ins)
    }
    engine.write.update(
        "dbo.tt", spark.createDataFrame([(1, "BAD")], "id long, val string")
    )
    v_new = engine.restore("dbo.tt", v_ins)
    assert v_new == v_ins + 2
    cur = {r["id"]: r["val"] for r in engine.read.table("dbo.tt").collect()}
    assert cur == {1: "a", 2: "b"}
    # manifest-only: restored snapshot references the v1 files verbatim
    assert {
        e["path"] for e in engine.store.manifest("dbo.tt", v_new)
    } == files_before
    hist = engine.store.history("dbo.tt")
    assert hist[0]["operation"] == f"restore(v{v_ins})"
    assert hist[0]["n_files_added"] == 0
    # the bad write remains auditable between them
    assert hist[1]["operation"] == "update"


def test_restore_validates_window_and_schema(engine, spark):
    _mk(engine, spark)
    with pytest.raises(ValueError, match="not available"):
        engine.restore("dbo.tt", 9)
    # restore across a column DROP is rejected, not misread
    v_ins = engine.store.meta("dbo.tt").version
    engine.modify.column("dbo.tt", modify="drop", column_name="val")
    with pytest.raises(ValueError, match="no longer in the declared schema"):
        engine.restore("dbo.tt", v_ins)


def test_restore_of_restore(engine, spark):
    """A mistaken restore is itself rolled back by another restore."""
    _mk(engine, spark)
    v_ins = engine.store.meta("dbo.tt").version
    engine.write.update(
        "dbo.tt", spark.createDataFrame([(2, "b2")], "id long, val string")
    )
    v_upd = engine.store.meta("dbo.tt").version
    engine.restore("dbo.tt", v_ins)
    engine.restore("dbo.tt", v_upd)
    cur = {r["id"]: r["val"] for r in engine.read.table("dbo.tt").collect()}
    assert cur == {1: "a", 2: "b2"}


def test_clone_is_zero_copy_and_diverges(engine, spark):
    """SHALLOW CLONE: same rows, hard-linked files (no data copy),
    then independent evolution and vacuum on each side."""
    import os as _os

    _mk(engine, spark)
    engine.clone("dbo.tt", "dbo.tt2")
    # same data, shared inodes
    assert {
        (r["id"], r["val"]) for r in engine.read.table("dbo.tt2").collect()
    } == {(1, "a"), (2, "b")}
    src_pool = engine.store._pool_dir("dbo.tt")
    dst_pool = engine.store._pool_dir("dbo.tt2")
    for e in engine.store.manifest("dbo.tt2", 0):
        s = _os.stat(_os.path.join(dst_pool, e["path"]))
        assert s.st_nlink >= 2
        assert s.st_ino == _os.stat(
            _os.path.join(src_pool, e["path"])
        ).st_ino
    # diverge: update the clone only
    engine.write.update(
        "dbo.tt2", spark.createDataFrame([(1, "c2")], "id long, val string")
    )
    assert {r["val"] for r in engine.read.table("dbo.tt").collect()} == {"a", "b"}
    assert {r["val"] for r in engine.read.table("dbo.tt2").collect()} == {"c2", "b"}
    # churn the SOURCE past retention: its vacuum must not break the
    # clone (hard link keeps the bytes alive)
    for i in range(5):
        engine.write.update(
            "dbo.tt",
            spark.createDataFrame([(2, f"s{i}")], "id long, val string"),
        )
    assert engine.read.table("dbo.tt2").count() == 2


def test_clone_rejects_existing_destination(engine, spark):
    import pytest as _pytest

    _mk(engine, spark)
    with _pytest.raises(ValueError, match="already exists"):
        engine.clone("dbo.tt", "dbo.tt")


def test_version_read_uses_its_own_schema(engine, spark):
    """Time travel across a version-bumping schema change (ALTER
    rewrites data at v+1): the STORE layer reads the prior version
    with the schema RECORDED IN ITS OWN COMMIT (files parse under
    the types they were written with), while the read VERB then
    projects through the CURRENT declared schema — retyped columns
    surface in today's type, so row-filter/masking policies declared
    against the current schema stay analyzable on any snapshot."""
    df = spark.createDataFrame([(1, 5), (2, 7)], "id long, num int")
    engine.create.table("dbo.sv", {"id": "bigint", "num": "int"},
                        primary_key_column="id")
    engine.write.insert("dbo.sv", df)
    v_ins = engine.store.meta("dbo.sv").version
    engine.modify.column("dbo.sv", modify="alter", column_name="num",
                         data_type="bigint")
    assert engine.store.meta("dbo.sv").version == v_ins + 1
    # store layer: the snapshot's own recorded schema
    raw = engine.store.read("dbo.sv", version=v_ins)
    assert dict(raw.dtypes)["num"] == "int"
    # read verb: projected through the current declared schema
    old = engine.read.table("dbo.sv", version=v_ins)
    new = engine.read.table("dbo.sv")
    assert dict(old.dtypes)["num"] == "bigint"
    assert dict(new.dtypes)["num"] == "bigint"
    assert {(r["id"], r["num"]) for r in old.collect()} == {(1, 5), (2, 7)}


def test_concurrent_writer_conflict_detected(engine, spark):
    """Optimistic concurrency: a commit planned against a stale
    snapshot version fails cleanly, discards its staging directory,
    and leaves the winner's commit untouched — the lost-update
    scenario where a writer's keep-list predates a concurrent
    append."""
    import os as _os

    import pytest as _pytest

    from mssql_dataframe_spark.errors import SQLConcurrentWriteConflict
    from mssql_dataframe_spark.session import SparkEngine

    _mk(engine, spark)
    store = engine.store
    # the loser plans a rewrite against the CURRENT snapshot...
    stale = store.snapshot("dbo.tt")
    kept = list(stale.entries)

    # ...then another writer advances the table
    eng2 = SparkEngine(spark=spark, store_root=store.root)
    eng2.write.insert(
        "dbo.tt", spark.createDataFrame([(9, "z")], "id long, val string")
    )

    loser_df = spark.createDataFrame([(8, "y")], "id long, val string")
    with _pytest.raises(SQLConcurrentWriteConflict, match="re-read and retry"):
        store.replace_files(stale, loser_df, kept, op="update")
    # the winner's row survives and the loser left no staging debris
    rows = {
        (r["id"], r["val"]) for r in engine.read.table("dbo.tt").collect()
    }
    assert rows == {(1, "a"), (2, "b"), (9, "z")}
    tdir = store._table_dir("dbo.tt")
    assert not [d for d in _os.listdir(tdir) if d.startswith(".stage_")]
    # a commit planned against the true current version still passes
    now = store.snapshot("dbo.tt")
    store.replace_files(now, loser_df, list(now.entries), op="update")
    assert engine.read.table("dbo.tt").count() == 4


def test_exclusive_manifest_claim_blocks_double_publish(engine, spark):
    """The authoritative OCC point: two writers that both passed the
    version check cannot both publish the same version — the second
    manifest claim fails instead of silently clobbering the first."""
    import pytest as _pytest

    from mssql_dataframe_spark.errors import SQLConcurrentWriteConflict

    _mk(engine, spark)
    store = engine.store
    v = store.meta("dbo.tt").version
    store._write_manifest("dbo.tt", v + 1, [], commit={}, exclusive=True)
    with _pytest.raises(SQLConcurrentWriteConflict, match="orphan|concurrent"):
        store._write_manifest("dbo.tt", v + 1, [], commit={}, exclusive=True)


def test_create_existing_table_raises(engine, spark):
    """CREATE TABLE on an existing table errors instead of silently
    resetting it to an empty version 0."""
    import pytest as _pytest

    _mk(engine, spark)
    before = engine.read.table("dbo.tt").count()
    with _pytest.raises(ValueError, match="already exists"):
        engine.create.table("dbo.tt", {"id": "bigint"})
    assert engine.read.table("dbo.tt").count() == before


def test_explicit_vacuum_drops_history(engine, spark):
    """VACUUM with keep_versions=0 leaves only the current snapshot
    readable, deletes unreferenced pool files, and never touches the
    current data."""
    import os as _os

    _mk(engine, spark)
    engine.write.update(
        "dbo.tt", spark.createDataFrame([(1, "a2")], "id long, val string")
    )
    store = engine.store
    assert engine.read.table("dbo.tt", version=1).count() == 2
    readable = engine.vacuum("dbo.tt", keep_versions=0)
    assert readable == 1
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not available"):
        engine.read.table("dbo.tt", version=1)
    cur = {r["val"] for r in engine.read.table("dbo.tt").collect()}
    assert cur == {"a2", "b"}
    # pool holds only files the surviving manifest references
    meta = store.meta("dbo.tt")
    live = {e["path"] for e in store.manifest("dbo.tt", meta.version)}
    pool = store._pool_dir("dbo.tt")
    assert {
        f for f in _os.listdir(pool) if f.endswith(".parquet")
    } == live


def test_timestamp_as_of_resolves_latest_retained(engine, spark):
    import time

    from pyspark.sql import Row

    engine.create.table(
        "dbo.tsa", {"id": "bigint", "v": "int"}, primary_key_column="id"
    )
    marks = []
    for k in range(3):
        engine.write.insert(
            "dbo.tsa",
            spark.createDataFrame([Row(id=k, v=k)], "id long, v int"),
        )
        marks.append(time.time())
        time.sleep(0.05)
    # at mark[i], versions 0..i+1 exist; the read must see i+1 rows
    for i, ts in enumerate(marks):
        got = engine.read.table("dbo.tsa", timestamp_as_of=ts).count()
        assert got == i + 1
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no retained version"):
        engine.read.table("dbo.tsa", timestamp_as_of=marks[0] - 1e6)
    with _pytest.raises(ValueError, match="not both"):
        engine.read.table("dbo.tsa", version=1, timestamp_as_of=marks[0])


def test_timestamp_as_of_with_injected_commit_clock(engine, spark):
    """Deterministic TIMESTAMP AS OF: the injectable commit clock
    stamps commits 1000/2000/3000, so as-of resolution is exact —
    no sleeps, no wall-clock flake."""
    from pyspark.sql import Row

    state = {"t": 0.0}

    def _tick():
        state["t"] += 1000.0
        return state["t"]

    engine.store.commit_time_provider = _tick
    engine.create.table(
        "dbo.tsi", {"id": "bigint", "v": "int"}, primary_key_column="id"
    )  # v0 @ 1000
    engine.write.insert(
        "dbo.tsi", spark.createDataFrame([Row(id=1, v=1)], "id long, v int")
    )  # v1 @ 2000
    engine.write.insert(
        "dbo.tsi", spark.createDataFrame([Row(id=2, v=2)], "id long, v int")
    )  # v2 @ 3000
    assert engine.read.table("dbo.tsi", timestamp_as_of=2500.0).count() == 1
    assert engine.read.table("dbo.tsi", timestamp_as_of=3000.0).count() == 2
    assert engine.store.commit_info("dbo.tsi", 1)["ts"] == 2000.0


def test_vacuum_ignores_other_writers_staged_files(engine, spark):
    """A writer's staged-but-uncommitted files live in a private
    staging directory, not the shared pool — a concurrent writer's
    vacuum can never reap them (previously staged files sat
    unreferenced in the pool and an interleaved vacuum deleted them,
    corrupting the staging writer's subsequently committed
    snapshot)."""
    import os as _os

    from mssql_dataframe_spark.session import SparkEngine

    _mk(engine, spark)
    store = engine.store
    base = store.snapshot("dbo.tt")
    meta = base.meta
    # writer A stages (the slow Spark job) but has not committed yet
    entries, stage_dir = store._stage_in(
        "dbo.tt",
        spark.createDataFrame([(7, "s")], "id long, val string"),
        meta.spark_schema, store._stats_col(meta),
    )
    # writer B commits twice and vacuums aggressively in between
    eng2 = SparkEngine(spark=spark, store_root=store.root)
    for i in (8, 9):
        eng2.write.insert(
            "dbo.tt",
            spark.createDataFrame([(i, "z")], "id long, val string"),
        )
    store.vacuum("dbo.tt", keep_versions=0)
    # A's staged files are untouched...
    for e in entries:
        assert _os.path.exists(_os.path.join(stage_dir, e["path"]))
    # ...and A's commit now fails CLEANLY on the stale version (the
    # lost-update guard), discarding the staging dir — instead of
    # publishing a snapshot whose files a vacuum already deleted
    import pytest as _pytest

    from mssql_dataframe_spark.errors import SQLConcurrentWriteConflict

    with _pytest.raises(SQLConcurrentWriteConflict):
        store._check_no_concurrent_commit(base)
    store._discard_staged(stage_dir)
    assert not _os.path.exists(stage_dir)
    # retried at the current version, the same rows land fine
    engine.write.insert(
        "dbo.tt", spark.createDataFrame([(7, "s")], "id long, val string")
    )
    got = {r["id"] for r in engine.read.table("dbo.tt").collect()}
    assert got == {1, 2, 7, 8, 9}
