"""Cross-table optimistic concurrency for referential integrity:
write verbs probe OTHER tables (FK parents on child writes, FK
children on parent deletes) and precondition their commit on those
tables' versions — a probe made stale by a concurrent writer fails
the commit cleanly instead of publishing an orphan."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mssql_dataframe_spark import errors


def _mk(engine, spark):
    engine.create.table("dbo.xp", {"pk": "bigint"}, primary_key_column="pk")
    engine.write.insert(
        "dbo.xp", spark.createDataFrame([Row(pk=i) for i in range(5)], "pk long")
    )
    engine.create.table(
        "dbo.xc", {"id": "bigint", "ref": "bigint"}, primary_key_column="id"
    )
    engine.modify.foreign_key(
        "dbo.xc", "add", "fk_xp",
        columns="ref", ref_table="dbo.xp", ref_columns="pk",
    )


def test_store_precondition_rejects_stale_dependency(engine, spark):
    _mk(engine, spark)
    store = engine.store
    v = store.meta("dbo.xp").version
    df = spark.createDataFrame([Row(id=1, ref=0)], "id long, ref long")
    # stale precondition (as if the parent advanced after a probe)
    with pytest.raises(
        errors.SQLConcurrentWriteConflict, match="referential-integrity"
    ):
        store.append(
            store.snapshot("dbo.xc"), df, preconditions=[("dbo.xp", v - 1)]
        )
    # nothing was published and no staged file leaked
    assert engine.read.table("dbo.xc").count() == 0
    meta = store.meta("dbo.xc")
    assert store.manifest("dbo.xc", meta.version) == []
    # the true version passes
    store.append(store.snapshot("dbo.xc"), df, preconditions=[("dbo.xp", v)])
    assert engine.read.table("dbo.xc").count() == 1


def test_child_insert_fails_if_parent_changes_after_probe(engine, spark):
    """Simulated race: the parent is deleted between the child's FK
    probe and its commit — the commit must fail (previously the child
    would publish rows referencing the deleted key)."""
    _mk(engine, spark)
    store = engine.store
    # the FK probe now runs INSIDE store.append's pre-commit hook
    # (post-stage, over the staged files), so "after every probe ran,
    # before the publish" is the window between the hook and the
    # precondition check — _check_no_concurrent_commit sits exactly
    # there; firing the delete from it lands the parent change after
    # the probe recorded its parent-version pin
    orig_check = store._check_no_concurrent_commit
    raced = {"done": False}

    def racing_check(snap):
        if snap.name == "dbo.xc" and not raced["done"]:
            raced["done"] = True
            # the delete itself commits freely
            store._check_no_concurrent_commit = orig_check
            engine.write.delete(
                "dbo.xp", spark.createDataFrame([Row(pk=4)], "pk long")
            )
        return orig_check(snap)

    store._check_no_concurrent_commit = racing_check
    try:
        with pytest.raises(errors.SQLConcurrentWriteConflict):
            engine.write.insert(
                "dbo.xc",
                spark.createDataFrame([Row(id=1, ref=4)], "id long, ref long"),
            )
    finally:
        store._check_no_concurrent_commit = orig_check
    # the losing write left nothing behind; retry now fails the FK
    # check itself (the key is really gone)
    assert engine.read.table("dbo.xc").count() == 0
    with pytest.raises(errors.SQLForeignKeyViolation):
        engine.write.insert(
            "dbo.xc",
            spark.createDataFrame([Row(id=1, ref=4)], "id long, ref long"),
        )


def test_parent_delete_fails_if_child_changes_after_probe(engine, spark):
    """The mirror race: a child row referencing the key lands between
    the parent delete's child probe and its commit — the delete must
    fail instead of orphaning the new child row."""
    _mk(engine, spark)
    store = engine.store
    orig_commit = store._commit
    raced = {"done": False}

    def racing_commit(snap, *a, **kw):
        if snap.name == "dbo.xp" and not raced["done"]:
            raced["done"] = True
            engine.write.insert(
                "dbo.xc",
                spark.createDataFrame([Row(id=9, ref=3)], "id long, ref long"),
            )
        return orig_commit(snap, *a, **kw)

    store._commit = racing_commit
    try:
        with pytest.raises(errors.SQLConcurrentWriteConflict):
            engine.write.delete(
                "dbo.xp", spark.createDataFrame([Row(pk=3)], "pk long")
            )
    finally:
        store._commit = orig_commit
    # parent intact, child row present, FK invariant holds
    assert engine.read.table("dbo.xp").count() == 5
    got = {r["id"]: r["ref"] for r in engine.read.table("dbo.xc").collect()}
    assert got == {9: 3}


def _racing_split(engine, spark, store, ref):
    """Patch split_by_key_ranges so a child insert commits AFTER the
    parent delete's probe computed its (now stale) zero-touch verdict
    from the old manifest — the window between the probe's read and
    the version capture that the capture-before-probe ordering must
    cover."""
    orig_split = store.split_by_key_ranges
    raced = {"done": False}

    def racing_split(snap, bounds):
        res = orig_split(snap, bounds)
        if snap.name == "dbo.xc" and not raced["done"]:
            raced["done"] = True
            store.split_by_key_ranges = orig_split
            engine.write.insert(
                "dbo.xc",
                spark.createDataFrame(
                    [Row(id=9, ref=ref)], "id long, ref long"
                ),
            )
        return res

    store.split_by_key_ranges = racing_split
    return orig_split


def test_parent_delete_fails_if_child_insert_lands_after_probe_read(
    engine, spark
):
    """The narrower race the capture-AFTER-probe ordering missed: the
    child is EMPTY so the probe zero-touches off the manifest, and a
    referencing child row commits between that manifest read and the
    version capture. Capturing before the probe makes the movement
    visible; the revalidation re-probe sees the new row and fails
    cleanly instead of orphaning it."""
    _mk(engine, spark)
    store = engine.store
    orig = _racing_split(engine, spark, store, ref=3)
    try:
        with pytest.raises(errors.SQLConcurrentWriteConflict):
            engine.write.delete(
                "dbo.xp", spark.createDataFrame([Row(pk=3)], "pk long")
            )
    finally:
        store.split_by_key_ranges = orig
    # parent intact, racing child row present, FK invariant holds
    assert engine.read.table("dbo.xp").count() == 5
    got = {r["id"]: r["ref"] for r in engine.read.table("dbo.xc").collect()}
    assert got == {9: 3}


def test_parent_delete_survives_unrelated_child_insert_after_probe(
    engine, spark
):
    """No false conflicts: the same race window, but the racing child
    row references a DIFFERENT key — revalidation re-probes the moved
    table, finds nothing referencing the deleted key, re-captures the
    new version, and the delete commits."""
    _mk(engine, spark)
    store = engine.store
    orig = _racing_split(engine, spark, store, ref=0)
    try:
        n = engine.write.delete(
            "dbo.xp", spark.createDataFrame([Row(pk=3)], "pk long")
        )
    finally:
        store.split_by_key_ranges = orig
    assert n == 1
    assert engine.read.table("dbo.xp").count() == 4
    got = {r["id"]: r["ref"] for r in engine.read.table("dbo.xc").collect()}
    assert got == {9: 0}


def test_concurrent_merge_writers_converge_under_contention(
    engine, spark
):
    """TRUE thread-level contention (not a simulated interleaving):
    two writers merge disjoint key slices into one table
    concurrently, retrying on SQLConcurrentWriteConflict. The OCC
    contract under test: every conflict is surfaced (never a silent
    lost update), a loser's retry succeeds against the fresh
    snapshot, and the final state holds every row exactly once."""
    import threading

    from mssql_dataframe_spark.errors import SQLConcurrentWriteConflict

    engine.create.table(
        "dbo.occ_stress",
        {"id": "bigint", "writer": "bigint", "round": "bigint"},
        primary_key_column="id",
    )
    failures: list[str] = []

    def worker(writer: int) -> None:
        for rnd in range(5):
            rows = [
                (writer * 1000 + rnd * 10 + i, writer, rnd)
                for i in range(10)
            ]
            df = spark.createDataFrame(
                rows, "id long, writer long, round long"
            )
            for _attempt in range(40):
                try:
                    engine.write.merge(
                        "dbo.occ_stress", df,
                        match_columns=["id"], upsert=True,
                    )
                    break
                except SQLConcurrentWriteConflict:
                    continue
            else:
                failures.append(f"writer {writer} round {rnd} starved")

    threads = [
        threading.Thread(target=worker, args=(w,)) for w in (1, 2)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not failures
    got = engine.read.table("dbo.occ_stress")
    assert got.count() == 100
    assert got.select("id").distinct().count() == 100
    per_writer = {
        r.writer: r.n
        for r in got.groupBy("writer").agg(F.count("*").alias("n")).collect()
    }
    assert per_writer == {1: 50, 2: 50}


def test_write_fails_on_concurrent_meta_only_change(engine, spark):
    """A second engine on the same root adds a CHECK constraint — a
    meta-only change, no new version — while an update is staging.
    The update's commit compares the whole current meta with its
    snapshot's, so it fails cleanly instead of writing back the meta
    it read and silently dropping the constraint."""
    from mssql_dataframe_spark import SparkEngine

    engine.create.table(
        "dbo.t", {"k": "bigint", "v": "bigint"}, primary_key_column="k"
    )
    engine.write.insert(
        "dbo.t", spark.createDataFrame([(1, 1), (2, 2)], "k long, v long")
    )
    other = SparkEngine(spark=spark, store_root=engine.store.root)
    store = engine.store
    orig_stage_in = store._stage_in

    def racing_stage_in(*a, **kw):
        out = orig_stage_in(*a, **kw)
        other.modify.check_constraint("dbo.t", "add", "ck_v", "v >= 0")
        return out

    store._stage_in = racing_stage_in
    try:
        with pytest.raises(errors.SQLConcurrentWriteConflict):
            engine.write.update(
                "dbo.t", spark.createDataFrame([(1, 5)], "k long, v long")
            )
    finally:
        store._stage_in = orig_stage_in
    assert store.meta("dbo.t").properties["check_constraints"] == {
        "ck_v": "v >= 0"
    }
    got = {r["k"]: r["v"] for r in engine.read.table("dbo.t").collect()}
    assert got == {1: 1, 2: 2}
