"""Round-14 ADVICE closures + VERDICT r13 task #6, each pinned:

1. (low, ADVICE r13) store.manifest() no longer degrades a missing
   manifest to []: a version the caller explicitly pinned that fell
   out of retention mid-operation raises SQLSnapshotUnavailable —
   an empty manifest would make pinned discovery/split reads report
   a false 'nothing matched', and the no-match early-return paths
   commit nothing, so the commit's OCC backstop never fires.
2. (low, ADVICE r13) discover_matched_files' content scan reads the
   PINNED snapshot's files under that snapshot's RECORDED schema
   (read_files(snap)): a concurrent MODIFY COLUMN between the
   caller's snapshot and the scan previously read the
   pinned files under the CURRENT schema — a dropped/retyped match
   column then produced a false no-match early return that escaped
   the OCC backstop.
3. (VERDICT r13 #6) the mergeable-HLL persisted-summary pattern is
   honest at the storage boundary: hll_sketch_agg partial sketches
   written as a varbinary column THROUGH the table store, read back,
   hll_union_agg-merged and re-estimated still sit within the 5%
   gate the hll_* registry entries advertise.
"""

from __future__ import annotations

import dataclasses
import os

import pytest
from pyspark.sql import functions as F

from mssql_dataframe_spark.core.write.update import discover_matched_files
from mssql_dataframe_spark.errors import SQLSnapshotUnavailable


def _mk_table(engine, spark, name="dbo.adv14"):
    engine.create.table(
        name,
        {"id": "bigint", "tag": "nvarchar(20)", "v": "bigint"},
        primary_key_column="id",
    )
    engine.write.insert(
        name,
        spark.createDataFrame(
            [(i, f"a_{i}", i) for i in range(10)],
            "id long, tag string, v long",
        ).coalesce(1),
    )
    return engine.store


# -- 1. pinned-version manifest reads raise, never degrade to [] -----


def test_manifest_missing_raises(engine, spark):
    store = _mk_table(engine, spark, "dbo.mfr")
    meta = store.meta("dbo.mfr")
    v = meta.version
    assert store.manifest("dbo.mfr", v)  # sanity: current exists
    # simulate a foreign vacuum retiring the pinned snapshot
    os.remove(store._manifest_path("dbo.mfr", v))
    with pytest.raises(SQLSnapshotUnavailable):
        store.manifest("dbo.mfr", v)


def test_history_tolerates_retired_versions(engine, spark):
    """history() probes backwards and must stop cleanly at the first
    retired manifest instead of raising."""
    store = _mk_table(engine, spark, "dbo.mfh")
    engine.write.insert(
        "dbo.mfh",
        spark.createDataFrame([(100, "b_0", 100)],
                              "id long, tag string, v long"),
    )
    v_now = store.meta("dbo.mfh").version
    os.remove(store._manifest_path("dbo.mfh", 0))
    hist = store.history("dbo.mfh")
    assert hist and hist[0]["version"] == v_now
    assert all(h["version"] > 0 for h in hist)


# -- 2. discovery scan pinned to the snapshot's recorded schema ------


def test_discovery_survives_concurrent_column_drop(engine, spark):
    """Pin meta, then MODIFY COLUMN drops the match column at a later
    version. Discovery against the pinned meta must still see the
    match column (pinned files read under the pinned snapshot's
    recorded schema) and return the touched file — not a false
    'nothing matched' (pre-fix: the scan read the pinned paths under
    the CURRENT schema, the match column was absent, and discovery
    early-returned set())."""
    store = _mk_table(engine, spark, "dbo.ddrop")
    pinned = store.snapshot("dbo.ddrop")
    # foreign writer drops the match column AFTER the caller pinned
    engine.modify.column("dbo.ddrop", "drop", "tag")
    assert store.meta("dbo.ddrop").version > pinned.version
    src = spark.createDataFrame([("a_3",)], "tag string")
    matched = discover_matched_files(store, pinned, {}, src, ["tag"])
    assert matched, (
        "pinned discovery must find the file holding tag='a_3' under "
        "the pinned snapshot's recorded schema"
    )
    pinned_paths = {e["path"] for e in store.manifest(
        "dbo.ddrop", pinned.version)}
    assert matched <= pinned_paths


def test_read_files_version_pins_recorded_schema(engine, spark):
    """read_files(snap) reads under the snapshot's RECORDED schema: the
    dropped column is still typed and populated for the pinned
    snapshot's files."""
    store = _mk_table(engine, spark, "dbo.rfv")
    pinned = store.meta("dbo.rfv")
    paths = [e["path"] for e in store.manifest("dbo.rfv", pinned.version)]
    engine.modify.column("dbo.rfv", "drop", "tag")
    df = store.read_files(store.snapshot("dbo.rfv", pinned.version), paths)
    assert "tag" in df.columns
    tags = {r["tag"] for r in df.select("tag").collect()}
    assert tags == {f"a_{i}" for i in range(10)}


# -- 3. HLL sketches survive the store round trip (VERDICT r13 #6) ---


def test_hll_sketch_store_roundtrip(engine, spark, sf_dir):
    """The hll_sketch_union_rollup docstring sells the store-the-
    sketch pattern; this pins it at the storage boundary: partial
    per-(priority, month) sketches written to a varbinary store
    column, read back, unioned, re-estimated — still within the 5%
    gate vs the exact distinct count."""
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    base = orders.select(
        "o_orderpriority",
        F.substring(F.col("o_orderdate").cast("string"), 1, 7)
        .alias("month"),
        F.col("o_custkey").cast("bigint").alias("ck"),
    )
    partial = base.groupBy("o_orderpriority", "month").agg(
        F.expr("hll_sketch_agg(ck)").alias("sk")
    )
    engine.create.table(
        "dbo.hll_summary",
        {
            "o_orderpriority": "nvarchar(20)",
            "month": "nvarchar(7)",
            "sk": "varbinary(max)",
        },
        primary_key_column=["o_orderpriority", "month"],
    )
    engine.write.insert("dbo.hll_summary", partial)
    back = engine.read.table("dbo.hll_summary")
    assert dict(back.dtypes)["sk"] == "binary"
    rolled = back.groupBy("o_orderpriority").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est")
    )
    exact = base.groupBy("o_orderpriority").agg(
        F.countDistinct("ck").alias("n_exact")
    )
    rows = rolled.join(exact, "o_orderpriority").collect()
    assert rows
    for r in rows:
        assert abs(r["est"] / r["n_exact"] - 1.0) <= 0.05, (
            r["o_orderpriority"], r["est"], r["n_exact"],
        )


# -- 4. bloom-narrowing cost guard (VERDICT r13 #5) -------------------


def test_bloom_narrow_cost_guard_engage_skip(engine, spark):
    """Narrowing pays a driver probe job BEFORE any verdict exists and
    its only payoff is the candidate bytes it excludes, so below
    BLOOM_NARROW_MIN_BYTES of candidates it must disengage (return
    None -> discovery falls through to stats + content pruning, which
    is correct regardless); above the bar, and under the per-table
    force (bloom_narrow_min_bytes=0), the verdict is unchanged —
    rewritten/surviving sets identical to the unguarded behavior."""
    from mssql_dataframe_spark.core.write import update as upd

    engine.create.table(
        "dbo.bcg",
        {"id": "bigint", "tag": "nvarchar(20)", "v": "bigint"},
        primary_key_column="id",
        properties={"bloom_filter_columns": ["tag"]},
    )
    for lo, pref in ((0, "a"), (100, "b")):
        engine.write.insert(
            "dbo.bcg",
            spark.createDataFrame(
                [(lo + i, f"{pref}_{i}", i) for i in range(10)],
                "id long, tag string, v long",
            ).coalesce(1),
        )
    store = engine.store
    snap = store.snapshot("dbo.bcg")
    meta, entries = snap.meta, snap.entries
    assert all(e.get("bytes") for e in entries)  # sizes now recorded
    src = spark.createDataFrame([("a_3",)], "tag string")

    # toy candidate set (a few KB) -> guard skips, probe never runs
    assert upd.bloom_narrow_entries(
        store, snap, entries, src, ["tag"]
    ) is None

    # same candidates claiming production sizes -> engages and narrows
    big = [dict(e, bytes=100 << 20) for e in entries]
    surv = upd.bloom_narrow_entries(store, snap, big, src, ["tag"])
    assert surv is not None and len(surv) == 1

    # per-table force (THROUGHPUT scenario's knob): 0 always engages
    forced_meta = dataclasses_replace_props(
        meta, bloom_narrow_min_bytes=0
    )
    surv = upd.bloom_narrow_entries(
        store, dataclasses.replace(snap, meta=forced_meta), entries, src,
        ["tag"],
    )
    assert surv is not None and len(surv) == 1


def dataclasses_replace_props(meta, **extra):
    import dataclasses

    props = dict(meta.properties)
    props.update(extra)
    return dataclasses.replace(meta, properties=props)
