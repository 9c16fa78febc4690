"""Round-13 ADVICE closures, each pinned:

1. (medium) discover_matched_files reads ONE manifest snapshot: every
   manifest-shaped read inside it (stats split, entries list, bloom
   candidates, the discovery scan's file list) comes from the caller's
   snapshot, so a foreign commit between the caller's snapshot and
   discovery can neither drop files from the verdict nor leak the
   foreign commit's files into it. The no-match early return commits
   nothing, so the commit's OCC backstop never fires for this path —
   the snapshot is the ONLY defense.
2. (low) split_by_key_ranges splits the snapshot it is given (the FK
   probe loop passes expected[t]), not whatever is current.
3. (low) bloom_narrow_entries uses the snapshot's meta (no re-read
   that could see a foreign commit's bloom-column property) and
   collects ALL match columns' capped distinct key sets in ONE
   driver job (union of per-column limited frames), not one job per
   column.
4. (low) _load_bloom_sidecar validates SEMANTICS, not just parse: a
   parsable sidecar with m<=0 / k<=0 / a bits buffer whose length
   disagrees with m degrades to the conservative keep-everything path
   instead of reaching `% m` (ZeroDivisionError) or misindexing.
"""

from __future__ import annotations

import base64
import dataclasses
import json
import os
import zlib

import pyspark.sql
from pyspark.sql import functions as F

from mssql_dataframe_spark.core.write.update import (
    bloom_narrow_entries,
    discover_matched_files,
)
from mssql_dataframe_spark.store import _load_bloom_sidecar


def _mk_two_files(engine, spark, name="dbo.pin", bloom=False):
    """Two-file table: file 1 holds ids 0..9 / tags a_*, file 2 holds
    ids 100..109 / tags b_*. Returns the store."""
    props = (
        {"bloom_filter_columns": ["tag"],
         # force-engage past the r14 cost guard: these tests pin
         # the narrowing machinery itself at toy file sizes
         "bloom_narrow_min_bytes": 0}
        if bloom else None
    )
    engine.create.table(
        name,
        {"id": "bigint", "tag": "nvarchar(20)", "v": "bigint"},
        primary_key_column="id",
        properties=props,
    )
    engine.write.insert(
        name,
        spark.createDataFrame(
            [(i, f"a_{i}", i) for i in range(10)],
            "id long, tag string, v long",
        ).coalesce(1),
    )
    engine.write.insert(
        name,
        spark.createDataFrame(
            [(100 + i, f"b_{i}", i) for i in range(10)],
            "id long, tag string, v long",
        ).coalesce(1),
    )
    return engine.store


# -- 1. discover_matched_files is pinned to the caller's snapshot -----

def test_discovery_pinned_meta_ignores_foreign_commit(engine, spark):
    store = _mk_two_files(engine, spark)
    meta_pinned = store.snapshot("dbo.pin")
    # foreign commit AFTER the caller captured its meta: new file with
    # tag c_0 — under the pinned snapshot this row does not exist
    engine.write.insert(
        "dbo.pin",
        spark.createDataFrame(
            [(200, "c_0", 1)], "id long, tag string, v long"
        ),
    )
    assert store.meta("dbo.pin").version > meta_pinned.version
    src = spark.createDataFrame([("c_0",)], "tag string")
    matched = discover_matched_files(
        store, meta_pinned, None, src, ["tag"]
    )
    # the pinned snapshot holds no c_0 row: the verdict must be empty
    # (an unpinned manifest read would discover the foreign file)
    assert matched == set()
    # ...and a key that DOES live in the pinned snapshot still
    # discovers exactly its file
    src_a = spark.createDataFrame([("a_3",)], "tag string")
    matched_a = discover_matched_files(
        store, meta_pinned, None, src_a, ["tag"]
    )
    pinned_paths = {
        e["path"] for e in store.manifest("dbo.pin", meta_pinned.version)
    }
    assert len(matched_a) == 1 and matched_a <= pinned_paths


def test_discovery_current_snapshot_sees_foreign_commit(engine, spark):
    store = _mk_two_files(engine, spark)
    engine.write.insert(
        "dbo.pin",
        spark.createDataFrame(
            [(200, "c_0", 1)], "id long, tag string, v long"
        ),
    )
    src = spark.createDataFrame([("c_0",)], "tag string")
    # a snapshot taken now: discovery is against the current version
    matched = discover_matched_files(
        store, store.snapshot("dbo.pin"), None, src, ["tag"]
    )
    assert len(matched) == 1


# -- 2. split_by_key_ranges splits the snapshot it is given -----------

def test_split_by_key_ranges_version_pin(engine, spark):
    store = _mk_two_files(engine, spark)
    v_after_first = store.meta("dbo.pin").version - 1
    # pinned to the one-file snapshot: the second file's id range
    # cannot appear — everything is provably disjoint from 100..109
    touched, kept = store.split_by_key_ranges(
        store.snapshot("dbo.pin", v_after_first), {"id": (100, 109)}
    )
    assert touched == [] and len(kept) == 1
    # current: the current snapshot's second file is touched
    touched_now, kept_now = store.split_by_key_ranges(
        store.snapshot("dbo.pin"), {"id": (100, 109)}
    )
    assert len(touched_now) == 1 and len(kept_now) == 1


# -- 3. bloom_narrow_entries: snapshot meta + ONE collect job ---------

def test_bloom_narrow_uses_caller_meta_not_a_reread(engine, spark):
    store = _mk_two_files(engine, spark, bloom=True)
    snap = store.snapshot("dbo.pin")
    meta, entries = snap.meta, snap.entries
    src = spark.createDataFrame([("a_3",)], "tag string")
    # real meta: narrows to the one file holding a_3
    surv = bloom_narrow_entries(store, snap, entries, src, ["tag"])
    assert surv is not None and len(surv) == 1
    # a pinned meta WITHOUT the bloom property must disable narrowing
    # even though the store's current meta still carries it — proving
    # the helper never re-reads store.meta()
    stripped = dataclasses.replace(
        meta,
        properties={
            k: v
            for k, v in meta.properties.items()
            if k != "bloom_filter_columns"
        },
    )
    assert (
        bloom_narrow_entries(
            store, dataclasses.replace(snap, meta=stripped), entries, src,
            ["tag"],
        )
        is None
    )


def test_bloom_narrow_multi_column_is_one_collect_job(
    engine, spark, monkeypatch
):
    engine.create.table(
        "dbo.blm",
        {"id": "bigint", "k1": "nvarchar(20)", "k2": "bigint"},
        primary_key_column="id",
        properties={"bloom_filter_columns": ["k1", "k2"],
                    "bloom_narrow_min_bytes": 0},
    )
    for f in range(3):
        engine.write.insert(
            "dbo.blm",
            spark.createDataFrame(
                [(f * 100 + i, f"t_{f}_{i}", f * 50 + i) for i in range(20)],
                "id long, k1 string, k2 long",
            ).coalesce(1),
        )
    store = engine.store
    snap = store.snapshot("dbo.blm")
    entries = snap.entries
    src = spark.createDataFrame(
        [("t_1_5", 55), ("t_1_7", 57)], "k1 string, k2 long"
    )
    calls = {"n": 0}
    # patch the CONCRETE frame class (Spark 4 splits classic/connect
    # DataFrames under the pyspark.sql.DataFrame base; the subclass
    # overrides collect, so patching the base would count nothing)
    frame_cls = type(src)
    orig = frame_cls.collect

    def counting_collect(self):
        calls["n"] += 1
        return orig(self)

    monkeypatch.setattr(frame_cls, "collect", counting_collect)
    surv = bloom_narrow_entries(store, snap, entries, src, ["k1", "k2"])
    # one driver job collects BOTH columns' capped distinct key sets
    assert calls["n"] == 1
    monkeypatch.undo()
    # and the composite verdict still isolates the single touched file
    assert surv is not None and len(surv) == 1
    got = store.read_files(snap, [e["path"] for e in surv])
    assert got.where(F.col("k1") == "t_1_5").count() == 1


def test_bloom_narrow_all_null_column_still_excludes_everything(
    engine, spark
):
    # a source whose bloom-indexed key column is entirely NULL matches
    # nothing (equality never matches NULL): [] survivors, same
    # contract as before the single-job rewrite
    store = _mk_two_files(engine, spark, bloom=True)
    snap = store.snapshot("dbo.pin")
    src = spark.createDataFrame([(None,)], "tag string")
    assert (
        bloom_narrow_entries(store, snap, snap.entries, src, ["tag"])
        == []
    )


# -- 4. semantically-corrupt sidecars degrade, never raise ------------

def _sidecar_entry(m, k, bits: bytes) -> dict:
    return {
        "m": m,
        "k": k,
        "b64": base64.b64encode(zlib.compress(bits)).decode("ascii"),
    }


def test_load_sidecar_drops_semantically_bad_columns(tmp_path):
    path = os.path.join(tmp_path, "f.parquet.bloom.json")
    good_bits = bytes([0xFF]) * 2  # m=16 -> 2 bytes
    with open(path, "w") as f:
        json.dump(
            {
                "ok": _sidecar_entry(16, 3, good_bits),
                "zero_m": _sidecar_entry(0, 3, b""),
                "neg_m": _sidecar_entry(-8, 3, b""),
                "zero_k": _sidecar_entry(16, 0, good_bits),
                "short_bits": _sidecar_entry(64, 3, b"\xff"),
                "long_bits": _sidecar_entry(8, 3, b"\xff\xff\xff"),
            },
            f,
        )
    out = _load_bloom_sidecar(path)
    assert set(out) == {"ok"}
    assert out["ok"]["m"] == 16 and len(out["ok"]["_bits"]) == 2


def test_corrupt_sidecar_degrades_to_keep_everything_read(engine, spark):
    store = _mk_two_files(engine, spark, bloom=True)
    snap = store.snapshot("dbo.pin")
    pool = store._pool_dir("dbo.pin")
    # hand-corrupt EVERY sidecar to the m=0 shape before any probe has
    # cached it: a parsable-but-senseless filter must degrade to
    # no-pruning, not ZeroDivisionError
    for e in snap.entries:
        sc = os.path.join(pool, e["path"] + ".bloom.json")
        with open(sc, "w") as f:
            json.dump({"tag": _sidecar_entry(0, 0, b"")}, f)
    touched = store.bloom_prune(snap, snap.entries, [("tag", ["a_3"])])
    pruned = len(snap.entries) - len(touched)
    assert pruned == 0 and len(touched) == 2  # keep-everything
    got = engine.read.table("dbo.pin", where="tag = a_3").collect()
    assert len(got) == 1 and got[0]["id"] == 3
    # the batch-key (any-of) probe kernel degrades identically
    src = spark.createDataFrame([("a_3",)], "tag string")
    entries = snap.entries
    surv = bloom_narrow_entries(store, snap, entries, src, ["tag"])
    assert surv is not None and len(surv) == len(entries)


# -- VERDICT r12 #6: adversarial bloom write-path layouts -------------

def _mk_interleaved(engine, spark, name="dbo.adv", n_files=4):
    """Interleaved composite keys: every file's (k1, k2) min/max spans
    the whole domain, so stats pruning is blind and only the sidecar
    probes can narrow."""
    engine.create.table(
        name,
        {"id": "bigint", "k1": "nvarchar(20)", "k2": "bigint",
         "v": "bigint"},
        primary_key_column="id",
        properties={"bloom_filter_columns": ["k1", "k2"],
                    "bloom_narrow_min_bytes": 0},
    )
    for f in range(n_files):
        rows = [
            # k1/k2 domains interleave across files: file f holds
            # keys f, f+10, f+20, ... so min/max overlap everywhere
            (f * 1000 + i, f"t_{f + 10 * i}", f + 10 * i, i)
            for i in range(8)
        ]
        engine.write.insert(
            name,
            spark.createDataFrame(
                rows, "id long, k1 string, k2 long, v long"
            ).coalesce(1),
        )
    return engine.store


def _strip_sidecar_column(store, name, col, only_paths=None):
    pool = store._pool_dir(name)
    meta = store.meta(name)
    for e in store.manifest(name, meta.version):
        if only_paths is not None and e["path"] not in only_paths:
            continue
        sc = os.path.join(pool, e["path"] + ".bloom.json")
        with open(sc) as f:
            raw = json.load(f)
        raw.pop(col, None)
        with open(sc, "w") as f:
            json.dump(raw, f)


def test_composite_key_missing_sidecar_column_never_false_negative(
    engine, spark
):
    store = _mk_interleaved(engine, spark)
    snap = store.snapshot("dbo.adv")
    entries = snap.entries
    # drop k2's filter from EVERY sidecar (the dropped/renamed-mid-
    # history shape): the manifest's bloom list still advertises k2,
    # so the probe enters the file and must degrade to KEEP
    _strip_sidecar_column(store, "dbo.adv", "k2")
    from mssql_dataframe_spark.core.write.update import (
        bloom_narrow_entries as bne,
    )

    # key t_12/12 lives in file 2 (f=2, i=1)
    src = spark.createDataFrame([("t_12", 12)], "k1 string, k2 long")
    surv = bne(store, snap, entries, src, ["k1", "k2"])
    assert surv is not None  # k1 still engages
    surv_paths = {e["path"] for e in surv}
    holder = {
        os.path.basename(r["f"])
        for r in store.read("dbo.adv")
        .where((F.col("k1") == "t_12") & (F.col("k2") == 12))
        .select(F.col("_metadata.file_path").alias("f"))
        .collect()
    }
    assert holder <= surv_paths  # NO false negative
    # and k1 narrowing still pruned the files that provably lack t_12
    assert len(surv) < len(entries)


def test_composite_key_one_file_stripped_still_updates_its_rows(
    engine, spark
):
    store = _mk_interleaved(engine, spark)
    snap = store.snapshot("dbo.adv")
    entries = snap.entries
    # strip BOTH columns from one file's sidecar: that file must
    # survive every probe unconditionally
    victim = entries[1]["path"]
    _strip_sidecar_column(store, "dbo.adv", "k1", {victim})
    _strip_sidecar_column(store, "dbo.adv", "k2", {victim})
    # a key living in the victim file (f=1, i=0 -> t_1/1, id=1000)
    upd = spark.createDataFrame(
        [(1000, "t_1", 1, 999)], "id long, k1 string, k2 long, v long"
    )
    engine.write.update("dbo.adv", upd, match_columns=["k1", "k2"])
    got = (
        store.read("dbo.adv")
        .where((F.col("k1") == "t_1") & (F.col("k2") == 1))
        .collect()
    )
    assert len(got) == 1 and got[0]["v"] == 999


def test_batch_straddling_key_cap_partial_engagement(
    engine, spark, monkeypatch
):
    import mssql_dataframe_spark.core.write.update as upd_mod

    store = _mk_interleaved(engine, spark)
    snap = store.snapshot("dbo.adv")
    entries = snap.entries
    monkeypatch.setattr(upd_mod, "BLOOM_DISCOVERY_KEY_CAP", 4)
    # k1 side: 6 distinct values (over the cap of 4 -> must NOT
    # narrow); k2 side: 2 distinct values (engages)
    rows = [(f"t_{i}", 12) for i in range(6)] + [("t_12", 22)]
    src = spark.createDataFrame(rows, "k1 string, k2 long")
    surv = upd_mod.bloom_narrow_entries(
        store, snap, entries, src, ["k1", "k2"]
    )
    assert surv is not None  # k2 engaged
    surv_paths = {e["path"] for e in surv}
    # every file holding ANY row with k2 in {12, 22} must survive
    holders = {
        os.path.basename(r["f"])
        for r in store.read("dbo.adv")
        .where(F.col("k2").isin(12, 22))
        .select(F.col("_metadata.file_path").alias("f"))
        .distinct()
        .collect()
    }
    assert holders <= surv_paths  # no false negative past the cap
    # both columns past the cap: blooms disengage entirely -> None,
    # the caller's stats/content fallback takes over
    rows_big = [(f"t_{i}", i) for i in range(6)]
    src_big = spark.createDataFrame(rows_big, "k1 string, k2 long")
    assert (
        upd_mod.bloom_narrow_entries(
            store, snap, entries, src_big, ["k1", "k2"]
        )
        is None
    )


def test_cap_boundary_exactly_at_cap_still_engages(
    engine, spark, monkeypatch
):
    import mssql_dataframe_spark.core.write.update as upd_mod

    store = _mk_interleaved(engine, spark)
    snap = store.snapshot("dbo.adv")
    entries = snap.entries
    monkeypatch.setattr(upd_mod, "BLOOM_DISCOVERY_KEY_CAP", 4)
    # exactly cap distinct values: engages (limit collects cap+1 to
    # detect overflow; cap itself is inclusive)
    src = spark.createDataFrame(
        [(f"t_{f}", 0) for f in range(4)], "k1 string, k2 long"
    )
    surv = upd_mod.bloom_narrow_entries(
        store, snap, entries, src, ["k1"]
    )
    assert surv is not None
    holders = {
        os.path.basename(r["f"])
        for r in store.read("dbo.adv")
        .where(F.col("k1").isin(*[f"t_{f}" for f in range(4)]))
        .select(F.col("_metadata.file_path").alias("f"))
        .distinct()
        .collect()
    }
    assert holders <= {e["path"] for e in surv}
