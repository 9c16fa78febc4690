"""Bloom-filter file index (Delta BLOOMFILTER INDEX analog): per-file
bloom sidecars built at commit time for the ``bloom_filter_columns``
table property; equality reads prune provably-absent files before the
scan; sidecars publish, clone, and vacuum with their data files; a
bloom has no false negatives, so pruning can never drop a matching
row."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mssql_dataframe_spark.identifiers import equality_conjuncts
from mssql_dataframe_spark.store import (
    _bloom_build_for_file,
    _bloom_might_contain,
    _bloom_value_bytes,
)


def _mk(engine, spark, n_files=4):
    engine.create.table(
        "dbo.bl",
        {"id": "bigint", "name": "nvarchar(40)", "grp": "bigint"},
        primary_key_column="id",
        properties={"bloom_filter_columns": ["name", "grp"]},
    )
    # several inserts -> several files, disjoint name/grp domains
    for f in range(n_files):
        rows = [
            (f * 100 + i, f"name_{f}_{i}", f * 10 + (i % 3))
            for i in range(50)
        ]
        engine.write.insert(
            "dbo.bl",
            spark.createDataFrame(rows, "id long, name string, grp long"),
        )
    return engine.store


def test_manifest_entries_record_bloom_and_sidecars_exist(engine, spark):
    store = _mk(engine, spark)
    meta = store.meta("dbo.bl")
    entries = store.manifest("dbo.bl", meta.version)
    assert entries and all(
        sorted(e.get("bloom") or []) == ["grp", "name"] for e in entries
    )
    pool = store._pool_dir("dbo.bl")
    for e in entries:
        assert os.path.exists(os.path.join(pool, e["path"] + ".bloom.json"))


def test_bloom_prune_points_to_single_file_and_read_is_exact(
    engine, spark
):
    store = _mk(engine, spark)
    meta = store.meta("dbo.bl")
    n_files = len(store.manifest("dbo.bl", meta.version))
    snap = store.snapshot("dbo.bl")
    kept = store.bloom_prune(snap, snap.entries, [("name", ["name_2_7"])])
    touched, pruned = [e["path"] for e in kept], n_files - len(kept)
    assert pruned >= n_files - 1 and len(touched) <= 1
    # the read itself: correct rows through the pruned scan
    got = engine.read.table("dbo.bl", where="name = name_2_7").collect()
    assert [(r.id, r.name) for r in got] == [(207, "name_2_7")]
    # absent value: every file pruned, result empty, no error
    assert (
        engine.read.table("dbo.bl", where="name = no_such_name").count()
        == 0
    )
    # int-typed probe with a non-canonical literal still matches
    got = engine.read.table(
        "dbo.bl", where="grp = 21 AND name = name_2_7"
    ).collect()
    assert len(got) == 1


def test_bloom_never_false_negative_exhaustive(engine, spark):
    """Every stored value must survive its own bloom test — the
    no-false-negatives contract pruning correctness rests on."""
    store = _mk(engine, spark, n_files=2)
    meta = store.meta("dbo.bl")
    pool = store._pool_dir("dbo.bl")
    import json

    for e in store.manifest("dbo.bl", meta.version):
        with open(os.path.join(pool, e["path"] + ".bloom.json")) as f:
            blooms = json.load(f)
        fresh = _bloom_build_for_file(
            os.path.join(pool, e["path"]), ["name", "grp"]
        )
        assert set(blooms) == set(fresh)
        import pyarrow.parquet as pq

        tbl = pq.read_table(
            os.path.join(pool, e["path"]), columns=["name", "grp"]
        )
        for c in ("name", "grp"):
            for v in tbl.column(c).to_pylist():
                vb = _bloom_value_bytes(v)
                assert vb is not None
                assert _bloom_might_contain(blooms[c], vb)


def test_sidecars_follow_vacuum_and_clone(engine, spark):
    store = _mk(engine, spark, n_files=2)
    # clone carries sidecars
    store.clone("dbo.bl", "dbo.bl2")
    pool2 = store._pool_dir("dbo.bl2")
    for e in store.manifest("dbo.bl2", 0):
        assert os.path.exists(os.path.join(pool2, e["path"] + ".bloom.json"))
    # churn past retention: overwrite repeatedly, then vacuum reaps
    # the old files AND their sidecars
    pool = store._pool_dir("dbo.bl")
    before = {f for f in os.listdir(pool) if f.endswith(".bloom.json")}
    assert before
    for _ in range(4):
        engine.write.truncate("dbo.bl")
        engine.write.insert(
            "dbo.bl",
            spark.createDataFrame(
                [(1, "x", 1)], "id long, name string, grp long"
            ),
        )
    store.vacuum("dbo.bl", keep_versions=0)
    left = {f for f in os.listdir(pool) if f.endswith(".bloom.json")}
    assert not (before & left)
    data = {f for f in os.listdir(pool) if f.endswith(".parquet")}
    # no orphan sidecars: every sidecar's data file is still pooled
    assert all(s[: -len(".bloom.json")] in data for s in left)


def test_equality_conjuncts_grammar():
    assert equality_conjuncts("a = 1 AND b = x") == [("a", "1"), ("b", "x")]
    assert equality_conjuncts("a = 1 OR b = 2") == []
    assert equality_conjuncts("(a = 1) AND b = 2") == []
    assert equality_conjuncts("a >= 1 AND b = 2") == [("b", "2")]
    assert equality_conjuncts("a IS NULL AND b = 'q z'") == [("b", "q z")]
    assert equality_conjuncts("a != 3") == []


def test_where_without_equality_and_time_travel_bypass_bloom(
    engine, spark
):
    """Non-equality predicates and version reads take the unpruned
    path and stay correct."""
    store = _mk(engine, spark, n_files=2)
    n = engine.read.table("dbo.bl", where="grp >= 0").count()
    assert n == 100
    v = store.meta("dbo.bl").version
    assert (
        engine.read.table("dbo.bl", version=v, where="name = name_1_1")
        .count()
        == 1
    )


def test_sidecars_follow_export_import(engine, spark, tmp_path):
    store = _mk(engine, spark, n_files=2)
    out = os.path.join(str(tmp_path), "exp")
    store.export_table("dbo.bl", out)
    assert any(f.endswith(".bloom.json") for f in os.listdir(out))
    store.import_table("dbo.bl_in", out)
    pool = store._pool_dir("dbo.bl_in")
    for e in store.manifest("dbo.bl_in", 0):
        assert os.path.exists(
            os.path.join(pool, e["path"] + ".bloom.json")
        )
    # pruned equality read works on the imported table too
    got = engine.read.table("dbo.bl_in", where="name = name_1_3").collect()
    assert [(r.id, r.name) for r in got] == [(103, "name_1_3")]


def test_bloom_property_follows_drop_and_rename(engine, spark):
    """Dropping an indexed column removes it from
    bloom_filter_columns atomically with the commit; renaming one
    follows the rename (the rewrite regenerates sidecars under the
    new name), so the index never goes stale or ghost."""
    store = _mk(engine, spark, n_files=1)
    engine.modify.rename_column("dbo.bl", "name", "title")
    props = store.meta("dbo.bl").properties
    assert props["bloom_filter_columns"] == ["title", "grp"]
    got = engine.read.table("dbo.bl", where="title = name_0_9").collect()
    assert [(r.id,) for r in got] == [(9,)]
    meta = store.meta("dbo.bl")
    assert all(
        sorted(e.get("bloom") or []) == ["grp", "title"]
        for e in store.manifest("dbo.bl", meta.version)
    )
    engine.modify.column("dbo.bl", modify="drop", column_name="grp")
    props = store.meta("dbo.bl").properties
    assert props["bloom_filter_columns"] == ["title"]


def test_modify_bloom_index_backfills_on_rewrite(engine, spark):
    """Declaring the index on an existing table is metadata-only:
    pre-existing files stay unindexed (reads correct, no pruning)
    until a rewrite regenerates them with sidecars; optimize is that
    rewrite."""
    import pytest as _pytest

    from mssql_dataframe_spark.errors import SQLColumnDoesNotExist

    engine.create.table(
        "dbo.blx",
        {"id": "bigint", "name": "nvarchar(40)"},
        primary_key_column="id",
    )
    for f in range(2):
        engine.write.insert(
            "dbo.blx",
            spark.createDataFrame(
                [(f * 100 + i, f"n_{f}_{i}") for i in range(40)],
                "id long, name string",
            ),
        )
    engine.modify.bloom_index("dbo.blx", ["name"])
    store = engine.store
    meta = store.meta("dbo.blx")
    # old files: no sidecars yet, reads still exact
    assert all(
        not e.get("bloom") for e in store.manifest("dbo.blx", meta.version)
    )
    assert (
        engine.read.table("dbo.blx", where="name = n_1_5").count() == 1
    )
    # the next rewrite backfills sidecars and pruning engages
    engine.optimize("dbo.blx", small_file_rows=100_000)
    meta = store.meta("dbo.blx")
    ents = store.manifest("dbo.blx", meta.version)
    assert ents and all(e.get("bloom") == ["name"] for e in ents)
    snap = store.snapshot("dbo.blx")
    touched = store.bloom_prune(snap, snap.entries, [("name", ["zzz"])])
    pruned = len(snap.entries) - len(touched)
    assert not touched and pruned == len(ents)
    # validation: unknown / untypeable columns rejected; [] drops
    with _pytest.raises(SQLColumnDoesNotExist):
        engine.modify.bloom_index("dbo.blx", ["ghost"])
    engine.modify.bloom_index("dbo.blx", [])
    assert "bloom_filter_columns" not in store.meta("dbo.blx").properties


def test_merge_regenerates_sidecars_for_rewritten_files_only(
    engine, spark
):
    """A pruned merge rewrites only intersecting files; carried files
    keep their original sidecars (bit-identical path), rewritten ones
    get fresh blooms covering the new rows."""
    engine.create.table(
        "dbo.blm",
        {"id": "bigint", "name": "nvarchar(40)"},
        primary_key_column="id",
        properties={"bloom_filter_columns": ["name"],
                    "cluster_on_write": True},
    )
    store = engine.store
    for f in range(3):
        engine.write.insert(
            "dbo.blm",
            spark.createDataFrame(
                [(f * 100 + i, f"n_{f}_{i}") for i in range(30)],
                "id long, name string",
            ),
        )
    before = {
        e["path"] for e in store.manifest("dbo.blm",
                                          store.meta("dbo.blm").version)
    }
    # upsert touching only the id range of the second insert
    engine.write.merge(
        "dbo.blm",
        spark.createDataFrame([(105, "renamed_row")],
                              "id long, name string"),
        match_columns=["id"], upsert=True,
    )
    meta = store.meta("dbo.blm")
    ents = store.manifest("dbo.blm", meta.version)
    carried = [e for e in ents if e["path"] in before]
    fresh = [e for e in ents if e["path"] not in before]
    assert carried and fresh
    pool = store._pool_dir("dbo.blm")
    for e in ents:
        assert e.get("bloom") == ["name"]
        assert os.path.exists(os.path.join(pool, e["path"] + ".bloom.json"))
    # the new value is findable via the pruned read; the old value of
    # the rewritten row is gone
    assert engine.read.table(
        "dbo.blm", where="name = renamed_row"
    ).count() == 1
    assert engine.read.table(
        "dbo.blm", where="name = n_1_5"
    ).count() == 0


def test_time_travel_reads_prune_with_blooms(engine, spark):
    """Sidecars live as long as their data file, so a retained prior
    version's equality read prunes too — and sees that version's
    rows, not the current ones."""
    store = _mk(engine, spark, n_files=2)
    v = store.meta("dbo.bl").version
    # mutate the current version away from v (delete the probed row)
    engine.write.delete(
        "dbo.bl",
        spark.createDataFrame([(103,)], "id long"),
    )
    assert engine.read.table("dbo.bl", where="name = name_1_3").count() == 0
    snap = store.snapshot("dbo.bl", v)
    kept = store.bloom_prune(snap, snap.entries, [("name", ["name_1_3"])])
    pruned = len(snap.entries) - len(kept)
    assert pruned >= 1
    got = engine.read.table(
        "dbo.bl", version=v, where="name = name_1_3"
    ).collect()
    assert [(r.id, r.name) for r in got] == [(103, "name_1_3")]


def test_delete_where_equality_prunes_with_blooms(engine, spark):
    """A point DELETE WHERE on an indexed column narrows its
    discovery scan to bloom-surviving files, and a provably-absent
    value deletes nothing without scanning or committing."""
    store = _mk(engine, spark, n_files=3)
    v0 = store.meta("dbo.bl").version
    reads, read_files = [], []
    orig_read, orig_rf = store.read, store.read_files

    def tap_read(name, *a, **k):
        reads.append(name)
        return orig_read(name, *a, **k)

    def tap_rf(name, paths, *a, **k):
        read_files.append(list(paths))
        return orig_rf(name, paths, *a, **k)

    store.read, store.read_files = tap_read, tap_rf
    try:
        # absent value: no scan beyond pruning, no commit
        assert engine.write.delete_where("dbo.bl", "name = nope") == 0
        assert store.meta("dbo.bl").version == v0
        assert not reads and not read_files
        # present value: one row deleted; the discovery scan read a
        # strict subset of the files
        n = engine.write.delete_where("dbo.bl", "name = name_2_4")
        assert n == 1
        assert reads == []  # full-table read path never taken
        assert read_files and len(read_files[0]) <= 1
    finally:
        store.read, store.read_files = orig_read, orig_rf
    assert (
        engine.read.table("dbo.bl", where="name = name_2_4").count() == 0
    )
    assert engine.read.table("dbo.bl").count() == 149


def test_numeric_shaped_literal_on_string_column_never_prunes(
    engine, spark
):
    """compile_where renders numeric-shaped literals bare (even when
    quoted), so Spark compares a string column NUMERICALLY ('05' = 5
    is TRUE). The bloom probe must therefore NOT engage for such
    literals — pruning on the exact string would drop the
    numerically-equal row."""
    engine.create.table(
        "dbo.bln",
        {"id": "bigint", "s": "nvarchar(10)"},
        primary_key_column="id",
        properties={"bloom_filter_columns": ["s"]},
    )
    engine.write.insert(
        "dbo.bln",
        spark.createDataFrame(
            # all numeric-shaped: under ANSI, `s` = 5 casts the COLUMN
            # to bigint, so any non-numeric value would error the
            # filter itself — the silent-prune hazard lives exactly in
            # the all-numeric case
            [(1, "05"), (2, "7")], "id long, s string"
        ),
    )
    store = engine.store
    snap = store.snapshot("dbo.bln")
    # the probe machinery itself must refuse these literals
    assert store.typed_bloom_probes(snap, "s = 5") == []
    assert store.typed_bloom_probes(snap, "s = '5'") == []
    assert store.typed_bloom_probes(snap, "s = TRUE") == []
    assert store.typed_bloom_probes(snap, "s = xyz") == [("s", "xyz")]
    # end to end: the numerically-equal row survives
    got = engine.read.table("dbo.bln", where="s = 5").collect()
    assert [(r.id, r.s) for r in got] == [(1, "05")]
    assert engine.write.delete_where("dbo.bln", "s = 5") == 1
    assert engine.read.table("dbo.bln").count() == 1


def test_clone_fails_loudly_on_missing_data_file(engine, spark):
    """A missing bloom sidecar degrades conservatively, but a missing
    DATA file must fail the clone — committing a manifest that
    references a nonexistent file would surface as a far-away read
    error."""
    import pytest as _pytest

    store = _mk(engine, spark, n_files=1)
    meta = store.meta("dbo.bl")
    ents = store.manifest("dbo.bl", meta.version)
    pool = store._pool_dir("dbo.bl")
    # sidecar missing: clone still succeeds
    os.remove(os.path.join(pool, ents[0]["path"] + ".bloom.json"))
    store.clone("dbo.bl", "dbo.bl_ok")
    assert engine.read.table("dbo.bl_ok").count() == 50
    # data file missing: clone refuses
    os.remove(os.path.join(pool, ents[0]["path"]))
    with _pytest.raises(FileNotFoundError):
        store.clone("dbo.bl", "dbo.bl_bad")
