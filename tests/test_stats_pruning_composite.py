"""Composite-key stats pruning: per-column min/max intersection.

Round-7 left two full-scan fallbacks: the composite-PK insert
collision check read every file's key columns, and the FK
existence probes (cascade / no_action) scanned each child unpruned.
Both now intersect per-column manifest stats first — a file is
skipped when ANY key column's recorded range excludes every batch
value — so the checks read ZERO files when the key ranges miss.
These tests pin that with call-counting wrappers around the store's
only two scan entry points (``read`` / ``read_files``).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mssql_dataframe_spark import errors


def _tap_scans(store):
    """Wrap store.read / store.read_files to record which tables get
    scanned (the only two paths that open table data)."""
    calls = {"read": [], "read_files": []}
    orig_read, orig_rf = store.read, store.read_files

    def read(name, *a, **k):
        calls["read"].append(name)
        return orig_read(name, *a, **k)

    def read_files(snap, paths, *a, **k):
        calls["read_files"].append((snap.name, list(paths)))
        return orig_rf(snap, paths, *a, **k)

    store.read, store.read_files = read, read_files
    return calls


def _mk_composite(engine, spark):
    engine.create.table(
        "dbo.cpk", {"a": "bigint", "b": "bigint", "v": "bigint"},
        primary_key_column=["a", "b"],
    )
    engine.write.insert(
        "dbo.cpk",
        spark.createDataFrame(
            [Row(a=i, b=i % 10, v=i) for i in range(100)],
            "a long, b long, v long",
        ),
    )


def test_composite_pk_manifest_records_all_key_columns(engine, spark):
    """Every manifest entry of a composite-PK table carries bounds for
    EVERY key column (footer harvest, no scan)."""
    _mk_composite(engine, spark)
    meta = engine.store.meta("dbo.cpk")
    ents = engine.store.manifest("dbo.cpk", meta.version)
    assert ents
    for e in ents:
        stats = e.get("stats") or {}
        assert "a" in stats and "b" in stats
        assert stats["a"][0] is not None and stats["b"][0] is not None


def test_composite_pk_insert_disjoint_first_column_reads_zero_files(
    engine, spark
):
    """An insert whose FIRST key column's range misses every file must
    not read any existing file for the collision check."""
    _mk_composite(engine, spark)  # a in [0, 99]
    calls = _tap_scans(engine.store)
    engine.write.insert(
        "dbo.cpk",
        spark.createDataFrame(
            [Row(a=1000 + i, b=i, v=0) for i in range(5)],
            "a long, b long, v long",
        ),
    )
    assert calls["read"] == [] and calls["read_files"] == []


def test_composite_pk_insert_disjoint_second_column_reads_zero_files(
    engine, spark
):
    """Per-column INTERSECTION: overlapping first column but a disjoint
    SECOND column still proves every file collision-free."""
    _mk_composite(engine, spark)  # b in [0, 9]
    calls = _tap_scans(engine.store)
    engine.write.insert(
        "dbo.cpk",
        spark.createDataFrame(
            [Row(a=5, b=500, v=0), Row(a=7, b=501, v=0)],
            "a long, b long, v long",
        ),
    )
    assert calls["read"] == [] and calls["read_files"] == []


def test_composite_pk_insert_overlap_still_raises(engine, spark):
    """Pruning must stay conservative: a genuinely colliding batch
    (both columns inside recorded ranges) is probed and rejected."""
    _mk_composite(engine, spark)
    calls = _tap_scans(engine.store)
    with pytest.raises(
        errors.SQLUniqueConstraintViolation, match="PRIMARY KEY"
    ):
        engine.write.insert(
            "dbo.cpk",
            spark.createDataFrame(
                [Row(a=5, b=5, v=9)], "a long, b long, v long"
            ),
        )
    assert calls["read_files"]  # the probe really ran, pruned not full
    assert calls["read"] == []  # and never fell back to a full scan


def _mk_fk_pair(engine, spark, on_delete):
    engine.create.table("dbo.fpar", {"pk": "bigint"}, primary_key_column="pk")
    engine.write.insert(
        "dbo.fpar",
        spark.createDataFrame(
            [Row(pk=i) for i in range(10)]
            + [Row(pk=1000 + i) for i in range(10)],
            "pk long",
        ),
    )
    engine.create.table(
        "dbo.fchi", {"id": "bigint", "ref": "bigint"}, primary_key_column="id"
    )
    # FK declared BEFORE the child data lands, so every child file's
    # manifest entry carries ref-column bounds (files written before
    # an FK add lack them and stay conservatively touched).
    engine.modify.foreign_key(
        "dbo.fchi", "add", "fk_fpar",
        columns="ref", ref_table="dbo.fpar", ref_columns="pk",
        on_delete=on_delete,
    )
    engine.write.insert(
        "dbo.fchi",
        spark.createDataFrame(
            [Row(id=100 + i, ref=i) for i in range(10)], "id long, ref long"
        ),
    )


@pytest.mark.parametrize("on_delete", ["no_action", "cascade", "set_null"])
def test_fk_probe_prunes_child_scan_to_zero_files(engine, spark, on_delete):
    """Deleting a parent key no child file's FK range covers must not
    read the child at all — the existence probe intersects the child
    manifest's per-column FK stats before any scan."""
    _mk_fk_pair(engine, spark, on_delete)  # child ref range [0, 9]
    calls = _tap_scans(engine.store)
    assert engine.write.delete(
        "dbo.fpar", spark.createDataFrame([Row(pk=1005)], "pk long")
    ) == 1
    child_reads = [n for n in calls["read"] if n == "dbo.fchi"]
    child_file_reads = [
        nf for nf in calls["read_files"] if nf[0] == "dbo.fchi"
    ]
    assert child_reads == [] and child_file_reads == []
    assert engine.read.table("dbo.fchi").count() == 10  # untouched


def test_fk_probe_still_blocks_referenced_delete(engine, spark):
    """Conservative side: a referenced key inside the child's range is
    probed for real and NO ACTION still blocks the delete."""
    _mk_fk_pair(engine, spark, "no_action")
    with pytest.raises(errors.SQLForeignKeyViolation, match="fk_fpar"):
        engine.write.delete(
            "dbo.fpar", spark.createDataFrame([Row(pk=5)], "pk long")
        )


def test_unique_constraint_probe_prunes_to_zero_files(engine, spark):
    """The insert-time UNIQUE existing-key probe intersects the
    manifest's per-file bounds for the constrained columns: an append
    outside every file's recorded range reads zero existing files,
    while a colliding value in-range is still caught."""
    engine.create.table(
        "dbo.uqp", {"id": "bigint", "code": "bigint"},
        primary_key_column="id",
    )
    engine.modify.unique_constraint("dbo.uqp", "add", "uq_code", "code")
    engine.write.insert(
        "dbo.uqp",
        spark.createDataFrame(
            [Row(id=i, code=100 + i) for i in range(50)],
            "id long, code long",
        ),
    )  # code range [100, 149]
    calls = _tap_scans(engine.store)
    engine.write.insert(
        "dbo.uqp",
        spark.createDataFrame(
            [Row(id=1000, code=9000)], "id long, code long"
        ),
    )  # id and code both beyond every file's range
    assert calls["read"] == [] and calls["read_files"] == []
    # conservative side: an in-range duplicate code still raises
    with pytest.raises(
        errors.SQLUniqueConstraintViolation, match="uq_code"
    ):
        engine.write.insert(
            "dbo.uqp",
            spark.createDataFrame(
                [Row(id=2000, code=105)], "id long, code long"
            ),
        )


def test_composite_pk_upsert_disjoint_keys_scans_zero_file_content(
    engine, spark
):
    """An upsert whose composite keys miss every file's recorded
    ranges skips the content-discovery scan entirely (stats narrow
    the candidates to nothing): every existing file carries by
    reference and no non-empty file read happens."""
    _mk_composite(engine, spark)  # a in [0,99], b in [0,9]
    files_before = {
        e["path"]
        for e in engine.store.manifest(
            "dbo.cpk", engine.store.meta("dbo.cpk").version
        )
    }
    calls = _tap_scans(engine.store)
    engine.write.merge(
        "dbo.cpk",
        spark.createDataFrame(
            [Row(a=5000 + i, b=i, v=1) for i in range(5)],
            "a long, b long, v long",
        ),
        upsert=True,
    )
    assert calls["read"] == []
    assert all(not paths for _, paths in calls["read_files"])
    meta = engine.store.meta("dbo.cpk")
    ents = engine.store.manifest("dbo.cpk", meta.version)
    # all prior files carried by reference, new rows appended
    assert files_before <= {e["path"] for e in ents}
    assert sum(e["rows"] for e in ents) == 105
    # and the merged-in rows actually landed
    assert (
        engine.read.table("dbo.cpk", where="a >= 5000").count() == 5
    )


def test_optimize_clusters_composite_pk_for_pruning(engine, spark):
    """optimize() on a composite-PK table lays files out by the FULL
    key (lexicographic range partitioning + within-file sort), so the
    per-column stats intersection actually prunes afterward — before
    this, composite-PK tables fell back to coalesce and every file
    spanned the whole key range."""
    engine.create.table(
        "dbo.copt", {"a": "bigint", "b": "bigint", "v": "bigint"},
        primary_key_column=["a", "b"],
    )
    # scattered layout: every inserted file spans most of the key range
    engine.write.insert(
        "dbo.copt",
        spark.createDataFrame(
            [Row(a=i % 100, b=i, v=i) for i in range(1000)],
            "a long, b long, v long",
        ).repartition(8),
    )
    # pre-optimize: a narrow first-column probe touches everything
    t0, k0 = engine.store.split_by_key_ranges(
        engine.store.snapshot("dbo.copt"), {"a": (0, 4)}
    )
    assert not k0
    engine.store.optimize("dbo.copt", small_file_rows=200)
    ents = engine.store.manifest(
        "dbo.copt", engine.store.meta("dbo.copt").version
    )
    assert len(ents) > 1  # really split into multiple clustered files
    t1, k1 = engine.store.split_by_key_ranges(
        engine.store.snapshot("dbo.copt"), {"a": (0, 4)}
    )
    assert k1  # pruning engages on the clustered layout
    assert len(t1) < len(ents)
    # data survives the rewrite intact
    assert engine.read.table("dbo.copt").count() == 1000


def test_no_match_update_commits_nothing(engine, spark):
    """An UPDATE whose source matches no target row must not rewrite
    anything: no version bump, no file reads beyond the discovery
    scan, table bytes untouched (previously this rewrote the whole
    table byte-identically)."""
    engine.create.table(
        "dbo.upnm", {"a": "bigint", "b": "bigint", "v": "bigint"},
        primary_key_column=["a", "b"],
    )
    engine.write.insert(
        "dbo.upnm",
        spark.createDataFrame(
            [Row(a=i, b=i, v=i) for i in range(20)],
            "a long, b long, v long",
        ),
    )
    v_before = engine.store.meta("dbo.upnm").version
    files_before = {
        e["path"] for e in engine.store.manifest("dbo.upnm", v_before)
    }
    engine.write.update(
        "dbo.upnm",
        spark.createDataFrame(
            [Row(a=900, b=900, v=0)], "a long, b long, v long"
        ),
    )
    meta = engine.store.meta("dbo.upnm")
    assert meta.version == v_before
    assert {
        e["path"] for e in engine.store.manifest("dbo.upnm", meta.version)
    } == files_before
    assert engine.read.table("dbo.upnm").count() == 20


def test_fk_write_enforcement_prunes_parent_probe(engine, spark):
    """Child-write FK enforcement stats-prunes the PARENT scan: refs
    inside one key band read only that band's files, and an orphan
    beyond every parent file's range is rejected with ZERO parent
    file reads (no candidate file could contain it)."""
    engine.create.table("dbo.ppar", {"pk": "bigint"}, primary_key_column="pk")
    engine.write.insert(
        "dbo.ppar",
        spark.createDataFrame([Row(pk=i) for i in range(100)], "pk long"),
    )
    engine.write.insert(
        "dbo.ppar",
        spark.createDataFrame(
            [Row(pk=10_000 + i) for i in range(100)], "pk long"
        ),
    )
    n_parent_files = len(
        engine.store.manifest("dbo.ppar", engine.store.meta("dbo.ppar").version)
    )
    assert n_parent_files >= 2
    engine.create.table(
        "dbo.pchi", {"id": "bigint", "ref": "bigint"}, primary_key_column="id"
    )
    engine.modify.foreign_key(
        "dbo.pchi", "add", "fk_ppar",
        columns="ref", ref_table="dbo.ppar", ref_columns="pk",
    )
    calls = _tap_scans(engine.store)
    engine.write.insert(
        "dbo.pchi",
        spark.createDataFrame(
            [Row(id=1, ref=5), Row(id=2, ref=50)], "id long, ref long"
        ),
    )
    parent_full = [n for n in calls["read"] if n == "dbo.ppar"]
    parent_files = [
        paths for n, paths in calls["read_files"] if n == "dbo.ppar"
    ]
    assert parent_full == []
    assert parent_files and all(
        0 < len(p) < n_parent_files for p in parent_files
    )
    # orphan BEYOND every parent range: rejected with zero parent reads
    calls2 = _tap_scans(engine.store)
    with pytest.raises(errors.SQLForeignKeyViolation, match="fk_ppar"):
        engine.write.insert(
            "dbo.pchi",
            spark.createDataFrame(
                [Row(id=3, ref=999_999)], "id long, ref long"
            ),
        )
    assert [n for n in calls2["read"] if n == "dbo.ppar"] == []
    assert all(
        not paths for n, paths in calls2["read_files"] if n == "dbo.ppar"
    )


def test_delete_requires_merge_prunes_to_reloaded_partition(engine, spark):
    """A delete_requires merge (the incremental / partition-scoped
    reload) rewrites only the files of the reloaded partition: files
    with no source-matched row and no row whose delete_requires
    values all appear in the source carry by reference — previously
    this shape full-rewrote the table."""
    engine.create.table(
        "dbo.drm", {"id": "bigint", "part": "bigint", "v": "bigint"},
        primary_key_column="id",
    )
    # two partitions land as separate files (separate inserts)
    for p in (1, 2):
        engine.write.insert(
            "dbo.drm",
            spark.createDataFrame(
                [Row(id=p * 1000 + i, part=p, v=i) for i in range(50)],
                "id long, part long, v long",
            ),
        )
    v = engine.store.meta("dbo.drm").version
    files_before = {e["path"] for e in engine.store.manifest("dbo.drm", v)}
    # reload partition 2: drop one row, change one, keep the rest
    reload_p2 = spark.createDataFrame(
        [Row(id=2000 + i, part=2, v=i * 10) for i in range(49)],
        "id long, part long, v long",
    )
    engine.write.merge("dbo.drm", reload_p2, delete_requires=["part"])
    meta = engine.store.meta("dbo.drm")
    ents = engine.store.manifest("dbo.drm", meta.version)
    carried = files_before & {e["path"] for e in ents}
    assert carried  # partition 1's files survived BY REFERENCE
    got = {
        r["id"]: (r["part"], r["v"])
        for r in engine.read.table("dbo.drm").collect()
    }
    # partition 1 untouched (50 rows), partition 2 reloaded (49 rows,
    # id 2049 deleted via the bounded delete clause, values updated)
    assert sum(1 for p, _ in got.values() if p == 1) == 50
    assert sum(1 for p, _ in got.values() if p == 2) == 49
    assert 2049 not in got
    assert got[2005] == (2, 50)
    assert got[1005] == (1, 5)


def test_delete_requires_on_auto_evolved_column_deletes_nothing(
    engine, spark
):
    """delete_requires over a column that auto_evolve adds in the same
    merge: every stored row reads NULL for it, NULL satisfies no
    membership, so nothing is deletable — the merge degrades to
    update+insert and the discovery probe must not crash on the
    not-yet-stored column."""
    engine.create.table(
        "dbo.drae", {"id": "bigint", "v": "bigint"},
        primary_key_column="id",
    )
    engine.write.insert(
        "dbo.drae",
        spark.createDataFrame(
            [Row(id=i, v=i) for i in range(10)], "id long, v long"
        ),
    )
    src = spark.createDataFrame(
        [Row(id=5, v=500, part=1), Row(id=100, v=100, part=1)],
        "id long, v long, part long",
    )
    engine.write.merge(
        "dbo.drae", src, delete_requires=["part"], auto_evolve=True
    )
    got = {r["id"]: (r["v"], r["part"])
           for r in engine.read.table("dbo.drae").collect()}
    assert len(got) == 11            # nothing deleted, one insert
    assert got[5] == (500, 1)        # matched row updated
    assert got[100] == (100, 1)      # new row inserted
    assert got[3] == (3, None)       # untouched row, evolved col NULL


def test_scd2_content_pruning_carries_untouched_files(engine, spark):
    """SCD2 on an un-stats-tracked business key content-prunes: files
    holding only other keys' (or only historical) rows carry by
    reference, the matched key closes + re-versions correctly."""
    engine.create.table(
        "dbo.scdp",
        {
            "bk": "nvarchar(40)", "val": "bigint",
            "_valid_from": "datetime2", "_valid_to": "datetime2",
            "_is_current": "bit",
        },
    )
    t1 = F.lit("2024-01-01 00:00:00").cast("timestamp_ntz")
    t2 = F.lit("2024-06-01 00:00:00").cast("timestamp_ntz")
    # two separate loads -> separate files per key band
    engine.write.merge_scd2(
        "dbo.scdp",
        spark.createDataFrame(
            [Row(bk=f"A{i}", val=i) for i in range(20)],
            "bk string, val long",
        ),
        match_columns=["bk"], as_of=t1,
    )
    engine.write.merge_scd2(
        "dbo.scdp",
        spark.createDataFrame(
            [Row(bk=f"B{i}", val=i) for i in range(20)],
            "bk string, val long",
        ),
        match_columns=["bk"], as_of=t1,
    )
    v = engine.store.meta("dbo.scdp").version
    files_before = {e["path"] for e in engine.store.manifest("dbo.scdp", v)}
    # revise one A key only: B files must carry by reference
    engine.write.merge_scd2(
        "dbo.scdp",
        spark.createDataFrame([Row(bk="A5", val=500)], "bk string, val long"),
        match_columns=["bk"], as_of=t2,
    )
    meta = engine.store.meta("dbo.scdp")
    ents = engine.store.manifest("dbo.scdp", meta.version)
    assert files_before & {e["path"] for e in ents}  # carried files
    rows = engine.read.table("dbo.scdp").collect()
    a5 = sorted(
        ((r["val"], r["_is_current"]) for r in rows if r["bk"] == "A5")
    )
    assert a5 == [(5, False), (500, True)]
    assert sum(1 for r in rows if r["bk"] == "B7") == 1
    assert len(rows) == 41
