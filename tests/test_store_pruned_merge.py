"""File-pruned merge/update: untouched files must carry over BY
REFERENCE (same pool file, no rewrite) while results stay identical to
the full-rewrite semantics. This is the property that makes mutation
cost ∝ touched data at 100 TB (store.replace_files docstring)."""

from __future__ import annotations

from pyspark.sql import functions as F


def _manifest_paths(eng, table):
    meta = eng.store.meta(table)
    return {e["path"] for e in eng.store.manifest(table, meta.version)}


def _make_keyed_table(eng, spark, table, n=1000, parts=8):
    df = (
        spark.range(n)
        .select(
            F.col("id").alias("k"),
            (F.col("id") * 2).cast("double").alias("v"),
        )
        # range-partition so each file covers a disjoint key range —
        # the layout an ordered ingest (or optimize-by-key) produces
        .repartitionByRange(parts, "k")
        .sortWithinPartitions("k")
    )
    eng.create.table("dbo." + table, {"k": "bigint", "v": "float"},
                     primary_key_column="k")
    eng.write.insert("dbo." + table, df)
    return df


def test_pruned_merge_reuses_untouched_files(engine, spark):
    eng = engine
    _make_keyed_table(eng, spark, "pm", n=1000, parts=8)
    before = _manifest_paths(eng, "dbo.pm")
    assert len(before) >= 4  # several range files to prune across

    # upsert touching only the low end of the key space
    src = spark.range(0, 50).select(
        F.col("id").alias("k"), F.lit(9.5).cast("double").alias("v")
    )
    eng.write.merge("dbo.pm", src, upsert=True)

    after = _manifest_paths(eng, "dbo.pm")
    reused = before & after
    assert reused, "no files were carried over by reference"
    assert after != before  # touched files were rewritten
    # untouched majority of the key space must be by-reference
    assert len(reused) >= len(before) - 2

    out = eng.read.table("dbo.pm")
    assert out.count() == 1000
    assert out.filter("k < 50 AND v = 9.5").count() == 50
    assert out.filter("k >= 50 AND v = 9.5").count() == 0


def test_pruned_update_matches_full_semantics(engine, spark):
    eng = engine
    _make_keyed_table(eng, spark, "pu", n=1000, parts=8)
    before = _manifest_paths(eng, "dbo.pu")

    src = spark.range(900, 950).select(
        F.col("id").alias("k"), F.lit(-1.0).cast("double").alias("v")
    )
    eng.write.update("dbo.pu", src)

    after = _manifest_paths(eng, "dbo.pu")
    assert before & after, "no files were carried over by reference"
    out = eng.read.table("dbo.pu")
    assert out.count() == 1000  # update never inserts
    assert out.filter("v = -1.0").count() == 50
    assert out.filter("k = 0 AND v = 0.0").count() == 1  # untouched row intact


def test_update_on_non_pk_match_content_prunes(engine, spark):
    """Matching on a non-PK column defeats stats pruning; the
    content-pruning fallback must still carry untouched files by
    reference (one slim match-column + file-path scan)."""
    eng = engine
    _make_keyed_table(eng, spark, "pnp", n=1000, parts=8)
    eng.modify.column("dbo.pnp", "add", "v2", "float")
    before = _manifest_paths(eng, "dbo.pnp")
    assert len(before) >= 4

    # v = 2*k, so v in [1800, 1898] lives in the top key-range file(s)
    src = spark.createDataFrame(
        [(float(v), float(-v)) for v in range(1800, 1900, 2)],
        "v double, v2 double",
    )
    eng.write.update("dbo.pnp", src, match_columns=["v"])

    after = _manifest_paths(eng, "dbo.pnp")
    assert before & after, "no files carried by reference on non-PK match"
    out = eng.read.table("dbo.pnp")
    assert out.count() == 1000
    assert out.filter("v2 = -1800.0 AND k = 900").count() == 1
    assert out.filter("v2 IS NULL AND k < 900").count() == 900


def test_upsert_on_composite_pk_content_prunes(engine, spark):
    """A composite-PK upsert has no single stats column, but the
    content-pruning fallback must still carry untouched files by
    reference, and unmatched source rows must still insert."""
    eng = engine
    df = (
        spark.range(1000)
        .select(
            (F.col("id") % 10).alias("k1"),
            F.col("id").alias("k2"),
            F.lit(0.0).cast("double").alias("v"),
        )
        .repartitionByRange(8, "k2")
        .sortWithinPartitions("k2")
    )
    eng.create.table(
        "dbo.cpk", {"k1": "bigint", "k2": "bigint", "v": "float"},
        primary_key_column=["k1", "k2"],
    )
    eng.write.insert("dbo.cpk", df)
    before = _manifest_paths(eng, "dbo.cpk")
    assert len(before) >= 4

    src = spark.createDataFrame(
        [(900 % 10, 900, 9.5), (901 % 10, 901, 9.5), (7, 9001, 1.5)],
        "k1 long, k2 long, v double",
    )
    eng.write.merge("dbo.cpk", src, upsert=True)

    after = _manifest_paths(eng, "dbo.cpk")
    reused = before & after
    assert reused, "no files carried by reference on composite-PK upsert"
    assert len(reused) >= len(before) - 2
    out = eng.read.table("dbo.cpk")
    assert out.count() == 1001  # 2 updates + 1 insert
    assert out.filter("v = 9.5").count() == 2
    assert out.filter("k2 = 9001 AND v = 1.5").count() == 1


def test_pure_insert_merge_keeps_every_file(engine, spark):
    """An upsert whose source keys are all new must carry EVERY
    existing file by reference — the commit adds only the new rows."""
    eng = engine
    _make_keyed_table(eng, spark, "pin", n=1000, parts=8)
    before = _manifest_paths(eng, "dbo.pin")
    src = spark.range(5000, 5050).select(
        F.col("id").alias("k"), F.lit(1.0).cast("double").alias("v")
    )
    eng.write.merge("dbo.pin", src, upsert=True)
    after = _manifest_paths(eng, "dbo.pin")
    assert before <= after, "existing files must all carry by reference"
    assert eng.read.table("dbo.pin").count() == 1050


def test_full_rewrite_when_delete_possible(engine, spark):
    """A non-upsert merge can delete anywhere — pruning must NOT kick
    in, and unmatched rows outside the source range must be deleted."""
    eng = engine
    _make_keyed_table(eng, spark, "pf", n=200, parts=4)
    src = spark.range(0, 50).select(
        F.col("id").alias("k"), F.lit(1.0).cast("double").alias("v")
    )
    eng.write.merge("dbo.pf", src)  # full MERGE: deletes k >= 50
    out = eng.read.table("dbo.pf")
    assert out.count() == 50


def test_time_travel_spans_pruned_commits(engine, spark):
    """Version reads must reconstruct snapshots whose manifests mix
    kept and rewritten files."""
    eng = engine
    _make_keyed_table(eng, spark, "pt", n=400, parts=4)
    meta0 = eng.store.meta("dbo.pt")
    v0 = meta0.version
    src = spark.range(0, 10).select(
        F.col("id").alias("k"), F.lit(7.0).cast("double").alias("v")
    )
    eng.write.merge("dbo.pt", src, upsert=True)
    old = eng.read.table("dbo.pt", version=v0)
    assert old.filter("v = 7.0").count() == 0
    assert old.count() == 400
    new = eng.read.table("dbo.pt")
    assert new.filter("v = 7.0").count() == 10


def test_optimize_compacts_and_clusters(engine, spark):
    eng = engine
    eng.create.table("dbo.opt", {"k": "bigint", "v": "float"},
                     primary_key_column="k")
    for i in range(6):
        eng.write.insert(
            "dbo.opt",
            spark.range(i * 100, (i + 1) * 100).select(
                F.col("id").alias("k"),
                F.col("id").cast("double").alias("v"),
            ),
        )
    meta = eng.store.meta("dbo.opt")
    n_before = len(eng.store.manifest("dbo.opt", meta.version))
    before, after = eng.store.optimize("dbo.opt", small_file_rows=1000)
    assert before == n_before and after < before
    ents = eng.store.manifest("dbo.opt", eng.store.meta("dbo.opt").version)
    spans = sorted((e["min"], e["max"]) for e in ents)
    assert all(spans[i][1] < spans[i + 1][0] for i in range(len(spans) - 1))
    out = eng.read.table("dbo.opt")
    assert out.count() == 600
    assert out.agg(F.sum("v")).first()[0] == sum(range(600))


def test_pruned_scd2_with_stats_column(engine, spark):
    """SCD2 history tables declare stats_column = business key (their
    PK can't be the business key — history duplicates it); files whose
    key range misses the source must carry over by reference."""
    eng = engine
    eng.create.table(
        "dbo.dim",
        {"k": "bigint", "attr": "varchar(20)", "_valid_from": "datetime2",
         "_valid_to": "datetime2", "_is_current": "bit"},
    )
    eng.store.update_meta("dbo.dim", properties={"stats_column": "k"})
    base = spark.range(400).select(
        F.col("id").alias("k"),
        F.lit("v0").alias("attr"),
        F.lit("2024-01-01 00:00:00").cast("timestamp_ntz").alias("_valid_from"),
        F.lit(None).cast("timestamp_ntz").alias("_valid_to"),
        F.lit(True).alias("_is_current"),
    ).repartitionByRange(4, "k").sortWithinPartitions("k")
    eng.write.insert("dbo.dim", base)
    before = _manifest_paths(eng, "dbo.dim")

    src = spark.range(0, 20).select(
        F.col("k" if False else "id").alias("k"), F.lit("v1").alias("attr")
    )
    eng.write.merge_scd2(
        "dbo.dim", src, match_columns=["k"],
        as_of=F.lit("2024-06-01 00:00:00").cast("timestamp_ntz"),
    )
    after = _manifest_paths(eng, "dbo.dim")
    assert before & after, "no files carried over by reference"
    out = eng.read.table("dbo.dim")
    assert out.count() == 420  # 400 originals + 20 new current versions
    assert out.filter("attr = 'v1' AND _is_current").count() == 20
    assert out.filter("attr = 'v0' AND NOT _is_current").count() == 20
    assert out.filter("k >= 20 AND attr = 'v0' AND _is_current").count() == 380


def test_cluster_on_write_keeps_pruning_sharp(engine, spark):
    """With cluster_on_write, plain appends land as disjoint key-range
    files, so a narrow upsert prunes without a manual optimize pass."""
    eng = engine
    eng.create.table("dbo.cw", {"k": "bigint", "v": "float"},
                     primary_key_column="k",
                     properties={"cluster_on_write": True})
    eng.write.insert(
        "dbo.cw",
        spark.range(1000).select(
            F.col("id").alias("k"), F.col("id").cast("double").alias("v")
        ).repartition(8),  # deliberately key-shuffled input
    )
    ents = eng.store.manifest("dbo.cw", eng.store.meta("dbo.cw").version)
    spans = sorted((e["min"], e["max"]) for e in ents)
    assert len(spans) > 1
    assert all(spans[i][1] < spans[i + 1][0] for i in range(len(spans) - 1))

    before = _manifest_paths(eng, "dbo.cw")
    src = spark.range(0, 30).select(
        F.col("id").alias("k"), F.lit(5.0).cast("double").alias("v")
    )
    eng.write.merge("dbo.cw", src, upsert=True)
    reused = before & _manifest_paths(eng, "dbo.cw")
    assert len(reused) >= len(before) - 2
    out = eng.read.table("dbo.cw")
    assert out.count() == 1000
    assert out.filter("v = 5.0").count() == 30


def test_split_by_key_range_decision_table(engine, spark, tmp_path):
    """Pure decision logic: boundary overlap counts as touched; missing,
    type-mismatched, or wrong-column stats are always touched (safe);
    disjoint kept; numpy-scalar bounds still prune."""
    eng = engine
    eng.create.table("dbo.sp", {"k": "bigint", "v": "float"},
                     primary_key_column="k")
    store = eng.store
    meta = store.meta("dbo.sp")
    store._write_manifest("dbo.sp", meta.version, [
        {"path": "a.parquet", "rows": 10, "min": 0, "max": 99,
         "stats_col": "k"},                                          # below
        {"path": "b.parquet", "rows": 10, "min": 100, "max": 199,
         "stats_col": "k"},                                          # touches lo
        {"path": "c.parquet", "rows": 10, "min": 150, "max": 250,
         "stats_col": "k"},                                          # inside
        {"path": "d.parquet", "rows": 10, "min": 200, "max": 300,
         "stats_col": "k"},                                          # touches hi
        {"path": "e.parquet", "rows": 10, "min": 301, "max": 400,
         "stats_col": "k"},                                          # above
        {"path": "f.parquet", "rows": 10, "min": None, "max": None,
         "stats_col": None},                                         # no stats
        {"path": "g.parquet", "rows": 10, "min": "x", "max": "y",
         "stats_col": "k"},                                          # wrong type
        {"path": "h.parquet", "rows": 10, "min": 0, "max": 5,
         "stats_col": "old_k"},  # stats describe a pre-PK-change column
        {"path": "i.parquet", "rows": 10, "min": 0, "max": 5},       # legacy entry
    ])
    touched, kept = store.split_by_key_ranges(
        store.snapshot("dbo.sp"), {"k": (100, 300)}
    )
    assert sorted(touched) == ["b.parquet", "c.parquet", "d.parquet",
                               "f.parquet", "g.parquet", "h.parquet",
                               "i.parquet"]
    assert sorted(e["path"] for e in kept) == ["a.parquet", "e.parquet"]

    # numpy-scalar bounds (Arrow-backed collects) must not disable pruning
    import numpy as np
    touched_np, kept_np = store.split_by_key_ranges(
        store.snapshot("dbo.sp"), {"k": (np.int64(100), np.int64(300))}
    )
    assert sorted(e["path"] for e in kept_np) == ["a.parquet", "e.parquet"]
    assert sorted(touched_np) == sorted(touched)

    # asking for a range on a non-stats column: everything touched
    touched2, kept2 = store.split_by_key_ranges(
        store.snapshot("dbo.sp"), {"v": (0.0, 1.0)}
    )
    assert len(touched2) == 9 and kept2 == []


def test_cdc_reads_only_differing_files(engine, spark):
    """table_changes keyed on the PK must scan only the manifest diff:
    after a pruned merge, shared files stay out of the CDC plan."""
    eng = engine
    _make_keyed_table(eng, spark, "cdc", n=1000, parts=8)
    v0 = eng.store.meta("dbo.cdc").version
    src = spark.range(0, 40).select(
        F.col("id").alias("k"), F.lit(3.5).cast("double").alias("v")
    )
    eng.write.merge("dbo.cdc", src, upsert=True)
    mf0, mf1 = eng.store.version_file_sets(
        eng.store.snapshot("dbo.cdc", v0), eng.store.snapshot("dbo.cdc")
    )
    shared = mf0 & mf1
    assert shared, "pruned merge should leave shared files"

    changes = eng.read.table_changes("dbo.cdc", from_version=v0)
    rows = changes.collect()
    assert len(rows) == 40
    assert all(r["change_type"] == "update" for r in rows)
    scanned = {f.split("/")[-1] for f in changes.inputFiles()}
    assert not (scanned & shared), "CDC plan scanned shared files"


def test_pk_change_does_not_prune_on_stale_stats(engine, spark):
    """Manifest stats written under one primary key must not prune a
    mutation keyed on a different column: after swapping the PK from k
    to v2 (both bigint), an update matching 50 rows must update all 50
    (stale-stats pruning silently skipped them before entries recorded
    their stats_col)."""
    eng = engine
    # v2 deliberately occupies a DIFFERENT numeric range than k so the
    # old k-stats look disjoint from the v2 source range
    df = (
        spark.range(1000)
        .select(
            F.col("id").alias("k"),
            (F.col("id") + 100_000).alias("v2"),
            F.lit(0.0).cast("double").alias("v"),
        )
        .repartitionByRange(8, "k")
        .sortWithinPartitions("k")
    )
    eng.create.table(
        "dbo.pkswap", {"k": "bigint", "v2": "bigint", "v": "float"},
        primary_key_column="k",
    )
    eng.write.insert("dbo.pkswap", df)
    eng.modify.primary_key("dbo.pkswap", "drop")
    eng.modify.primary_key("dbo.pkswap", "add", columns="v2")

    src = spark.range(100_200, 100_250).select(
        F.col("id").alias("v2"), F.lit(9.5).cast("double").alias("v")
    )
    eng.write.update("dbo.pkswap", src, match_columns=["v2"])
    assert eng.read.table("dbo.pkswap").filter("v = 9.5").count() == 50

    # merge path too: upsert keyed on the new PK must hit all matches
    src2 = spark.range(100_300, 100_340).select(
        F.col("id").alias("v2"), F.lit(7.5).cast("double").alias("v")
    )
    eng.write.merge("dbo.pkswap", src2, upsert=True)
    out = eng.read.table("dbo.pkswap")
    assert out.filter("v = 7.5").count() == 40
    assert out.count() == 1000


def test_commit_records_per_verb(engine, spark):
    """Every version-advancing verb leaves the same commit record in
    ``history()`` and ``commit_info(v)``: operation label, files added
    and carried, snapshot row total, and the schema of that version."""
    eng = engine
    eng.create.table("dbo.cr", {"k": "bigint", "v": "float"},
                     primary_key_column="k")
    meta = eng.store.meta("dbo.cr")
    eng.store.update_meta(
        "dbo.cr", properties={**meta.properties, "keep_versions": 20}
    )

    def rows(a, b, v=1.0):
        return spark.range(a, b, numPartitions=1).select(
            F.col("id").alias("k"), F.lit(v).cast("double").alias("v")
        )

    eng.write.insert("dbo.cr", rows(0, 10))                  # v1
    eng.write.insert("dbo.cr", rows(10, 20))                 # v2
    eng.write.update("dbo.cr", rows(3, 4, 2.0))              # v3
    eng.write.merge("dbo.cr", rows(15, 26, 3.0), upsert=True)  # v4
    eng.write.delete("dbo.cr", rows(0, 1).select("k"))       # v5
    eng.restore("dbo.cr", 2)                                 # v6
    eng.write.truncate("dbo.cr")                             # v7

    expected = [
        (0, "create", 0, 0, 0),
        (1, "append", 1, 0, 10),
        (2, "append", 1, 1, 20),
        (3, "update", 1, 1, 20),
        (4, "merge", 1, 1, 26),
        (5, "delete", 1, 1, 25),
        (6, "restore(v2)", 0, 2, 20),
        (7, "truncate", 0, 0, 0),
    ]
    hist = sorted(eng.store.history("dbo.cr"), key=lambda h: h["version"])
    assert [
        (h["version"], h["operation"], h["n_files_added"],
         h["n_files_kept"], h["n_rows"])
        for h in hist
    ] == expected
    schema = eng.store.meta("dbo.cr").spark_schema.jsonValue()
    for v, op, added, kept, _ in expected[1:]:
        info = eng.store.commit_info("dbo.cr", v)
        assert (info["op"], info["n_added"], info["n_kept"]) == (
            op, added, kept
        )
        assert info["schema"] == schema


def test_append_is_a_versioned_commit(engine, spark):
    """Every insert commits version+1 whose manifest carries the prior
    entries by reference: read(version=N) is a stable snapshot and
    manifest-diff CDC classifies plain inserts between consecutive
    versions."""
    eng = engine
    eng.create.table("dbo.vc", {"k": "bigint", "v": "float"},
                     primary_key_column="k")
    assert eng.store.meta("dbo.vc").version == 0

    def batch(a, b):
        return spark.range(a, b).select(
            F.col("id").alias("k"), F.lit(1.0).cast("double").alias("v")
        )

    eng.write.insert("dbo.vc", batch(0, 100))       # v1
    assert eng.store.meta("dbo.vc").version == 1
    eng.write.insert("dbo.vc", batch(100, 200))     # v2
    assert eng.store.meta("dbo.vc").version == 2
    # v2's manifest carries v1's files by reference (no rewrite)
    mf1, mf2 = eng.store.version_file_sets(
        eng.store.snapshot("dbo.vc", 1), eng.store.snapshot("dbo.vc", 2)
    )
    assert mf1 <= mf2 and len(mf2) > len(mf1)

    # snapshot stability: a reader holding v1 must not see the v2 rows
    assert eng.read.table("dbo.vc", version=1).count() == 100
    assert eng.read.table("dbo.vc", version=2).count() == 200

    # CDC between consecutive versions reports the inserts
    ins = eng.read.table_changes("dbo.vc", from_version=1, to_version=2)
    rows = ins.collect()
    assert len(rows) == 100
    assert all(r["change_type"] == "insert" for r in rows)
    assert {r["k"] for r in rows} == set(range(100, 200))

    # a merge after the inserts is v3 and classifies as updates
    src = spark.range(0, 30).select(
        F.col("id").alias("k"),
        F.lit(5.0).cast("double").alias("v"),
    )
    eng.write.merge("dbo.vc", src, upsert=True)
    assert eng.store.meta("dbo.vc").version == 3
    upd = eng.read.table_changes("dbo.vc", from_version=2, to_version=3).collect()
    assert {r["change_type"] for r in upd} == {"update"}


def test_delete_prunes_and_counts(engine, spark):
    """Keys-based delete: files outside the key range carry over by
    reference; the returned count is exact; non-PK keys and extra
    columns are handled."""
    eng = engine
    _make_keyed_table(eng, spark, "dl", n=1000, parts=8)
    before = _manifest_paths(eng, "dbo.dl")

    keys = spark.range(10, 60).select(F.col("id").alias("k"))
    n = eng.write.delete("dbo.dl", keys)
    assert n == 50
    after = _manifest_paths(eng, "dbo.dl")
    assert before & after, "no files carried over by reference"
    out = eng.read.table("dbo.dl")
    assert out.count() == 950
    assert out.filter("k >= 10 AND k < 60").count() == 0

    # deleting absent keys is a no-op with count 0
    assert eng.write.delete(
        "dbo.dl", spark.range(5000, 5010).select(F.col("id").alias("k"))
    ) == 0

    # extra non-key columns are rejected
    import pytest
    with pytest.raises(ValueError, match="match-key columns only"):
        eng.write.delete(
            "dbo.dl",
            spark.range(3).select(F.col("id").alias("k"),
                                  F.col("id").cast("double").alias("v")),
        )

    # the commit is labeled in history
    ops = [h["operation"] for h in eng.store.history("dbo.dl")]
    assert ops[0] == "delete" or "delete" in ops


def test_multi_column_stats_prune_on_secondary_key(engine, spark):
    """With stats_columns declared, entries carry bounds for EVERY
    listed column, so pruning engages on a secondary key (and keeps
    working after the PK later swaps to it) — the Delta
    collect-stats-for-N-columns shape."""
    eng = engine
    df = (
        spark.range(1000)
        .select(
            F.col("id").alias("k"),
            (F.col("id") + 100_000).alias("v2"),
            F.lit(0.0).cast("double").alias("v"),
        )
        # cluster by v2 so files are disjoint on the SECONDARY key too
        .repartitionByRange(8, "v2")
        .sortWithinPartitions("v2")
    )
    eng.create.table(
        "dbo.mstats", {"k": "bigint", "v2": "bigint", "v": "float"},
        primary_key_column="k",
        properties={"stats_columns": ["v2"]},
    )
    eng.write.insert("dbo.mstats", df)

    meta = eng.store.meta("dbo.mstats")
    ents = eng.store.manifest("dbo.mstats", meta.version)
    assert all(set(e["stats"]) == {"k", "v2"} for e in ents)

    # pruning decision on the secondary column: narrow v2 range keeps
    # most files
    touched, kept = eng.store.split_by_key_ranges(
        eng.store.snapshot("dbo.mstats"), {"v2": (100_100, 100_150)}
    )
    assert kept, "expected files provably disjoint on v2 to be kept"
    assert len(touched) < len(ents)

    # end-to-end after PK swap to v2: bounds recorded at write time
    # let the keyed update BOTH prune and hit every matching row
    eng.modify.primary_key("dbo.mstats", "drop")
    eng.modify.primary_key("dbo.mstats", "add", columns="v2")
    before = _manifest_paths(eng, "dbo.mstats")
    src = spark.range(100_100, 100_150).select(
        F.col("id").alias("v2"), F.lit(9.5).cast("double").alias("v")
    )
    eng.write.update("dbo.mstats", src, match_columns=["v2"])
    out = eng.read.table("dbo.mstats")
    assert out.filter("v = 9.5").count() == 50
    assert out.count() == 1000
    after = _manifest_paths(eng, "dbo.mstats")
    assert before & after, "disjoint files must carry over by reference"


def test_optimize_zorder_prunes_on_both_keys(engine, spark):
    """ZORDER rewrite: data identical, every file tight in BOTH keys,
    so split_by_key_ranges prunes on either column afterwards."""
    eng = engine
    # two independent uniform keys: 1-D clustering on k would leave v2
    # ranges full-width in every file
    df = spark.range(4096).select(
        F.col("id").alias("k"),
        ((F.col("id") * 2654435761) % 4096).alias("v2"),
        F.lit(1.0).cast("double").alias("v"),
    )
    eng.create.table(
        "dbo.zord", {"k": "bigint", "v2": "bigint", "v": "float"},
        primary_key_column="k",
    )
    eng.write.insert("dbo.zord", df)
    before = eng.read.table("dbo.zord").groupBy().sum("k", "v2").first()

    n_before, n_after = eng.store.optimize_zorder(
        "dbo.zord", ["k", "v2"], n_files=8
    )
    assert n_after >= 4
    after = eng.read.table("dbo.zord").groupBy().sum("k", "v2").first()
    assert (before[0], before[1]) == (after[0], after[1])
    assert eng.read.table("dbo.zord").count() == 4096

    meta = eng.store.meta("dbo.zord")
    ents = eng.store.manifest("dbo.zord", meta.version)
    assert all({"k", "v2"} <= set(e["stats"]) for e in ents)
    # narrow range on EACH key must keep (prune) at least one file
    for col in ("k", "v2"):
        touched, kept = eng.store.split_by_key_ranges(
            eng.store.snapshot("dbo.zord"), {col: (0, 255)}
        )
        assert kept, f"expected pruning on {col} after zorder"
        assert len(touched) < len(ents)
    # a later keyed update still hits every matching row
    src = spark.range(0, 64).select(
        F.col("id").alias("k"), F.lit(9.5).cast("double").alias("v")
    )
    eng.write.update("dbo.zord", src, match_columns=["k"])
    assert eng.read.table("dbo.zord").filter("v = 9.5").count() == 64


def test_optimize_zorder_five_columns_stays_in_long_range(engine, spark):
    """At 5 z-order columns a fixed 16 bits/column would shift past
    bit 63 and wrap (Java shiftleft masks the count mod 64), silently
    scrambling the clustering; bit allocation must shrink with the
    column count and keep the data bit-identical + pruning live."""
    eng = engine
    cols = ["a", "b", "c", "d", "e"]
    df = spark.range(2048).select(
        F.col("id").alias("a"),
        ((F.col("id") * 2654435761) % 2048).alias("b"),
        ((F.col("id") * 40503) % 2048).alias("c"),
        ((F.col("id") * 2246822519) % 2048).alias("d"),
        ((F.col("id") * 3266489917) % 2048).alias("e"),
    )
    eng.create.table(
        "dbo.z5", {k: "bigint" for k in cols}, primary_key_column="a"
    )
    eng.write.insert("dbo.z5", df)
    before = eng.read.table("dbo.z5").groupBy().sum(*cols).first()
    eng.store.optimize_zorder("dbo.z5", cols, n_files=32)
    after = eng.read.table("dbo.z5").groupBy().sum(*cols).first()
    assert tuple(before) == tuple(after)
    assert eng.read.table("dbo.z5").count() == 2048
    meta = eng.store.meta("dbo.z5")
    ents = eng.store.manifest("dbo.z5", meta.version)
    assert all(set(cols) <= set(e["stats"]) for e in ents)
    # interleaving still clusters (32 files across 5 dims halves each
    # dimension's per-file span): a half-range probe on the first key
    # must prune the files living entirely in the other half — under
    # the pre-fix wrapped shifts the key is garbage and nothing prunes
    touched, kept = eng.store.split_by_key_ranges(
        eng.store.snapshot("dbo.z5"), {"a": (0, 1023)}
    )
    assert kept and len(touched) < len(ents)
