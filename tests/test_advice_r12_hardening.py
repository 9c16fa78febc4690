"""Round-12 ADVICE closures, each pinned:

1. (medium) time-travel bloom probes type against the SNAPSHOT's
   recorded schema, not today's — after ALTER COLUMN string->int, a
   pre-retype snapshot read must not prune files whose string rows the
   try_cast reprojection surfaces as matching ints.
2. (low) DELETE WHERE's bloom pre-narrowing is pinned to the same
   snapshot version its entry list came from.
3. (low) one shared unquote/normalize helper feeds the filter renderer
   AND the probe extractor; a property-style sweep asserts a probe's
   value always equals the value the rendered literal denotes (or the
   probe is skipped because the literal renders bare).
4. (low) the bloom sidecar build is vectorized — pinned bit-identical
   to the scalar _bloom_hash_pair contract — and bloom_prune's sidecar
   loads are LRU-cached (second probe of an unchanged snapshot opens
   no files).
"""

from __future__ import annotations

import os

import pytest

from mssql_dataframe_spark.identifiers import (
    _render_literal,
    compile_where,
    equality_conjuncts,
    renders_bare,
    unquote_literal,
)
from mssql_dataframe_spark.store import (
    _bloom_build_for_file,
    _bloom_hash_pair,
    _bloom_might_contain,
    _bloom_value_bytes,
    _load_bloom_sidecar,
)


# -- 1. time-travel probes under the recorded schema ------------------

def _mk_retype(engine, spark):
    """String bloom-indexed column holding numeric-SHAPED strings,
    then retyped to bigint; returns (store, pre-retype version)."""
    engine.create.table(
        "dbo.rt",
        {"id": "bigint", "val": "nvarchar(10)"},
        primary_key_column="id",
        properties={"bloom_filter_columns": ["val"],
                    "bloom_narrow_min_bytes": 0},
    )
    # numeric-SHAPED strings only: ALTER COLUMN is a strict cast-
    # rewrite (SQL Server semantics — unconvertible data fails the
    # ALTER), and '05' vs 5 is exactly the bytes-disagreement the
    # recorded-schema fix guards
    engine.write.insert(
        "dbo.rt",
        spark.createDataFrame([(1, "05"), (2, "07")], "id long, val string"),
    )
    engine.write.insert(
        "dbo.rt",
        spark.createDataFrame(
            [(3, "100"), (4, "200")], "id long, val string"
        ),
    )
    v_pre = engine.store.meta("dbo.rt").version
    engine.modify.column("dbo.rt", "alter", "val", "bigint")
    return engine.store, v_pre


def test_time_travel_retype_probes_skip_under_recorded_string_schema(
    engine, spark
):
    store, v_pre = _mk_retype(engine, spark)
    # current schema types '5' as int -> a probe WOULD engage today
    assert store.typed_bloom_probes(
        store.snapshot("dbo.rt"), "val = 5"
    ) == [("val", 5)]
    # ...but the snapshot's files were hashed under the STRING schema,
    # where a numeric-shaped literal renders bare and must skip
    assert store.typed_bloom_probes(
        store.snapshot("dbo.rt", v_pre), "val = 5"
    ) == []
    # end-to-end: the pre-retype snapshot surfaces the '05' row as 5
    # through the documented try_cast reprojection — pruning under the
    # current schema would have silently dropped it
    got = engine.read.table("dbo.rt", version=v_pre, where="val = 5")
    assert [(r.id, r.val) for r in got.collect()] == [(1, 5)]


def test_time_travel_retype_int_to_string_probes_under_recorded_int(
    engine, spark
):
    engine.create.table(
        "dbo.rti",
        {"id": "bigint", "val": "bigint"},
        primary_key_column="id",
        properties={"bloom_filter_columns": ["val"],
                    "bloom_narrow_min_bytes": 0},
    )
    engine.write.insert(
        "dbo.rti",
        spark.createDataFrame([(1, 5), (2, 7)], "id long, val long"),
    )
    engine.write.insert(
        "dbo.rti",
        spark.createDataFrame([(3, 100), (4, 200)], "id long, val long"),
    )
    v_pre = engine.store.meta("dbo.rti").version
    engine.modify.column("dbo.rti", "alter", "val", "nvarchar(10)")
    store = engine.store
    pre = store.snapshot("dbo.rti", v_pre)
    # recorded schema is INT: '05' normalizes to 5 and probes engage —
    # matching what the sidecars hashed (decimal string of the int)
    assert store.typed_bloom_probes(pre, "val = 05") == [
        ("val", 5)
    ]
    kept = store.bloom_prune(pre, pre.entries, [("val", [5])])
    touched, pruned = [e["path"] for e in kept], len(pre.entries) - len(kept)
    # every file not holding 5 is provably absent; the one holding it
    # survives (an insert may split across several files, so pin the
    # shape, not an exact count)
    n_files = len(store.manifest("dbo.rti", v_pre))
    assert pruned >= 1 and len(touched) == n_files - pruned >= 1
    got = engine.read.table("dbo.rti", version=v_pre, where="val = 05")
    assert [(r.id, r.val) for r in got.collect()] == [(1, "5")]


def test_unrecorded_snapshot_schema_disables_pruning(engine, spark):
    """A retained version whose manifest carries no recorded schema
    (pre-upgrade manifests) must disable pruning, not guess types."""
    store, v_pre = _mk_retype(engine, spark)
    # strip the recorded schema from the snapshot's manifest
    import json

    p = store._manifest_path("dbo.rt", v_pre)
    with open(p) as f:
        doc = json.load(f)
    doc.get("commit", {}).pop("schema", None)
    with open(p, "w") as f:
        json.dump(doc, f)
    assert store.typed_bloom_probes(
        store.snapshot("dbo.rt", v_pre), "val = 5"
    ) == []


# -- 2. DELETE WHERE pruning pinned to its snapshot --------------------

def test_delete_where_bloom_prune_pinned_to_snapshot_version(
    engine, spark
):
    engine.create.table(
        "dbo.dw",
        {"id": "bigint", "name": "nvarchar(20)"},
        primary_key_column="id",
        properties={"bloom_filter_columns": ["name"],
                    "bloom_narrow_min_bytes": 0},
    )
    engine.write.insert(
        "dbo.dw",
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string"),
    )
    store = engine.store
    v = store.meta("dbo.dw").version
    seen = []
    orig = store.bloom_prune

    def tap(snap, entries, probes):
        seen.append(snap.version)
        return orig(snap, entries, probes)

    store.bloom_prune = tap
    try:
        assert engine.write.delete_where("dbo.dw", "name = zz") == 0
    finally:
        store.bloom_prune = orig
    # the pruning decision and the entry list came from ONE snapshot
    assert seen == [v]


# -- 3. shared literal normalization ------------------------------------

_LITERALS = [
    "abc",
    "'abc'",
    '"abc"',
    "O'Brien",
    "'O''Brien'",
    "  padded  ",
    "05",
    "'05'",
    "-17",
    "3.14",
    "1e5",
    "TRUE",
    "null",
    "'",          # 1-char quote: NOT a wrapped literal
    "''",         # empty quoted string
    "a b c",
    "'a b c'",
    "ab'cd",
    "xéy",   # non-ASCII
]


def _denoted(rendered: str):
    """The value a rendered Spark SQL literal denotes."""
    if rendered.startswith("'") and rendered.endswith("'"):
        return rendered[1:-1].replace("''", "'")
    return rendered  # bare numeric / keyword


@pytest.mark.parametrize("lit", _LITERALS)
def test_probe_value_matches_rendered_literal(lit):
    """The desync guard: for every literal, the probe extractor's
    value equals the value the compiled filter's renderer denotes —
    or the probe is skipped because the literal renders bare (numeric
    comparison on a string column can match strings the exact-bytes
    probe would not)."""
    where = f"c = {lit}"
    compiled = compile_where(where)
    assert compiled.startswith("`c` = ")
    rendered = compiled[len("`c` = "):]
    pairs = equality_conjuncts(where)
    assert len(pairs) == 1 and pairs[0][0] == "c"
    v = pairs[0][1]
    if renders_bare(v):
        # typed_bloom_probes skips these on string columns — and on
        # int columns int(v) == int(rendered) must hold when numeric
        if not v.upper() in ("TRUE", "FALSE", "NULL"):
            try:
                assert int(v) == int(float(rendered))
            except ValueError:
                pass  # e.g. 3.14 — int() raises identically both sides
    else:
        assert v == _denoted(rendered)


@pytest.mark.parametrize("lit", _LITERALS)
def test_unquote_is_the_single_normalization(lit):
    """Both sides reduce to unquote_literal — byte-for-byte."""
    u = unquote_literal(lit)
    rendered = _render_literal(lit)
    if renders_bare(u):
        assert rendered in (u, u.upper())
    else:
        assert rendered == "'" + u.replace("'", "''") + "'"


def test_hypothesis_probe_renderer_agreement():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    alphabet = st.characters(
        whitelist_categories=("L", "N"),
        whitelist_characters=" '\".-+_",
    )

    @settings(max_examples=300, deadline=None)
    @given(st.text(alphabet=alphabet, min_size=1, max_size=24))
    def prop(lit):
        import re

        s = lit.strip()
        if not s or re.search(r"\s+(AND|OR)\s+", s, re.I):
            return
        if re.search(r"\s+IS\s+(NOT\s+)?NULL\s*$", s, re.I):
            return
        where = f"c = {s}"
        try:
            compiled = compile_where(where)
        except Exception:
            return
        if not compiled.startswith("`c` = "):
            return
        rendered = compiled[len("`c` = "):]
        pairs = equality_conjuncts(where)
        if len(pairs) != 1:
            return
        v = pairs[0][1]
        if not renders_bare(v):
            assert v == _denoted(rendered)

    prop()


# -- 4. vectorized bloom build + sidecar cache --------------------------

def test_vectorized_bloom_build_bit_identical_to_scalar(tmp_path):
    """The numpy build must reproduce the scalar double-hashing loop
    BIT-FOR-BIT (sidecar format and probe semantics are frozen)."""
    import base64
    import zlib

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    names = [f"n_{i}" for i in range(500)] + ["dup"] * 40 + [None] * 5
    grps = [i % 300 for i in range(len(names) - 5)] + [None] * 5
    tbl = pa.table({"name": names, "grp": grps})
    p = os.path.join(tmp_path, "f.parquet")
    pq.write_table(tbl, p)

    built = _bloom_build_for_file(p, ["name", "grp"])
    for col in ("name", "grp"):
        vals = tbl.column(col).to_pylist()
        encoded = {_bloom_value_bytes(v) for v in vals if v is not None}
        encoded.discard(None)
        from mssql_dataframe_spark.store import BLOOM_BITS_PER_VALUE

        m = built[col]["m"]
        assert m == max(
            64, min(1 << 23, len(encoded) * BLOOM_BITS_PER_VALUE)
        )
        bits = bytearray((m + 7) // 8)
        for e in encoded:
            h1, h2 = _bloom_hash_pair(e)
            for i in range(built[col]["k"]):
                idx = (h1 + i * h2) % m
                bits[idx >> 3] |= 1 << (idx & 7)
        scalar_b64 = base64.b64encode(zlib.compress(bytes(bits))).decode(
            "ascii"
        )
        assert built[col]["b64"] == scalar_b64
        # numpy dtypes must not leak into the JSON sidecar
        assert type(built[col]["m"]) is int


def test_bloom_prune_sidecar_loads_are_cached(engine, spark):
    engine.create.table(
        "dbo.ca",
        {"id": "bigint", "name": "nvarchar(20)"},
        primary_key_column="id",
        properties={"bloom_filter_columns": ["name"],
                    "bloom_narrow_min_bytes": 0},
    )
    for f in range(3):
        engine.write.insert(
            "dbo.ca",
            spark.createDataFrame(
                [(f * 10 + i, f"n_{f}_{i}") for i in range(5)],
                "id long, name string",
            ),
        )
    store = engine.store
    snap1 = store.snapshot("dbo.ca")
    t1 = store.bloom_prune(snap1, snap1.entries, [("name", ["n_1_2"])])
    p1 = len(snap1.entries) - len(t1)
    before = _load_bloom_sidecar.cache_info()
    snap2 = store.snapshot("dbo.ca")
    t2 = store.bloom_prune(snap2, snap2.entries, [("name", ["n_1_2"])])
    p2 = len(snap2.entries) - len(t2)
    after = _load_bloom_sidecar.cache_info()
    assert (t2, p2) == (t1, p1)
    assert after.misses == before.misses  # no file re-opened
    assert after.hits > before.hits


# -- 5. batch-key bloom narrowing in write-path discovery ---------------
# (VERDICT r11 #4: stats-coarse tables — interleaved key ranges make
# min/max pruning blind; the batch's keys probing each candidate's
# sidecar still isolates the touched files.)

def _mk_interleaved(engine, spark, n_files=4, per=40):
    """Every file's key range spans the whole domain (file f holds
    keys f, f+n, f+2n, ...), so split_by_key_ranges keeps everything —
    only sidecars can tell the files apart."""
    engine.create.table(
        "dbo.iv",
        {"id": "bigint", "v": "bigint"},
        primary_key_column="id",
        properties={"bloom_filter_columns": ["id"],
                    "bloom_narrow_min_bytes": 0},
    )
    for f in range(n_files):
        rows = [(f + i * n_files, f) for i in range(per)]
        engine.write.insert(
            "dbo.iv",
            spark.createDataFrame(rows, "id long, v long").coalesce(1),
        )
    return engine.store


def test_merge_discovery_narrows_by_batch_key_blooms(engine, spark):
    store = _mk_interleaved(engine, spark)
    n_files = len(store.manifest("dbo.iv", store.meta("dbo.iv").version))
    assert n_files >= 4
    # stats are blind here: every file's [min, max] covers the batch
    lo = min(e["stats"]["id"][0] for e in
             store.manifest("dbo.iv", store.meta("dbo.iv").version)
             if e.get("stats", {}).get("id"))
    read_files_calls = []
    orig_rf = store.read_files

    def tap_rf(name, paths, *a, **k):
        read_files_calls.append(list(paths))
        return orig_rf(name, paths, *a, **k)

    store.read_files = tap_rf
    try:
        # batch touches keys living in ONE file (file 1's residue class)
        batch = [(1, 100), (5, 100)]
        engine.write.merge(
            "dbo.iv",
            spark.createDataFrame(batch, "id long, v long"),
            upsert=True,
        )
    finally:
        store.read_files = orig_rf
    # the discovery scan AND the rewrite read strict subsets
    assert read_files_calls
    assert all(len(p) < n_files for p in read_files_calls)
    got = {
        (r.id, r.v)
        for r in engine.read.table("dbo.iv", where="v = 100").collect()
    }
    assert got == {(1, 100), (5, 100)}
    assert engine.read.table("dbo.iv").count() == 160


def test_merge_discovery_bloom_absent_batch_rewrites_nothing(
    engine, spark
):
    """Every batch key provably absent: the merge is pure insert —
    zero files rewritten, every entry carries by reference."""
    store = _mk_interleaved(engine, spark)
    v0 = store.meta("dbo.iv").version
    before = {
        e["path"] for e in store.manifest("dbo.iv", v0)
    }
    engine.write.merge(
        "dbo.iv",
        spark.createDataFrame([(10_000, 1), (10_001, 1)], "id long, v long"),
        upsert=True,
    )
    after = store.manifest("dbo.iv", store.meta("dbo.iv").version)
    # all prior files intact by reference, plus the new insert file(s)
    assert before <= {e["path"] for e in after}
    assert engine.read.table("dbo.iv").count() == 162


def test_insert_collision_probe_narrows_by_batch_key_blooms(
    engine, spark
):
    """All-fresh keys on an interleaved bloom-indexed PK: the PK
    collision probe reads ZERO existing files (stats are blind, the
    sidecars are not)."""
    store = _mk_interleaved(engine, spark)
    reads = []
    orig_rf = store.read_files

    def tap_rf(name, paths, *a, **k):
        reads.append(list(paths))
        return orig_rf(name, paths, *a, **k)

    store.read_files = tap_rf
    try:
        engine.write.insert(
            "dbo.iv",
            spark.createDataFrame(
                [(50_001, 9), (50_017, 9)], "id long, v long"
            ),
        )
    finally:
        store.read_files = orig_rf
    assert reads == []  # no existing file opened for the check
    assert engine.read.table("dbo.iv").count() == 162
    # and a COLLIDING batch is still caught (no false negatives)
    import pytest as _pytest

    from mssql_dataframe_spark.errors import SQLUniqueConstraintViolation

    with _pytest.raises(SQLUniqueConstraintViolation):
        engine.write.insert(
            "dbo.iv",
            spark.createDataFrame([(1, 9)], "id long, v long"),
        )


def test_fk_noaction_probe_narrows_child_files_by_blooms(
    engine, spark
):
    """Parent delete's referential probe on a child with interleaved
    (stats-blind) FK values: sidecar probes isolate the child files
    that could reference the deleted keys; the no-action violation is
    still raised from the one real referencing file."""
    import pytest as _pytest

    from mssql_dataframe_spark.errors import SQLForeignKeyViolation

    engine.create.table(
        "dbo.par", {"pid": "bigint", "x": "bigint"},
        primary_key_column="pid",
    )
    engine.write.insert(
        "dbo.par",
        spark.createDataFrame(
            [(i, i) for i in range(64)], "pid long, x long"
        ),
    )
    engine.create.table(
        "dbo.chi",
        {"cid": "bigint", "pid": "bigint"},
        primary_key_column="cid",
        properties={
            "bloom_filter_columns": ["pid"],
            "bloom_narrow_min_bytes": 0,
            "foreign_keys": {
                "fk_p": {
                    "columns": ["pid"],
                    "ref_table": "dbo.par",
                    "ref_columns": ["pid"],
                    "on_delete": "no_action",
                }
            },
        },
    )
    # interleaved child FK values: file f holds pids f, f+4, ... f+28
    # (parent keys 32..63 stay unreferenced)
    for f in range(4):
        engine.write.insert(
            "dbo.chi",
            spark.createDataFrame(
                [(f * 100 + i, f + i * 4) for i in range(8)],
                "cid long, pid long",
            ).coalesce(1),
        )
    store = engine.store
    reads = []
    orig_rf = store.read_files

    def tap_rf(snap, paths, *a, **k):
        if snap.name == "dbo.chi":
            reads.append(list(paths))
        return orig_rf(snap, paths, *a, **k)

    store.read_files = tap_rf
    try:
        # pid=1 is referenced only by the residue-1 child file: the
        # probe must raise, reading a strict subset of child files
        with _pytest.raises(SQLForeignKeyViolation):
            engine.write.delete(
                "dbo.par", spark.createDataFrame([(1,)], "pid long")
            )
    finally:
        store.read_files = orig_rf
    n_child_files = len(
        store.manifest("dbo.chi", store.meta("dbo.chi").version)
    )
    assert n_child_files >= 4
    assert reads and all(len(p) < n_child_files for p in reads)
    # and a provably-unreferenced key deletes fine with NO child read
    reads.clear()
    store.read_files = tap_rf
    try:
        engine.write.delete(
            "dbo.par", spark.createDataFrame([(63,)], "pid long")
        )
    finally:
        store.read_files = orig_rf
    assert reads == []


# -- 6. DATE bloom indexing (r12) ---------------------------------------

def test_bloom_value_bytes_date_canonical_form():
    import datetime as dt

    assert _bloom_value_bytes(dt.date(2024, 1, 2)) == b"2024-01-02"
    # datetime subclasses date but must NOT hash under the date form
    assert _bloom_value_bytes(dt.datetime(2024, 1, 2, 3, 4)) is None


def test_date_bloom_build_matches_scalar_canonicalization(tmp_path):
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    days = [dt.date(2024, 1, 1 + (i % 28)) for i in range(200)] + [None]
    p = os.path.join(tmp_path, "d.parquet")
    pq.write_table(pa.table({"d": days}), p)
    built = _bloom_build_for_file(p, ["d"])
    bl = built["d"]
    for v in {x for x in days if x is not None}:
        assert _bloom_might_contain(bl, _bloom_value_bytes(v))
    assert not _bloom_might_contain(
        bl, _bloom_value_bytes(dt.date(2030, 12, 31))
    )


def test_date_column_bloom_read_prunes_and_stays_exact(engine, spark):
    engine.create.table(
        "dbo.dt",
        {"id": "bigint", "d": "date"},
        primary_key_column="id",
        properties={"bloom_filter_columns": ["d"],
                    "bloom_narrow_min_bytes": 0},
    )
    import datetime as dt

    for f in range(3):
        rows = [
            (f * 10 + i, dt.date(2024, f + 1, 1 + i)) for i in range(5)
        ]
        engine.write.insert(
            "dbo.dt",
            spark.createDataFrame(rows, "id long, d date").coalesce(1),
        )
    store = engine.store
    snap = store.snapshot("dbo.dt")
    # strict ISO literal probes and prunes
    assert store.typed_bloom_probes(snap, "d = 2024-02-03") == [
        ("d", dt.date(2024, 2, 3))
    ]
    kept = store.bloom_prune(
        snap, snap.entries, [("d", [dt.date(2024, 2, 3)])]
    )
    pruned = len(snap.entries) - len(kept)
    assert pruned >= 1
    got = engine.read.table("dbo.dt", where="d = 2024-02-03").collect()
    assert [(r.id, r.d) for r in got] == [(12, dt.date(2024, 2, 3))]
    # non-strict form: Spark casts it, Python must NOT probe it
    assert store.typed_bloom_probes(snap, "d = 2024-2-3") == []
    got2 = engine.read.table("dbo.dt", where="d = 2024-2-3").collect()
    assert [(r.id, r.d) for r in got2] == [(12, dt.date(2024, 2, 3))]
    # invalid date: no probe — and the filter itself raises under
    # ANSI cast (Spark 4 default), the same loud failure any
    # malformed typed literal gets; pruning must not pre-empt it
    # with a silently-empty result
    assert store.typed_bloom_probes(snap, "d = 2024-13-01") == []
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        engine.read.table("dbo.dt", where="d = 2024-13-01").count()


def test_date_key_merge_discovery_narrows(engine, spark):
    import datetime as dt

    engine.create.table(
        "dbo.dtm",
        {"d": "date", "v": "bigint"},
        primary_key_column="d",
        properties={"bloom_filter_columns": ["d"],
                    "bloom_narrow_min_bytes": 0},
    )
    # interleaved months across files: stats ranges all overlap
    for f in range(3):
        rows = [
            (dt.date(2024, 1 + i % 6, f + 1), f) for i in range(6)
        ]
        engine.write.insert(
            "dbo.dtm",
            spark.createDataFrame(rows, "d date, v long").coalesce(1),
        )
    store = engine.store
    reads = []
    orig_rf = store.read_files

    def tap_rf(name, paths, *a, **k):
        reads.append(list(paths))
        return orig_rf(name, paths, *a, **k)

    n_files = len(store.manifest("dbo.dtm", store.meta("dbo.dtm").version))
    store.read_files = tap_rf
    try:
        engine.write.merge(
            "dbo.dtm",
            spark.createDataFrame(
                [(dt.date(2024, 3, 2), 99)], "d date, v long"
            ),
            upsert=True,
        )
    finally:
        store.read_files = orig_rf
    assert reads and all(len(p) < n_files for p in reads)
    got = engine.read.table("dbo.dtm", where="v = 99").collect()
    assert [(r.d, r.v) for r in got] == [(dt.date(2024, 3, 2), 99)]


# -- 7. distributed bloom probing for large manifests --------------------

def test_distributed_bloom_probe_matches_driver_loop(
    engine, spark, monkeypatch
):
    """Past BLOOM_PRUNE_DISTRIBUTED_THRESHOLD sidecar-bearing files,
    probing dispatches to executors (the footer-harvest shape);
    verdicts must be identical to the driver loop for both the
    point-lookup and the batch-key forms."""
    import mssql_dataframe_spark.store as st

    store = _mk_interleaved(engine, spark)
    snap = store.snapshot("dbo.iv")
    entries = snap.entries

    def point():
        kept = store.bloom_prune(snap, entries, [("id", [5])])
        return [e["path"] for e in kept], len(entries) - len(kept)

    def batch():
        kept = store.bloom_prune(snap, entries, [("id", [1, 5, 9])])
        return [e["path"] for e in kept]

    t_drv, p_drv = point()
    any_drv = batch()
    monkeypatch.setattr(st, "BLOOM_PRUNE_DISTRIBUTED_THRESHOLD", 0)
    t_dist, p_dist = point()
    any_dist = batch()
    assert (t_dist, p_dist) == (t_drv, p_drv) and p_drv >= 1
    assert any_dist == any_drv and len(any_drv) < len(entries)
