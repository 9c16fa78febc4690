"""Pure-python contract pins for the bloom sidecar math: the
false-positive sizing claim (16 bits/value, 7 hashes ≈ 0.07% — sized
for batch-key probing, where any-of-K compounds the per-value fpp),
cap behavior, and canonical value encoding — no Spark session
needed."""

from __future__ import annotations

import base64
import json
import zlib

import numpy as np

from mssql_dataframe_spark.store import (
    BLOOM_BITS_PER_VALUE,
    BLOOM_K,
    BLOOM_MAX_BITS,
    _bloom_hash_pair,
    _bloom_might_contain,
    _bloom_value_bytes,
)


def _build(values):
    encoded = [_bloom_value_bytes(v) for v in values]
    encoded = [e for e in encoded if e is not None]
    m = min(BLOOM_MAX_BITS, max(64, len(encoded) * BLOOM_BITS_PER_VALUE))
    bits = np.zeros((m + 7) // 8, dtype=np.uint8)
    for e in encoded:
        h1, h2 = _bloom_hash_pair(e)
        for i in range(BLOOM_K):
            idx = (h1 + i * h2) % m
            bits[idx >> 3] |= 1 << (idx & 7)
    return {
        "m": int(m),
        "k": BLOOM_K,
        "b64": base64.b64encode(zlib.compress(bits.tobytes())).decode(),
    }


def test_false_positive_rate_near_one_percent():
    members = [f"member_{i}" for i in range(10_000)]
    bloom = _build(members)
    # zero false negatives (the correctness contract)
    for v in members[:500]:
        assert _bloom_might_contain(bloom, _bloom_value_bytes(v))
    # fpp near the 16-bits/7-hashes design point (~0.07%); generous
    # ceiling to keep the test deterministic-robust — and low enough
    # to pin the batch-probe sizing (10 bits/value measured ~0.8%
    # here, which compounded to keep-everything on 1000-key batches)
    hits = sum(
        _bloom_might_contain(bloom, _bloom_value_bytes(f"absent_{i}"))
        for i in range(10_000)
    )
    assert hits / 10_000 < 0.005, hits


def test_value_encoding_canonicalization():
    # ints hash as their decimal string -> '05' parses to the same key
    assert _bloom_value_bytes(5) == b"5"
    assert _bloom_value_bytes(int("05")) == b"5"
    assert _bloom_value_bytes(np.int64(5)) == b"5"
    assert _bloom_value_bytes("abc") == b"abc"
    # non-indexable values disable the probe rather than mis-hash
    assert _bloom_value_bytes(True) is None
    assert _bloom_value_bytes(None) is None
    assert _bloom_value_bytes(1.5) is None


def test_bit_cap_degrades_gracefully():
    # more distinct values than the cap affords: filter still has no
    # false negatives, just a higher fpp
    n = BLOOM_MAX_BITS // BLOOM_BITS_PER_VALUE + 1000
    members = [f"v{i}" for i in range(0, n, max(1, n // 2000))]
    bloom = _build(members)
    assert (
        bloom["m"] == BLOOM_MAX_BITS
        or len(members) * BLOOM_BITS_PER_VALUE < BLOOM_MAX_BITS
    )
    for v in members[:200]:
        assert _bloom_might_contain(bloom, _bloom_value_bytes(v))


def test_serialization_roundtrip_json():
    bloom = _build(["a", "b", "c", 42])
    again = json.loads(json.dumps(bloom))
    for v in ("a", "b", "c", 42):
        assert _bloom_might_contain(again, _bloom_value_bytes(v))
    assert not _bloom_might_contain(again, _bloom_value_bytes("zz"))


def test_batch_probe_never_false_negative_property(tmp_path, monkeypatch):
    """Property (hypothesis): the one per-file probe kernel's verdict
    EQUALS the scalar reference (``_bloom_might_contain``) for a
    single-value probe, for a multi-value probe (any value may be
    present) and for a two-column AND — so a file containing ANY probed
    key is NEVER pruned — for int, string, and date values, through the
    real vectorized build."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from hypothesis import given, settings
    from hypothesis import strategies as st

    import mssql_dataframe_spark.store as stmod
    from mssql_dataframe_spark.store import (
        _bloom_build_for_file,
        _bloom_file_keeps,
        _bloom_hashes,
    )

    def hashes(values):
        return _bloom_hashes([_bloom_value_bytes(v) for v in values])

    ints = st.integers(min_value=-(10**12), max_value=10**12)
    texts = st.text(min_size=0, max_size=12)
    dates = st.dates(
        min_value=dt.date(1, 1, 1), max_value=dt.date(9999, 12, 31)
    )
    counter = [0]
    sidecar = {}
    monkeypatch.setattr(stmod, "_load_bloom_sidecar", lambda path: sidecar)

    def build(col, stored):
        p = os.path.join(tmp_path, f"p_{counter[0]}_{col}.parquet")
        pq.write_table(pa.table({col: list(stored)}), p)
        built = _bloom_build_for_file(p, [col])[col]
        sidecar[col] = {
            "m": built["m"],
            "k": built["k"],
            "_bits": zlib.decompress(base64.b64decode(built["b64"])),
        }

    def keeps(probes):
        return _bloom_file_keeps(
            "", "x", sorted(sidecar), [(c, hashes(v)) for c, v in probes]
        )

    def ref(col, values):
        return any(
            _bloom_might_contain(sidecar[col], _bloom_value_bytes(v))
            for v in values
        )

    def sets(elem):
        return st.tuples(*[st.sets(elem, min_size=1, max_size=30)] * 4)

    @settings(max_examples=40, deadline=None)
    @given(st.one_of(sets(ints), sets(texts), sets(dates)))
    def prop(sets4):
        stored_c, batch_c, stored_d, batch_d = sets4
        # force overlap half the time so the interesting branch runs
        if counter[0] % 2 == 0:
            batch_c = set(batch_c) | {next(iter(stored_c))}
        counter[0] += 1
        build("c", stored_c)
        build("d", stored_d)
        for v in batch_c:
            assert keeps([("c", [v])]) == ref("c", [v])
        both = keeps([("c", batch_c), ("d", batch_d)])
        assert keeps([("c", batch_c)]) == ref("c", batch_c)
        assert both == (ref("c", batch_c) and ref("d", batch_d))
        if stored_c & batch_c:
            assert keeps([("c", batch_c)])  # no false negatives, ever
        if stored_c & batch_c and stored_d & batch_d:
            assert both

    prop()
