"""Property test (hypothesis) for store.split_by_key_ranges — the
pruning predicate every collision check, FK probe, and
content-discovery narrowing now rests on. Safety property: a file
that CONTAINS a row matching some batch key tuple must never be
pruned ("kept"), under every combination of recorded / missing /
type-mismatched per-column stats. Runs against a stub manifest — no
Spark session needed, so hundreds of examples are cheap."""

from __future__ import annotations

from types import SimpleNamespace

from hypothesis import given, settings
from hypothesis import strategies as st

from mssql_dataframe_spark.store import TableStore, _truncate_string_bounds

COLS = ("a", "b")


class _StubStore:
    """Just enough of TableStore for snapshot + split_by_key_ranges."""

    def __init__(self, entries):
        self._entries = entries

    def meta(self, name):
        return SimpleNamespace(version=0, spark_schema=None)

    def manifest(self, name, version):
        return self._entries

    def snapshot(self):
        return TableStore.snapshot(self, "t")


# values intentionally mix ints and short strings so the exact-type
# guard (int stats vs str bounds and vice versa) is exercised
_value = st.one_of(
    st.integers(-5, 5),
    st.sampled_from(["a", "apple", "mango", "zebra", "zz"]),
)
_row = st.tuples(_value, _value)


@st.composite
def pruning_case(draw):
    files = draw(
        st.lists(
            st.lists(_row, min_size=1, max_size=5),
            min_size=1,
            max_size=6,
        )
    )
    batch = draw(st.lists(_row, min_size=1, max_size=5))
    entries = []
    for i, rows in enumerate(files):
        stats = {}
        for ci, col in enumerate(COLS):
            mode = draw(st.sampled_from(["true", "missing", "widened"]))
            vals = [r[ci] for r in rows]
            # per-type bounds only make sense within one type; mixed
            # files record stats for the majority type or none (the
            # real harvester records only all-int or all-str chunks)
            ints = [v for v in vals if isinstance(v, int)]
            strs = [v for v in vals if isinstance(v, str)]
            if ints and strs:
                mode = "missing"
            pool = ints or strs
            if mode == "missing":
                continue
            lo, hi = min(pool), max(pool)
            if mode == "widened":
                if isinstance(lo, int):
                    lo, hi = lo - draw(st.integers(0, 3)), hi + draw(
                        st.integers(0, 3)
                    )
                else:
                    # the real harvester's stats-truncation (prefix
                    # MIN, truncate+increment MAX) — a widening that
                    # must stay prune-safe
                    lo, hi = _truncate_string_bounds(
                        lo, hi, limit=draw(st.integers(1, 3))
                    )
            stats[col] = [lo, hi]
        entries.append(
            {"path": f"f{i}.parquet", "rows": len(rows), "stats": stats,
             "min": None, "max": None, "stats_col": None}
        )
    return files, entries, batch


@settings(max_examples=300, deadline=None)
@given(pruning_case())
def test_split_by_key_ranges_never_prunes_a_matching_file(case):
    files, entries, batch = case
    bounds = {}
    for ci, col in enumerate(COLS):
        vals = [r[ci] for r in batch]
        ints = [v for v in vals if isinstance(v, int)]
        strs = [v for v in vals if isinstance(v, str)]
        # the validation agg computes one min/max per column; mixed
        # batches can't happen in practice (one declared type), so
        # bound by the present majority type
        pool = ints if len(ints) >= len(strs) else strs
        if pool:
            bounds[col] = (min(pool), max(pool))
    store = _StubStore(entries)
    touched, kept = TableStore.split_by_key_ranges(
        store, store.snapshot(), bounds
    )
    assert len(touched) + len(kept) == len(entries)
    batch_set = set(batch)
    kept_paths = {e["path"] for e in kept}
    for i, rows in enumerate(files):
        if f"f{i}.parquet" in kept_paths:
            # SAFETY: a kept (pruned) file must share no key tuple
            # with the batch — where both sides' bounded types agree
            assert not (set(rows) & batch_set), (
                f"file f{i} was pruned but contains a matching row; "
                f"stats={entries[i]['stats']} bounds={bounds}"
            )


@settings(max_examples=100, deadline=None)
@given(pruning_case())
def test_split_by_key_ranges_empty_bounds_touch_everything(case):
    _files, entries, _batch = case
    store = _StubStore(entries)
    touched, kept = TableStore.split_by_key_ranges(store, store.snapshot(), {})
    assert kept == [] and len(touched) == len(entries)


def test_plain_scalar_normalizes_numpy_string_subclass():
    """np.str_ subclasses str and used to slip through _plain_scalar
    unnormalized; the exact-type guard then compared str vs np.str_
    and silently disabled pruning for every string key."""
    import numpy as np

    from mssql_dataframe_spark.store import _plain_scalar

    out = _plain_scalar(np.str_("abc"))
    assert out == "abc" and type(out) is str
    out = _plain_scalar(np.int64(7))
    assert out == 7 and type(out) is int
    assert _plain_scalar(np.bool_(True)) is None
    assert _plain_scalar(1.5) is None


def test_split_by_key_ranges_prunes_numpy_string_bounds():
    """End-to-end: numpy-string batch bounds (the Arrow collect shape)
    must still prune a disjoint string-keyed file."""
    import numpy as np

    store = _StubStore([
        {"path": "f0.parquet", "stats": {"k": ["a", "f"]}},
        {"path": "f1.parquet", "stats": {"k": ["m", "z"]}},
    ])
    touched, kept = TableStore.split_by_key_ranges(
        store, store.snapshot(), {"k": (np.str_("p"), np.str_("q"))}
    )
    assert [e["path"] for e in kept] == ["f0.parquet"]
    assert touched == ["f1.parquet"]
