"""Connected-components hardening: deep chains must converge with
bounded lineage (localCheckpoint every 5 rounds), unconverged exits
must warn, and the edge-incident-nodes default must agree with the
explicit all-nodes form on non-singleton clusters.
"""

from __future__ import annotations

import logging

import pytest
from pyspark.sql import functions as F

from mssql_dataframe_spark.operators import dedup as D
from mssql_dataframe_spark.operators.dedup import connected_components


def _chain_edges(spark, n):
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id1 long, id2 long"
    )


def test_chain_25_deep_converges_single_component(spark):
    """25 rounds of propagation: crosses several checkpoint boundaries,
    so this also guards the lineage-truncation path (without it, the
    iterated plan deepens per round and driver planning blows up).
    ``small_graph_edges=0`` forces the distributed loop — the loop is
    the thing under test here, not the union-find fast path."""
    edges = _chain_edges(spark, 25)
    cc = connected_components(
        edges, max_iter=40, small_graph_edges=0
    ).collect()
    assert len(cc) == 26
    assert {r["component"] for r in cc} == {0}


def test_union_find_fast_path_matches_loop(spark):
    """Default path for a small graph is the single-task union-find;
    its labels (min node id per component) must be identical to the
    distributed min-propagation loop's."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (10, 11), (20, 21), (21, 22), (5, 5)],
        "id1 long, id2 long",
    )
    fast = {
        (r["id"], r["component"])
        for r in connected_components(edges).collect()
    }
    loop = {
        (r["id"], r["component"])
        for r in connected_components(
            edges, small_graph_edges=0
        ).collect()
    }
    assert fast == loop
    assert fast == {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
        (5, 5),
    }


def test_unconverged_exit_warns(spark, caplog):
    edges = _chain_edges(spark, 12)
    with caplog.at_level(logging.WARNING, "mssql_dataframe_spark"):
        cc = connected_components(
            edges, max_iter=3, small_graph_edges=0
        ).collect()
    assert any("WITHOUT" in r.message for r in caplog.records)
    # labels are stale upper bounds, but every node is still labeled
    assert len(cc) == 13


def test_edge_nodes_default_matches_explicit_nodes(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id1 long, id2 long"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in range(1, 10)], "id long"
    )
    full = {
        (r["id"], r["component"])
        for r in connected_components(
            edges, nodes, small_graph_edges=0
        ).collect()
    }
    sparse = {
        (r["id"], r["component"])
        for r in connected_components(
            edges, small_graph_edges=0
        ).collect()
    }
    fast_full = {
        (r["id"], r["component"])
        for r in connected_components(edges, nodes).collect()
    }
    assert fast_full == full
    # sparse = full minus singletons (which label themselves)
    assert sparse == {(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)}
    assert full == sparse | {(4, 4), (5, 5), (6, 6), (9, 9)}


def test_incremental_dedup_finds_cross_side_dups_only(spark):
    """A planted near-dup across the batch/corpus boundary must be
    found; corpus-internal duplicates must NOT appear (they are the
    corpus backfill's job, not the ingest gate's)."""
    from pyspark.sql import Row

    from mssql_dataframe_spark.operators.dedup import (
        minhash_dedup_incremental,
    )

    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the rain in spain falls mainly on the plain every day"
    )
    corpus = spark.createDataFrame(
        [
            Row(doc_id=1, text=base),
            Row(doc_id=2, text=base + " with one extra tail"),  # corpus dup
            Row(doc_id=3, text="completely different content about "
                               "spark manifests and parquet footers"),
        ]
    )
    new = spark.createDataFrame(
        [
            Row(doc_id=100, text=base + " tail"),         # dup of 1 and 2
            Row(doc_id=101, text="unrelated fresh text about minhash "
                                 "bands and jaccard verification"),
        ]
    )
    out = minhash_dedup_incremental(
        new, corpus, threshold=0.5
    ).collect()
    found = {(r["new_id"], r["corpus_id"]) for r in out}
    assert (100, 1) in found and (100, 2) in found
    assert all(nid == 100 for nid, _ in found)
    assert all(0.5 <= r["jaccard"] <= 1.0 for r in out)


class TestFuzzyJoinDist1:
    def _run(self, spark, rows):
        from mssql_dataframe_spark.operators.dedup import fuzzy_join_dist1
        df = spark.createDataFrame(rows, "id long, text string")
        return sorted(
            (r["id1"], r["id2"])
            for r in fuzzy_join_dist1(df, "id", "text").collect()
        )

    def test_substitution_insertion_deletion(self, spark):
        pairs = self._run(spark, [
            (1, "kitten"),
            (2, "mitten"),    # substitution
            (3, "kittens"),   # insertion
            (4, "kiten"),     # deletion
            (5, "sitting"),   # distance > 1 from all
        ])
        assert pairs == [(1, 2), (1, 3), (1, 4)]

    def test_equal_strings_match(self, spark):
        assert self._run(spark, [(1, "abc"), (2, "abc")]) == [(1, 2)]

    def test_empty_and_null(self, spark):
        # "" vs "a" is distance 1; NULL rows are dropped
        pairs = self._run(spark, [(1, ""), (2, "a"), (3, None), (4, "ab")])
        assert pairs == [(1, 2), (2, 4)]

    def test_no_duplicate_pairs_from_shared_variants(self, spark):
        # "ab"/"ba" share TWO deletion variants ("a" and "b") but are
        # distance 2 — must not appear; "ab"/"b" share one and are
        # distance 1 — must appear exactly once
        pairs = self._run(spark, [(1, "ab"), (2, "ba"), (3, "b")])
        assert pairs == [(1, 3), (2, 3)]


class TestExactSubstringPairs:
    def _run(self, spark, rows, **kw):
        from mssql_dataframe_spark.operators.dedup import exact_substring_pairs
        df = spark.createDataFrame(rows, "doc_id long, text string")
        return sorted(
            (r["id1"], r["id2"])
            for r in exact_substring_pairs(df, **kw).collect()
        )

    def test_shared_span_found_at_any_offset(self, spark):
        span = "the quick brown fox jumps over the lazy dog again and again"
        rows = [
            (1, "AAAA " + span + " tail one"),
            (2, "a completely different prefix here " + span),
            (3, "no overlap with anything else in this corpus at all ok"),
        ]
        pairs = self._run(spark, rows, window=24, kgram=4, mod=2)
        assert (1, 2) in pairs
        assert all(3 not in p for p in pairs)

    def test_short_docs_are_safe(self, spark):
        rows = [(1, "tiny"), (2, "tiny"), (3, None)]
        assert self._run(spark, rows, window=24, kgram=4, mod=2) == []

    def test_pair_reported_once(self, spark):
        # long shared text -> many shared anchored windows, one pair row
        shared = "x" * 5 + " shared sentence repeated verbatim " * 4
        rows = [(1, shared + " a"), (2, shared + " b")]
        pairs = self._run(spark, rows, window=24, kgram=4, mod=2)
        assert pairs == [(1, 2)]


def test_release_pins_drains_dedup_caches(spark):
    """The MinHash pipeline keeps its signature/shingle intermediates
    with the session; cache.release() must unpersist every one
    (long-session hygiene)."""
    from pyspark.sql import Row

    from mssql_dataframe_spark import cache
    from mssql_dataframe_spark.operators import dedup as D

    df = spark.createDataFrame(
        [Row(doc_id=i, text=f"document number {i} lorem ipsum dolor")
         for i in range(20)],
        "doc_id long, text string",
    )
    cache.release()  # start clean
    D.minhash_dedup_pairs(df, threshold=0.5).count()
    held = list(cache._SESSION)
    assert held, "pipeline must register its persisted intermediates"
    assert all(p.storageLevel.useMemory for p in held)
    n = cache.release()
    assert n == len(held)
    assert all(not p.storageLevel.useMemory for p in held)
    assert cache.release() == 0


def test_cc_loop_releases_superseded_label_caches(spark):
    """Each distributed round's persisted label frame must be released
    once superseded — unpersist on the post-drop projection was a
    silent no-op (plan mismatch), leaking O(nodes) per round."""
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id1 long, id2 long"
    )
    # default checkpoint_every stays on: disabling truncation makes
    # the per-round self-referencing plan exponential (the reason the
    # cadence exists)
    out = D.connected_components(edges, small_graph_edges=0)
    assert out.filter(F.col("component") == 0).count() == 9
    after = jsc.getPersistentRDDs().size()
    # ~8 rounds: without the release every non-checkpoint round's
    # label frame stays cached (~+6 extra). Allowed residue: the two
    # eager localCheckpoints (sym, labels0), checkpoint-round RDDs,
    # and the final round's cache the returned plan reads.
    assert after - before <= 5, (before, after)


def test_cc_small_graph_cutover_counts_input_edges(spark, monkeypatch):
    """The union-find cutover compares INPUT edge count, not the
    doubled symmetrized row count."""
    import mssql_dataframe_spark.operators.dedup as dd

    calls = []
    real = dd._union_find

    def spy(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(dd, "_union_find", spy)
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "id1 long, id2 long"
    )
    dd.connected_components(edges, small_graph_edges=3).collect()
    assert calls  # 3 edges <= 3: fast path (sym rows = 6 must not veto)


def test_cc_big_graph_runs_edge_lineage_once(spark):
    """Above the cutover the loop starts from the edge checkpoint the
    bounded collect filled: the edge lineage (a row-counting UDF here)
    runs once, not once for the collect and again for the loop."""
    acc = spark.sparkContext.accumulator(0)

    def tick(x):
        acc.add(1)
        return x

    count_rows = F.udf(tick, "long").asNondeterministic()
    raw = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id1 long, id2 long"
    )
    edges = raw.select(count_rows("id1").alias("id1"), "id2")
    out = D.connected_components(edges, small_graph_edges=5)
    assert out.filter(F.col("component") == 0).count() == 13
    assert acc.value == 12


def _random_graph(seed, n_nodes, n_edges, key):
    import random

    rng = random.Random(seed)
    return [
        (key(rng.randrange(n_nodes)), key(rng.randrange(n_nodes)))
        for _ in range(n_edges)
    ]


# string ids mix ASCII with accented, CJK and astral-plane characters:
# the driver sorts Python str by code point, Spark compares UTF-8
# bytes, and the two orders must pick the same min label
_STR_KEYS = ["n", "N", "é", "中", "\U0001F600", "z"]


@pytest.mark.parametrize("kind", ["int", "string", "int_nodes"])
@pytest.mark.parametrize("seed", [1, 2, 3])
def test_cc_driver_union_find_matches_distributed_loop(spark, kind, seed):
    """The driver-side union-find (default for a small graph) and the
    distributed min-label loop (``small_graph_edges=0``) label every
    node identically on seeded random graphs — int ids, string ids,
    and with an explicit ``nodes=`` frame holding isolated nodes."""
    if kind == "string":
        def key(i):
            return f"{_STR_KEYS[i % len(_STR_KEYS)]}{i:03d}"
        schema, id_type = "id1 string, id2 string", "string"
    else:
        def key(i):
            return i
        schema, id_type = "id1 long, id2 long", "bigint"
    edges = spark.createDataFrame(_random_graph(seed, 60, 45, key), schema)
    nodes = None
    if kind == "int_nodes":
        nodes = spark.createDataFrame([(i,) for i in range(70)], "id long")
    driver = connected_components(edges, nodes, max_iter=60)
    loop = connected_components(edges, nodes, max_iter=60, small_graph_edges=0)
    assert driver.schema == loop.schema
    assert driver.schema["id"].dataType.simpleString() == id_type
    got = sorted(tuple(r) for r in driver.collect())
    assert got == sorted(tuple(r) for r in loop.collect())
    if kind == "int_nodes":
        assert len(got) == 70  # every node, isolated ones included


def test_ngram_jaccard_pairs_works_with_string_ids(spark):
    """String doc ids must not be silently cast to NULL in the block
    salt (which made the candidate join empty)."""
    rows = [
        ("doc-a", "the quick brown fox jumps over the lazy dog today"),
        ("doc-b", "the quick brown fox jumps over the lazy dog today"),
        ("doc-c", "completely different content with no overlap at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = D.ngram_jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=0.5
    ).collect()
    assert {(r.id1, r.id2) for r in got} == {("doc-a", "doc-b")}


def test_simhash_partial_recall_warns(spark, caplog):
    import logging

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta delta")],
        "doc_id long, text string",
    )
    with caplog.at_level(logging.WARNING, logger="mssql_dataframe_spark"):
        D.simhash_near_dup_pairs(df, max_hamming=8, n_blocks=4).collect()
    assert any("pigeonhole" in r.message for r in caplog.records)
