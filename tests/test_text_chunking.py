"""Chunking / entropy / per-source-cap operator edge cases."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row

from mssql_dataframe_spark.operators.curation import per_source_cap
from mssql_dataframe_spark.operators import text as X
from mssql_dataframe_spark.operators.text import char_entropy, chunk_documents


def _docs(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in rows], "doc_id long, text string"
    )


def test_chunks_cover_every_char_with_overlap(spark):
    text = "abcdefghijklmnopqrstuvwxyz"  # 26 chars
    df = _docs(spark, [(1, text)])
    out = chunk_documents(df, chunk_size=10, overlap=4).orderBy("chunk_idx")
    rows = out.collect()
    # stride 6: starts 1,7,13,19,25 -> 5 chunks
    assert [r.chunk_idx for r in rows] == [0, 1, 2, 3, 4]
    assert rows[0].chunk_text == "abcdefghij"
    assert rows[1].chunk_text == "ghijklmnop"  # 4-char overlap
    assert rows[-1].chunk_text == "yz"  # tail shorter than chunk_size
    # reassembly: stripping the overlap from every chunk after the
    # first reconstructs the document exactly
    joined = rows[0].chunk_text + "".join(r.chunk_text[4:] for r in rows[1:])
    assert joined == text


def test_short_and_empty_docs(spark):
    df = _docs(spark, [(1, "ab"), (2, ""), (3, None)])
    out = chunk_documents(df, chunk_size=10, overlap=4).collect()
    assert [(r.doc_id, r.chunk_idx, r.chunk_text) for r in out] == [
        (1, 0, "ab")
    ]


def test_overlap_must_be_smaller(spark):
    df = _docs(spark, [(1, "abc")])
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_size=5, overlap=5)


def test_char_entropy_known_values(spark):
    df = _docs(spark, [(1, "aaaa"), (2, "ab"), (3, "abcd"), (4, "")])
    out = {r.doc_id: r for r in char_entropy(df).collect()}
    assert out[1].char_entropy == 0.0 and out[1].distinct_chars == 1
    assert out[2].char_entropy == 1.0
    assert out[3].char_entropy == 2.0 and out[3].distinct_chars == 4
    assert 4 not in out  # empty docs excluded


def test_char_entropy_nonuniform(spark):
    # "aab": H = -(2/3 log2 2/3 + 1/3 log2 1/3)
    df = _docs(spark, [(1, "aab")])
    h = char_entropy(df).collect()[0].char_entropy
    expected = -(2 / 3 * math.log2(2 / 3) + 1 / 3 * math.log2(1 / 3))
    assert abs(h - round(expected, 6)) < 1e-9


def test_per_source_cap_keeps_first_k(spark):
    df = spark.createDataFrame(
        [Row(doc_id=i, source="s" + str(i % 2)) for i in range(10)],
        "doc_id long, source string",
    )
    out = per_source_cap(df, cap=3, by="source", order_col="doc_id")
    got = sorted((r.source, r.doc_id) for r in out.collect())
    assert got == [
        ("s0", 0), ("s0", 2), ("s0", 4),
        ("s1", 1), ("s1", 3), ("s1", 5),
    ]


def test_per_source_cap_audit_mode(spark):
    df = spark.createDataFrame(
        [Row(doc_id=i, source="s") for i in range(5)],
        "doc_id long, source string",
    )
    out = per_source_cap(df, cap=2, by="source", keep_col="keep")
    kept = {r.doc_id: r.keep for r in out.collect()}
    assert kept == {0: True, 1: True, 2: False, 3: False, 4: False}
    with pytest.raises(ValueError):
        per_source_cap(df, cap=0)


def test_unigram_logprob_scores_and_edges(spark):
    """Hand-computable corpus: docs 'a a a' and 'a b' -> tf(a)=4,
    tf(b)=1, N=5; doc1 scores mean ln(4/5), doc2
    (ln(4/5)+ln(1/5))/2. Empty and NULL text drop out; common-token
    docs outscore rare-token docs."""
    from mssql_dataframe_spark.operators.text import unigram_logprob

    df = _docs(
        spark,
        [(1, "a a a"), (2, "a b"), (3, ""), (4, None), (5, "   ")],
    )
    rows = {r.doc_id: r for r in unigram_logprob(df).collect()}
    assert set(rows) == {1, 2}
    assert rows[1].n_tokens == 3 and rows[2].n_tokens == 2
    lp1 = math.log(4.0 / 5.0)
    lp2 = (math.log(4.0 / 5.0) + math.log(1.0 / 5.0)) / 2
    assert rows[1].mean_logprob == pytest.approx(lp1, abs=2e-6)
    assert rows[2].mean_logprob == pytest.approx(lp2, abs=2e-6)
    assert rows[1].mean_logprob > rows[2].mean_logprob

    # case-folding: 'The THE the' counts as one token type
    df2 = _docs(spark, [(1, "The THE the")])
    r = unigram_logprob(df2).collect()[0]
    assert r.n_tokens == 3 and r.mean_logprob == pytest.approx(0.0, abs=2e-6)


def test_bigram_pmi_ranks_collocations(spark):
    """'new york' always adjacent -> top PMI; frequent-but-independent
    pairs score lower; min_count prunes rare pairs."""
    from mssql_dataframe_spark.operators.text import bigram_pmi

    docs = ["new york " * 6 + "the cat the dog the cat the dog"] * 3 + [
        "the a " * 20,          # frequent tokens, weak association
        "rare pair",            # below min_count
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(docs)],
                               "doc_id long, text string")
    out = bigram_pmi(df, min_count=5, top_n=10).collect()
    assert out, "expected collocations"
    ranked = [(r["t1"], r["t2"]) for r in out]
    assert ranked[0] == ("new", "york")
    assert ("rare", "pair") not in ranked
    # scores strictly ordered, ints
    scores = [r["pmi_q"] for r in out]
    assert scores == sorted(scores, reverse=True)
    assert all(isinstance(s, int) for s in scores)


def test_heavy_hitters_exact_under_eviction(spark):
    """Skewed stream with far more distinct values than counters: the
    sketch must still surface every true heavy hitter, and the verify
    pass returns exact counts in deterministic order."""
    from mssql_dataframe_spark.operators.text import heavy_hitters

    rows = (
        [("hot1",)] * 500 + [("hot2",)] * 300 + [("hot3",)] * 200
        + [(f"noise{i}",) for i in range(400)]
    )
    df = spark.createDataFrame(rows, "v string").repartition(8)
    out = heavy_hitters(df, col="v", k_track=8, top_n=3).collect()
    assert [(r["value"], r["cnt"]) for r in out] == [
        ("hot1", 500), ("hot2", 300), ("hot3", 200),
    ]


def test_heavy_hitters_tie_break_and_nulls(spark):
    from mssql_dataframe_spark.operators.text import heavy_hitters

    rows = [("b",)] * 5 + [("a",)] * 5 + [("c",)] * 2 + [(None,)] * 3
    df = spark.createDataFrame(rows, "v string")
    out = heavy_hitters(df, col="v", k_track=4, top_n=2).collect()
    assert [(r["value"], r["cnt"]) for r in out] == [("a", 5), ("b", 5)]


def test_bigram_logprob_ranks_transition_quality(spark):
    """Documents built from common tokens in IMPROBABLE order score
    below documents following the corpus's dominant transitions —
    the signal the unigram score cannot produce."""
    from mssql_dataframe_spark.operators.text import bigram_logprob

    fluent = "the cat sat on the mat " * 10
    salad = "mat the on sat cat the " * 10   # same tokens, odd order
    docs = [(i, fluent) for i in range(8)] + [(8, salad)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r["mean_logprob"] for r in bigram_logprob(df).collect()}
    assert out[8] < out[0]
    assert all(out[i] == out[0] for i in range(8))


def test_bigram_logprob_half_boundary_engine_exact(spark, tmp_path):
    """Pin an sf0.1 gate-sweep finding: the per-doc mean of quantized
    log terms is a LATTICE rational (micro-units over n_bigrams) whose
    6th decimal lands EXACTLY on .5 whenever qsum = n/2 (mod n) — and
    there Spark's and DuckDB's ROUND split on the same double. The
    floor-quantized form has no half boundary. This corpus is
    engineered onto the boundary: doc 1 ("x y z") has qterms
    -510826 and -693147 micro-units -> qsum=-1203973 (odd) over n=2
    -> mean -601986.5 exactly; both engines must now agree on
    floor = -0.601987."""
    rows = [
        (1, "x y z", "en", "t", 5),
        (2, "x y", "en", "t", 3),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )

    import duckdb

    import __spark_entry__ as entry

    got = {
        r["doc_id"]: (r["n_bigrams"], r["mean_logprob"])
        for r in entry.queries()["bigram_logprob_quality"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got[1] == (2, -0.601987)  # floor of the exact -601986.5

    con = duckdb.connect()
    con.execute(
        f"create view documents as select * from "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    oracle = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            entry.oracle_sql()["bigram_logprob_quality"]
        ).fetchall()
    }
    assert oracle == got


def test_apply_token_merges_order_and_overlap(spark):
    """Merges apply in rule order with left-to-right non-overlapping
    replacement; chained merges compose across rules, token counts
    reflect the fusion."""
    from mssql_dataframe_spark.operators.text import apply_token_merges

    df = spark.createDataFrame(
        [
            (1, "a b a b c"),
            (2, "a a a"),          # overlapping candidate pairs
            (3, "x y z"),          # rule 2 then rule 1 chains on result
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["tokenized"], r["n_tokens_before"], r["n_tokens_after"])
        for r in apply_token_merges(
            df, merges=[("a", "b"), ("y", "z"), ("x", "y+z")]
        ).collect()
    }
    assert out[1] == ("a+b a+b c", 5, 3)
    assert out[2] == ("a a a", 3, 3)   # "a a" not a rule: untouched
    assert out[3] == ("x+y+z", 3, 1)   # rule 3 fuses rule 2's output
    assert out[4] == ("", 0, 0)


def test_learn_token_merges_resegments_between_rounds(spark):
    # corpus engineered so round 2's winner ("a+b c") only EXISTS
    # after round 1 fused "a b" — one-shot bigram mining cannot learn
    # this table
    from pyspark.sql import Row
    from mssql_dataframe_spark.operators.text import learn_token_merges

    docs = spark.createDataFrame(
        [Row(doc_id=i, text="a b x c") for i in range(6)]
        + [Row(doc_id=9, text="a b")],
        "doc_id long, text string",
    )
    merges = learn_token_merges(docs, rounds=3)
    assert merges[0] == (0, "a", "b", 7)  # beats "b x"/"x c" at 6
    assert merges[1] == (1, "a+b", "x", 6)  # visible only post-fusion
    assert merges[2] == (2, "a+b+x", "c", 6)


def test_apply_merges_respects_token_boundaries(spark):
    """A merge rule (a, b) must fuse only the TOKEN pair — substrings
    of other tokens ("xa b", "a bc") must be untouched, and
    consecutive occurrences must each fuse."""
    df = spark.createDataFrame(
        [
            (1, "a b"),
            (2, "xa b"),
            (3, "a bc"),
            (4, "a b a b"),
            (5, "x a b y"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.tokenized
        for r in X.apply_token_merges(df, [("a", "b")]).collect()
    }
    assert out[1] == "a+b"
    assert out[2] == "xa b"
    assert out[3] == "a bc"
    assert out[4] == "a+b a+b"
    assert out[5] == "x a+b y"


def test_learn_merges_boundary_fuse_keeps_counts_consistent(spark):
    """The fuse step must be token-accurate like the pair counts: a
    corpus where 'a b' is frequent must not mutate 'xa b'."""
    rows = [(i, "a b") for i in range(5)] + [(100, "xa b")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = X.learn_token_merges(df, rounds=1)
    assert merges[0][1] == "a" and merges[0][2] == "b"
    assert merges[0][3] == 5  # 'xa b' is NOT an (a, b) pair
    applied = {
        r.doc_id: r.tokenized
        for r in X.apply_token_merges(
            df, [(merges[0][1], merges[0][2])]
        ).collect()
    }
    assert applied[100] == "xa b"


def test_chunk_documents_rejects_bad_sizes(spark):
    df = spark.createDataFrame([(1, "abcdef")], "doc_id long, text string")
    with pytest.raises(ValueError, match="non-negative"):
        X.chunk_documents(df, chunk_size=3, overlap=-1)
    with pytest.raises(ValueError, match="positive"):
        X.chunk_documents(df, chunk_size=0, overlap=0)


def test_quality_avg_word_len_ignores_padding(spark):
    df = spark.createDataFrame(
        [(1, "hi yo"), (2, "  hi yo  ")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in X.quality_features(df).collect()}
    assert out[1].avg_word_len == out[2].avg_word_len == 2.0


def test_token_count_and_lang_id_null_text(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "the cat and the dog in the")],
        "doc_id long, text string",
    )
    counts = {r.doc_id: r.n for r in df.select(
        "doc_id", X.token_count("text").alias("n")).collect()}
    assert counts[1] == 0 and counts[2] == 7
    lid = {r.doc_id: r for r in X.lang_id(df).collect()}
    assert lid[1].lang_pred == "und" and lid[1].stopword_hits == 0
    assert lid[2].lang_pred == "en"


def test_heavy_hitters_verify_threshold_raises_below_guarantee(spark):
    # 400 values, each appearing twice: rank-3 count 2 <= 400/(3+1)
    rows = [(f"v{i % 200}",) for i in range(400)]
    df = spark.createDataFrame(rows, "v string")
    with pytest.raises(ValueError, match="exactness threshold"):
        X.heavy_hitters(df, col="v", k_track=3, top_n=3,
                        verify_threshold=True)
    # generous k_track clears the threshold and returns exact rows
    out = X.heavy_hitters(
        df, col="v", k_track=300, top_n=3, verify_threshold=True
    ).collect()
    assert all(r.cnt == 2 for r in out)
