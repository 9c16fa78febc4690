"""Data-curation operators: repetition filters, decontamination,
PII redaction, mixture audit (operators/curation.py)."""

from __future__ import annotations

import pathlib
import re

import pyspark.sql.functions as F
import pytest

from mssql_dataframe_spark.operators import curation as C


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_word_ngrams_short_and_empty(spark):
    df = _docs(spark, [(0, "a b c"), (1, "a"), (2, ""), (3, "  ")])
    out = {
        r["doc_id"]: r["g"]
        for r in df.select(
            "doc_id", C.word_ngrams("text", 2).alias("g")
        ).collect()
    }
    assert out[0] == ["a b", "b c"]
    assert out[1] == [] and out[2] == [] and out[3] == []


def test_text_rules_take_names_and_columns(spark):
    """The four text rules of operators/text.py (tokens, lowercased
    tokens, word n-grams, char k-grams) are one SQL rule each: a column
    name is quoted into it, any other Column enters through a lambda —
    both give the same values. NULL text gives NULL; blank text, or
    text shorter than n tokens or k characters, an empty array."""
    from mssql_dataframe_spark.operators import text as X

    assert C.word_ngrams is X.word_ngrams
    df = _docs(spark, [(0, " A  b C "), (1, None), (2, ""), (3, "  "),
                       (4, "Xy"), (5, "x Y")])
    got = {
        r["doc_id"]: tuple(r)[1:]
        for r in df.select(
            "doc_id",
            X.tokens("text"),
            X.tokens(F.col("text")),
            X.lower_tokens("text"),
            X.lower_tokens(F.upper("text")),
            X.word_ngrams("text", 2),
            X.word_ngrams(F.trim("text"), 2),
            X.shingles("text", 3),
            X.shingles(F.col("text"), 3),
        ).collect()
    }
    assert got[0] == (
        (["A", "b", "C"],) * 2
        + (["a", "b", "c"],) * 2
        + (["A b", "b C"],) * 2
        + ([" A ", "A  ", "  b", " b ", "b C", " C "],) * 2
    )
    assert got[1] == (None,) * 8
    assert got[2] == ([],) * 8
    assert got[3] == ([],) * 8
    # fewer than n tokens and fewer than k characters
    assert got[4] == (["Xy"],) * 2 + (["xy"],) * 2 + ([],) * 4
    assert got[5] == (
        (["x", "Y"],) * 2 + (["x", "y"],) * 2 + (["x Y"],) * 2 + (["x Y"],) * 2
    )


def _call_args(src: str, open_paren: int) -> str:
    """The source text between the parenthesis at ``open_paren`` and
    its match."""
    depth = 0
    for i in range(open_paren, len(src)):
        depth += {"(": 1, ")": -1}.get(src[i], 0)
        if depth == 0:
            return src[open_paren + 1:i]
    return src[open_paren + 1:]


def _tokenizer_copies(package: pathlib.Path) -> list[str]:
    """``file: form`` for each Spark-side tokenizer or character-gram
    start rule written outside ``operators/text.py``: a ``split`` on
    ``\\s+``, a ``transform`` over ``tokens(...)``, or a
    ``sequence(1, length(...`` in SQL or Column form. DuckDB's
    ``regexp_split_to_array`` (the oracles' engine) is not a match."""
    found = []
    for path in sorted(package.rglob("*.py")):
        rel = path.relative_to(package).as_posix()
        if rel == "operators/text.py":
            continue
        src = path.read_text()
        for m in re.finditer(r"(?<!\w)split\(", src):
            if re.search(r"\\+s\+", _call_args(src, m.end() - 1)):
                found.append(f"{rel}: split on \\s+")
        if re.search(r"transform\(\s*(?:\w+\.)*tokens\(", src):
            found.append(f"{rel}: transform(tokens(...))")
        if re.search(
            r"sequence\(\s*(?:F\.lit\(\s*1\s*\)|1)\s*,\s*(?:F\.)?length\(", src
        ):
            found.append(f"{rel}: sequence(1, length(...))")
    return found


def test_one_tokenizer_form():
    """Whitespace tokenizing, lowercasing tokens and character-gram
    start positions happen only through the rules of
    operators/text.py."""
    import mssql_dataframe_spark

    package = pathlib.Path(mssql_dataframe_spark.__file__).parent
    assert _tokenizer_copies(package) == []


def test_repetition_flags_repetitive_doc(spark):
    df = _docs(
        spark,
        [
            (0, "spam ham " * 50),  # one bigram dominates
            (1, "all distinct words here no repeats at"),
            (2, ""),
        ],
    )
    out = {r["doc_id"]: r for r in C.repetition_features(df).collect()}
    assert out[0]["repetition_flag"] is True
    assert out[0]["top_bigram_char_frac"] > 0.2
    assert out[0]["dup_word_frac"] > 0.9
    assert out[1]["repetition_flag"] is False
    assert out[1]["dup_word_frac"] == 0.0
    # gram-less doc keeps zero metrics (left-join spine)
    assert out[2]["top_bigram_char_frac"] == 0.0
    assert out[2]["dup_trigram_char_frac"] == 0.0


def test_decontaminate_flags_overlap_only(spark):
    bench = _docs(spark, [(100, "the quick brown fox jumps")])
    train = _docs(
        spark,
        [
            (0, "xx the quick brown yy"),  # shares "the quick brown"
            (1, "totally different words entirely"),
            (2, "quick brown fox and the quick brown dog"),  # 2 shared grams
        ],
    )
    out = {
        r["doc_id"]: r["n_overlapping_grams"]
        for r in C.decontaminate(train, bench, n=3).collect()
    }
    # doc0 shares "the quick brown"; doc2 shares "the quick brown" and
    # "quick brown fox"; doc1 is clean and must not appear
    assert out == {0: 1, 2: 2}


def test_redact_pii_cases(spark):
    df = _docs(
        spark,
        [
            (0, "mail a@b.co and c.d+e@f-g.org now"),
            (1, "+1-555-0100-9999 called from 192.168.0.1"),
            (2, "no pii here"),
            (3, "ip 10.0.0.1 twice 10.0.0.2"),
        ],
    )
    r = C.redact_pii("text")
    out = {
        row["doc_id"]: row
        for row in df.select(
            "doc_id", r["redacted"].alias("t"), r["n_emails"].alias("e"),
            r["n_phones"].alias("p"), r["n_ips"].alias("i")
        ).collect()
    }
    assert out[0]["t"] == "mail <EMAIL> and <EMAIL> now"
    assert out[0]["e"] == 2 and out[0]["p"] == 0 and out[0]["i"] == 0
    assert out[1]["t"] == "<PHONE> called from <IP>"
    assert out[1]["p"] == 1 and out[1]["i"] == 1
    assert out[2]["t"] == "no pii here"
    assert out[3]["i"] == 2 and "<IP> twice <IP>" in out[3]["t"]


def test_corpus_mixture_shares_sum_to_one(spark):
    df = spark.createDataFrame(
        [(0, "a b", "s1", "en"), (1, "c d e", "s1", "fr"), (2, "f", "s2", "en")],
        "doc_id bigint, text string, source string, lang string",
    )
    rows = C.corpus_mixture(df).collect()
    assert len(rows) == 3
    # shares are rounded to 6 places each, so the sum is 1 +- n*5e-7
    assert abs(sum(r["doc_share"] for r in rows) - 1.0) < 1e-5
    tot = {(r["source"], r["lang"]): r["total_tokens"] for r in rows}
    assert tot[("s1", "fr")] == 3


def test_quality_filter_verdicts(spark):
    good = "the quick brown fox jumps over the lazy dog near the river bank"
    df = spark.createDataFrame(
        [
            (0, good),                       # passes both gates
            (1, "spam " * 40),               # repetitive -> dropped
            (2, "ok"),                       # too few words -> dropped
            (3, ""),                         # empty -> dropped
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in C.quality_filter(df).collect()}
    assert len(out) == 4  # every doc gets a verdict row
    assert out[0]["keep"] and out[0]["quality_flag"] and not out[0]["repetition_flag"]
    assert out[1]["repetition_flag"] and not out[1]["keep"]
    assert not out[2]["quality_flag"] and not out[2]["keep"]
    assert not out[3]["keep"] and out[3]["n_words"] == 0


def test_quality_weighted_sample_rates_and_floor(spark):
    """A source's keep rate tracks its quality pass rate; the floor
    keeps terrible sources at floor_bp instead of zero; verdicts are
    content-keyed (stable across runs)."""
    from mssql_dataframe_spark.operators.curation import (
        quality_weighted_sample,
    )

    good = ("This is a perfectly reasonable sentence with many words "
            "and ordinary punctuation, repeated nowhere else at all.")
    rows = []
    # "clean" source: unique wordy docs -> high pass rate
    for i in range(40):
        rows.append((i, f"{good} Variant number {i} adds fresh words "
                        f"token{i} extra{i} more{i}.", "clean"))
    # "spam" source: degenerate one-word docs -> fails the gate
    for i in range(40, 80):
        rows.append((i, "buy " * 3, "spam"))
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")

    out = quality_weighted_sample(df, floor_bp=1000).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    # clean keeps most docs at ~its pass rate; spam floored at 10%
    assert all(r["keep_bp"] == 1000 for r in by_src.get("spam", []))
    assert len(by_src.get("spam", [])) <= 12
    clean = by_src.get("clean", [])
    assert clean and clean[0]["keep_bp"] >= 9000
    assert len(clean) >= 30
    # deterministic: second run identical
    again = quality_weighted_sample(df, floor_bp=1000).collect()
    assert {r["doc_id"] for r in again} == {r["doc_id"] for r in out}


def test_quality_filter_custom_id_col(spark):
    from mssql_dataframe_spark.operators.curation import quality_filter

    df = spark.createDataFrame(
        [(1, "the cat sat on the mat today with the dog")],
        "id long, text string",
    )
    out = quality_filter(df, id_col="id").collect()
    assert out[0].id == 1 and out[0].keep is True


def test_per_source_cap_guards_work_and_keep_cols(spark):
    import pytest as _pytest

    from mssql_dataframe_spark.operators.curation import per_source_cap

    df = spark.createDataFrame(
        [(1, "a", 5)], "doc_id long, source string, __rn int"
    )
    with _pytest.raises(ValueError, match="__rn"):
        per_source_cap(df, cap=1)
    df2 = spark.createDataFrame(
        [(1, "a", True)], "doc_id long, source string, keep boolean"
    )
    with _pytest.raises(ValueError, match="keep"):
        per_source_cap(df2, cap=1, keep_col="keep")


def test_stratified_sample_empty_config_drops_all(spark):
    from mssql_dataframe_spark.operators.training import (
        stratified_sample_hash,
    )

    df = spark.createDataFrame(
        [(1, "web", "x")], "doc_id long, source string, text string"
    )
    assert stratified_sample_hash(df, "source", {}).count() == 0


def test_perplexity_buckets_keeps_null_lang_group(spark):
    from mssql_dataframe_spark import cache
    from mssql_dataframe_spark.operators.curation import perplexity_buckets

    rows = [(i, "common words here always", "en" if i < 6 else None)
            for i in range(9)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    with cache.scope():
        out = perplexity_buckets(df).localCheckpoint(eager=True).collect()
    assert {r.doc_id for r in out} == set(range(9))
    nulls = [r for r in out if r.lang is None]
    assert len(nulls) == 3 and {r.ppl_bucket for r in nulls} == {1, 2, 3}


def test_quality_flag_col_matches_feature_frame(spark):
    """quality_flag_col (the row-local expression quality_filter fuses
    into its spine scan) must stay value-identical to the flag the
    quality_features frame publishes — including the rounded-then-
    thresholded edge (avg_word_len exactly 2.0/12.0, punct exactly
    0.2) and NULL/blank text."""
    from pyspark.sql import functions as F

    from mssql_dataframe_spark.operators.text import (
        quality_features,
        quality_flag_col,
    )

    rows = [
        (1, "the cat sat on mat"),           # normal -> True
        (2, "a b c d e"),                    # avg_word_len 1 -> False
        (3, None),                           # NULL text
        (4, ""),                             # blank
        (5, "aa bb cc dd ee"),               # avg exactly 2.0 -> True
        (6, "...... words here today maybe"),# punct heavy
        (7, "x" * 13 + " " + "y" * 13 + " z q w"),  # long words
        (8, " ".join(["abcdefghijkl"] * 5)),  # avg exactly 12.0 -> True
        (9, "aa. bb. cc. dd. ee. fffff"),   # punct exactly 0.2 -> True
        (10, "aa. bb. cc. dd. ee. ffff"),   # punct 5/24 -> False
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    q = quality_features(df).select(
        "doc_id", F.col("quality_flag").alias("a")
    )
    f = df.select("doc_id", quality_flag_col("text").alias("b"))
    bad = q.join(f, "doc_id").filter(
        ~F.col("a").eqNullSafe(F.col("b"))
    ).count()
    assert bad == 0


def test_quality_filter_fused_equals_composition(spark):
    """The fused single-scan quality_filter must produce exactly the
    frame the two-scan composition (quality_features ⋈
    repetition_features) produced."""
    from pyspark.sql import functions as F

    from mssql_dataframe_spark.operators.curation import (
        quality_filter,
        repetition_features,
    )
    from mssql_dataframe_spark.operators.text import quality_features

    rows = [
        (1, "the cat sat on the mat and the cat sat again"),
        (2, "spam spam spam spam spam spam spam spam"),
        (3, "unique words compose this entirely normal document today"),
        (4, ""),
        (5, "a b a b a b a b a b a b"),
        # the quality flag's NULL and boundary rows
        (6, None),
        (7, "aa bb cc dd ee"),                # avg word length exactly 2.0
        (8, " ".join(["abcdefghijkl"] * 5)),  # avg exactly 12.0
        (9, "aa. bb. cc. dd. ee. fffff"),     # punct ratio exactly 0.2
        (10, "aa. bb. cc. dd. ee. ffff"),     # punct ratio 5/24
        (11, "  padded   text with enough words  "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    old = (
        quality_features(df).select("doc_id", "n_words", "quality_flag")
        .join(
            repetition_features(df).select("doc_id", "repetition_flag"),
            "doc_id",
        )
        .withColumn(
            "keep",
            (F.col("quality_flag") & ~F.col("repetition_flag")).cast(
                "boolean"
            ),
        )
    )
    new = quality_filter(df)
    assert new.columns == [
        "doc_id", "n_words", "quality_flag", "repetition_flag", "keep",
    ]
    assert old.exceptAll(new).isEmpty() and new.exceptAll(old).isEmpty()
