"""Text-analysis operators for large-scale training-data pipelines.

All operators are pure built-in-function column expressions (JVM-side,
whole-stage codegen) — no row-at-a-time Python UDFs — so they scan at
full Parquet speed and scale linearly with executors. ONE deliberate
exception: ``heavy_hitters`` runs its Misra-Gries sketch pass as an
Arrow-batched ``mapInPandas`` (the per-partition counter state has no
built-in expression form); everything else, including its exact
verification phase, stays codegen. Designed for the
``documents(doc_id, text, lang, source, n_chars)`` table shape.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Compact multi-language stopword lists for the n-gram/stopword
# language-ID heuristic. Deliberately small and deterministic.
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "for", "on"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "los"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "ein", "zu", "den"],
    "fr": ["le", "la", "de", "et", "est", "un", "une", "pour", "dans", "que"],
}


def _sql_over(build: Callable[[str], str], col: str | Column) -> Column:
    """The SQL expression ``build(input_sql)`` over a column name or a
    Column, so each text rule is written once, as SQL. A name is
    quoted into the SQL text (one ``expr``: a few py4j round trips,
    where a Column operator tree costs one or more per operator).
    Spark cannot splice a Column into SQL text, so a Column enters as
    the variable of a one-element ``transform`` lambda."""
    if isinstance(col, str):
        return F.expr(build(f"`{col}`"))
    lam = F.expr(f"__in -> {build('__in')}")
    return F.call_function("transform", F.array(col), lam)[0]


def _tokens_sql(text: str) -> str:
    """Whitespace tokens of the SQL expression ``text``: empty/blank
    text -> empty array, NULL -> NULL."""
    t = f"trim({text})"
    return (
        f"CASE WHEN length({t}) = 0 THEN CAST(array() AS array<string>) "
        f"ELSE split({t}, '\\\\s+') END"
    )


def tokens(col: str | Column) -> Column:
    """Whitespace tokenization; empty/blank text -> empty array."""
    return _sql_over(_tokens_sql, col)


def token_count(col: str | Column) -> Column:
    """Whitespace token count; NULL text counts 0 (guarded against
    both ANSI size(NULL)=NULL and the legacy sizeOfNull=-1
    convention — negative token counts would poison any sum)."""
    return F.greatest(
        F.lit(0), F.coalesce(F.size(tokens(col)), F.lit(0))
    ).cast("bigint")


def bpe_ish_token_count(col: str | Column) -> Column:
    """BPE-ish token estimate: count of word/number/punctuation chunks
    via regex, a cheap proxy for subword token counts."""
    c = F.col(col) if isinstance(col, str) else col
    pieces = F.regexp_extract_all(c, F.lit(r"([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])"), 1)
    return F.size(pieces).cast("bigint")


def stopword_ratio(col: str | Column, lang: str = "en") -> Column:
    """Fraction of tokens that are stopwords of ``lang``."""
    toks = tokens(col)
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    # count every occurrence (not just distinct hits)
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def _quality_flag_sql(text: str, toks: str) -> str:
    """The :func:`quality_features` verdict over the SQL expressions
    ``text`` and ``toks`` (its :func:`tokens`): thresholds the same
    ROUNDED intermediates the feature frame publishes, rounding first
    and then comparing. ``D`` literals are DOUBLE, as ``lit(float)``
    is; a bare ``0.2`` would be DECIMAL."""
    n = f"size({toks})"
    avg_wl = (
        f"CASE WHEN {n} > 0 THEN (length(trim({text})) - ({n} - 1)) / {n} "
        "ELSE 0.0D END"
    )
    punct = f"length(regexp_replace({text}, '[^\\\\.,;:!\\\\?]', ''))"
    return (
        f"CAST({n} >= 5"
        f" AND round(CAST({avg_wl} AS DOUBLE), 6) BETWEEN 2 AND 12"
        f" AND round(CAST({punct} / greatest(length({text}), 1) AS DOUBLE), 6)"
        " <= 0.2D AS BOOLEAN)"
    )


def quality_flag_col(text_col: str = "text") -> Column:
    """The :func:`quality_features` verdict as a standalone ROW-LOCAL
    expression, so composed gates can fold it into an existing
    document scan instead of materializing and joining a second
    feature frame. Value-identical to the ``quality_flag`` column
    (pinned by tests against the feature-frame flag);
    ``curation.quality_filter`` evaluates the same SQL over its
    once-tokenized column."""
    t = f"`{text_col}`"
    return F.expr(_quality_flag_sql(t, _tokens_sql(t)))


def quality_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Length/word/character-class quality signals per document.

    Columns: n_chars_calc, n_words, avg_word_len, punct_ratio,
    digit_ratio, stopword_ratio_en, quality_flag.
    """
    toks = tokens(text_col)
    c = F.col(text_col)
    n_chars = F.length(c)
    n_words = F.size(toks)
    punct = F.length(F.regexp_replace(c, r"[^\.,;:!\?]", ""))
    digits = F.length(F.regexp_replace(c, r"[^0-9]", ""))
    # word length from the TRIMMED char count: tokens are trimmed, so
    # raw length() would let leading/trailing padding inflate the
    # metric and flip quality_flag on otherwise-normal documents.
    # (Interior runs of whitespace still count once per extra char —
    # single-space separation is the corpus-normal case.)
    avg_wl = F.when(
        n_words > 0,
        (F.length(F.trim(c)) - (n_words - 1)) / n_words,
    ).otherwise(F.lit(0.0))
    swr = stopword_ratio(text_col, "en")
    out = df.select(
        id_col,
        n_chars.cast("bigint").alias("n_chars_calc"),
        n_words.cast("bigint").alias("n_words"),
        F.round(avg_wl.cast("double"), 6).alias("avg_word_len"),
        F.round((punct / F.greatest(n_chars, F.lit(1))).cast("double"), 6).alias(
            "punct_ratio"
        ),
        F.round((digits / F.greatest(n_chars, F.lit(1))).cast("double"), 6).alias(
            "digit_ratio"
        ),
        F.round(swr.cast("double"), 6).alias("stopword_ratio_en"),
    )
    return out.withColumn(
        "quality_flag",
        (
            (F.col("n_words") >= 5)
            & (F.col("avg_word_len") >= 2)
            & (F.col("avg_word_len") <= 12)
            & (F.col("punct_ratio") <= 0.2)
        ).cast("boolean"),
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-voting language ID: argmax over per-language stopword
    hit counts; 'und' (undetermined) when no stopwords hit.

    Deterministic tie-break: language name ascending.
    """
    toks = F.transform(tokens(text_col), lambda t: F.lower(t))
    scores = []
    for lang_name in sorted(STOPWORDS):
        sw = F.array(*[F.lit(w) for w in STOPWORDS[lang_name]])
        score = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
        scores.append(F.struct(score.alias("score"), F.lit(lang_name).alias("lang")))
    arr = F.array(*scores)
    max_score = F.array_max(arr)["score"]
    # among max-score languages pick the lexicographically smallest —
    # a deterministic tie-break both Spark and the SQL oracle share
    winners = F.filter(arr, lambda s: s["score"] == max_score)
    lang_col = F.when(max_score > 0, F.array_min(winners)["lang"]).otherwise(
        F.lit("und")
    )
    return df.select(
        "doc_id",
        lang_col.alias("lang_pred"),
        # NULL text scores NULL through size(filter(NULL)); 'und'
        # means "no stopwords hit", so hits must read 0, not NULL
        F.coalesce(max_score, F.lit(0)).cast("bigint").alias(
            "stopword_hits"
        ),
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 3,
) -> DataFrame:
    """Top-k TF-IDF terms per document.

    explode lowercased tokens -> (doc, term) counts (tf) -> document
    frequency per term (df) -> smoothed idf = ln((N+1)/(df+1)) ->
    rank tf*idf per doc. Two shuffles (doc-term agg, term agg) plus the
    per-doc window — all codegen'd; the term-frequency table is
    broadcast back. Ties break lexicographically.
    """
    from pyspark.sql.window import Window

    # N rides a broadcast single-row cross join (the unigram_logprob
    # shape) instead of an eager distinct().count() action — keeps
    # the builder lazy and avoids scanning df twice when uncached
    n_docs_row = df.agg(
        F.count_distinct(F.col(id_col)).alias("__n_docs")
    )
    toks = df.select(
        F.col(id_col),
        F.explode(F.transform(tokens(text_col), F.lower)).alias("term"),
    )
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.countDistinct(id_col).alias("df"))
    idf = dfreq.crossJoin(F.broadcast(n_docs_row)).withColumn(
        "idf",
        F.log((F.col("__n_docs") + 1.0) / (F.col("df") + 1.0)),
    ).drop("__n_docs")
    scored = tf.join(F.broadcast(idf), "term").withColumn(
        "tfidf", F.round(F.col("tf") * F.col("idf"), 8)
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            id_col,
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            "tfidf",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def unigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-self-trained unigram LM quality score — the CCNet/
    RedPajama perplexity-proxy filter: score each document by the mean
    log-probability of its tokens under the corpus's OWN unigram
    distribution. Gibberish / rare-token-heavy documents score low;
    fluent common-vocabulary text scores high. Returns
    (id, n_tokens, mean_logprob); empty/NULL-text documents drop out
    (no tokens to score).

    Determinism: per-token ``ln(tf)`` is quantized to 1e-6 and summed
    as BIGINT (exact in any order/partitioning), so the aggregate
    cannot drift with Spark's partition-order-dependent double
    summation; only one final division/subtraction runs in doubles.

    Scale shape: token frequencies are ONE shuffle with map-side
    partial counts; the probe join is keyed on the token (AQE handles
    stop-word skew); corpus total rides a broadcast single-row cross
    join. Everything is built-in expressions — full codegen, no UDFs.
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("__t")
    ).select(id_col, F.lower(F.col("__t")).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count("*").alias("tf"))
    total = freq.agg(F.sum("tf").cast("double").alias("__corpus_n"))
    qlp = _qln(F.col("tf"))
    per_doc = (
        toks.join(freq, "tok")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum(qlp).alias("__qsum"),
        )
    )
    # Same FLOOR-quantized form as bigram_logprob (see the comment
    # there): qsum/n is a lattice rational whose 6th decimal can land
    # exactly on a ROUND half-boundary, where engine ROUND semantics
    # split. The corpus term is quantized to micro-units once (a
    # single ROUND of a continuous ln value — its half-boundary risk
    # is measure-zero, unlike the lattice), then everything is integer
    # micro-units until one exact final division.
    qcorp = F.round(F.log(F.col("__corpus_n")) * F.lit(1e6)).cast(
        "bigint"
    )
    return per_doc.crossJoin(F.broadcast(total)).select(
        F.col(id_col),
        "n_tokens",
        (
            (
                F.floor(
                    F.col("__qsum").cast("double") / F.col("n_tokens")
                )
                - qcorp
            ).cast("double")
            / F.lit(1e6)
        ).alias("mean_logprob"),
    )


def fingerprint(col: str | Column) -> Column:
    """Deterministic document fingerprint (md5 of normalized text)."""
    c = F.col(col) if isinstance(col, str) else col
    normalized = F.lower(F.regexp_replace(F.trim(c), r"\s+", " "))
    return F.md5(normalized)


def shingles(col: str | Column, k: int = 8) -> Column:
    """Character k-gram shingle array (positions 1..len-k+1), built with
    ``sequence`` + ``transform`` — pure JVM expressions."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.greatest(F.length(c) - F.lit(k - 1), F.lit(0))
    return F.when(n == 0, F.array().cast("array<string>")).otherwise(
        F.transform(F.sequence(F.lit(1), n), lambda i: F.substring(c, i, F.lit(k)))
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 200,
    overlap: int = 50,
) -> DataFrame:
    """Split documents into fixed-size character windows with overlap —
    the standard context-window packing precursor (long doc -> training
    chunks). Beyond the reference (no text ops there at all).

    Chunk ``i`` starts at character ``1 + i*stride`` (1-based,
    ``stride = chunk_size - overlap``) and spans ``chunk_size`` chars;
    starts are generated while they land inside the document, so every
    character belongs to at least one chunk and consecutive chunks
    share ``overlap`` characters.

    Scale shape: ``sequence`` + ``explode`` is pure JVM row fan-out —
    no shuffle at all (narrow transformation); output partitioning
    follows the input, so a downstream ``repartition`` is only needed
    if chunk_size << doc length (fan-out factor large).
    """
    if chunk_size <= 0:
        raise ValueError("chunk_size must be positive")
    if overlap < 0:
        # a negative overlap widens the stride past chunk_size and
        # silently DROPS the characters between chunks, violating the
        # every-char-covered invariant
        raise ValueError("overlap must be non-negative")
    if overlap >= chunk_size:
        raise ValueError("overlap must be smaller than chunk_size")
    stride = chunk_size - overlap
    c = F.col(text_col)
    n = F.length(c)
    # last chunk index: floor((len-1)/stride); empty docs get no chunk
    idx = F.explode(
        F.sequence(F.lit(0), F.floor((n - 1) / F.lit(stride)).cast("int"))
    ).alias("chunk_idx")
    return (
        df.filter(n > 0)
        .select(F.col(id_col), c.alias("__t"), idx)
        .select(
            id_col,
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.substring(
                F.col("__t"),
                (F.col("chunk_idx") * stride + 1).cast("int"),
                F.lit(chunk_size),
            ).alias("chunk_text"),
        )
        .withColumn("chunk_len", F.length("chunk_text").cast("bigint"))
    )


def char_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_digits: int = 6,
) -> DataFrame:
    """Per-document Shannon entropy (bits) of the character
    distribution — a classic cheap quality signal: near-zero entropy
    flags degenerate/repeated-character documents, unusually high
    entropy flags binary-ish noise.

    Scale shape: one explode (narrow) + one (doc, char) hash aggregate
    + one per-doc aggregate — two shuffles on keys that are naturally
    high-cardinality, so no skew; all arithmetic is JVM-side.
    Entropy is rounded (default 6 dp) so results are portable across
    engines that sum the per-character terms in different orders.
    """
    c = F.col(text_col)
    chars = (
        df.filter(F.length(c) > 0)
        .select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length(c)),
                    lambda i: F.substring(c, i, F.lit(1)),
                )
            ).alias("ch"),
        )
    )
    counts = chars.groupBy(id_col, "ch").agg(F.count("*").alias("cnt"))
    # H = -sum((c/N) log2(c/N)) = log2(N) - sum(c*log2(c))/N: one
    # per-doc aggregate instead of a window-over-doc + aggregate.
    n = F.sum("cnt")
    return counts.groupBy(id_col).agg(
        F.round(
            F.log2(n) - F.sum(F.col("cnt") * F.log2("cnt")) / n, round_digits
        ).alias("char_entropy"),
        F.count("*").cast("bigint").alias("distinct_chars"),
    )


def _qln(c: Column) -> Column:
    """ln of an integer count quantized to 1e-6 as int64 — the
    order-independent exact-sum trick shared by unigram_logprob,
    bigram_pmi, and bigram_logprob (one definition so the
    quantization can never drift from the SQL oracles)."""
    return F.round(F.log(c.cast("double")) * 1e6).cast("long")


def _bigram_pairs(base: DataFrame, *extra_cols: str) -> DataFrame:
    """(…extra_cols, t1, t2) adjacent-pair rows from a frame with a
    token-array column ``tk`` (>= 2 tokens) — one array zip, no
    self-join; shared by bigram_pmi and bigram_logprob."""
    return base.select(
        *extra_cols,
        F.explode(
            F.arrays_zip(
                F.slice("tk", 1, F.size("tk") - 1).alias("t1"),
                F.slice("tk", 2, F.size("tk") - 1).alias("t2"),
            )
        ).alias("p"),
    ).select(
        *extra_cols, F.col("p.t1").alias("t1"), F.col("p.t2").alias("t2")
    )


def bigram_pmi(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_n: int = 50,
) -> DataFrame:
    """Top collocations by pointwise mutual information — the classic
    corpus-analysis pass for multi-word expressions ("new york",
    "machine learning") used to build tokenizer merge candidates and
    phrase vocabularies.

    PMI = ln( (c_xy/B) / ((c_x/U)(c_y/U)) ) for adjacent lowercased
    token pairs, expanded to ln-of-integer-count terms and quantized
    ``round(ln(k)*1e6)`` so the score is an ORDER-INDEPENDENT int64
    sum — same trick as unigram_logprob; engine and oracle rank
    identically, and the (pmi, tok1, tok2) sort key is unique so the
    top-N cut is deterministic.

    Scale shape: bigrams come from one array zip (no self-join); pair
    and unigram counts are two combiner aggregations; U and B are
    one-row aggregates broadcast into the scoring join; the unigram
    side joins twice by token (broadcast when the vocabulary is small,
    shuffle otherwise — Catalyst/AQE picks). Nothing holds more than
    the vocabulary in any single task.
    """
    toks = F.transform(tokens(text_col), lambda t: F.lower(t))
    base = df.select(toks.alias("tk")).filter(F.size("tk") >= 2)
    pairs = _bigram_pairs(base)

    uni = (
        df.select(F.explode(toks).alias("tok"))
        .groupBy("tok").agg(F.count("*").alias("c"))
    )
    big = pairs.groupBy("t1", "t2").agg(F.count("*").alias("c_xy"))
    totals = uni.agg(
        F.sum("c").alias("U")
    ).crossJoin(big.agg(F.sum("c_xy").alias("B")))

    scored = (
        big.filter(F.col("c_xy") >= min_count)
        .join(uni.select(F.col("tok").alias("t1"),
                         F.col("c").alias("c_x")), "t1")
        .join(uni.select(F.col("tok").alias("t2"),
                         F.col("c").alias("c_y")), "t2")
        .crossJoin(F.broadcast(totals))
        .select(
            "t1", "t2", F.col("c_xy").alias("pair_count"),
            (
                _qln(F.col("c_xy")) + 2 * _qln(F.col("U"))
                - _qln(F.col("B")) - _qln(F.col("c_x")) - _qln(F.col("c_y"))
            ).alias("pmi_q"),
        )
    )
    return scored.orderBy(
        F.col("pmi_q").desc(), "t1", "t2"
    ).limit(top_n)


def heavy_hitters(
    df: DataFrame,
    col: str = "v",
    k_track: int = 64,
    top_n: int = 20,
    verify_threshold: bool = False,
) -> DataFrame:
    """Top-N frequent values via a distributed Misra-Gries sketch +
    exact verification — the corpus-vocabulary shape where a full
    ``GROUP BY value`` would build a hash table over billions of
    distinct keys just to keep twenty.

    Phase 1 (sketch, one pass, no shuffle): each partition runs
    Misra-Gries with ``k_track`` counters over its rows inside
    ``mapInPandas`` and emits only its surviving counters. Pigeonhole
    guarantee: any value with global count > N/(k_track+1) survives in
    at least one partition summary, so the candidate union contains
    every such heavy hitter. Phase 2 (verify): exact counts for the
    candidate set only — the count aggregation's key set is the tiny
    candidate union, never the full vocabulary.

    EXACTNESS CONTRACT: the returned top-N is provably exact iff the
    Nth-ranked count exceeds N_total/(k_track+1) — then every value
    that could displace a returned row is guaranteed to be a
    candidate. Below that threshold the tail of the ranking is
    partition-dependent best-effort. ``verify_threshold=True`` runs
    the check eagerly (one extra count job) and raises with the
    k_track needed instead of silently returning an unproven tail;
    the sketch itself is the one deliberate Python (Arrow-batched
    ``mapInPandas``) exception to this module's built-ins-only rule.
    """
    import pandas as pd_

    src = df.select(F.col(col).cast("string").alias("v")).filter(
        F.col("v").isNotNull()
    )

    def mg(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for v in pdf["v"]:
                if v in counters:
                    counters[v] += 1
                elif len(counters) < k_track:
                    counters[v] = 1
                else:
                    dead = []
                    for key in counters:
                        counters[key] -= 1
                        if counters[key] == 0:
                            dead.append(key)
                    for key in dead:
                        del counters[key]
        if counters:
            yield pd_.DataFrame(
                {"v": list(counters), "w": list(counters.values())}
            )

    cands = (
        src.mapInPandas(mg, "v string, w long")
        .groupBy("v").agg(F.sum("w").alias("w"))
        .select("v")
    )
    exact = (
        src.join(F.broadcast(cands), "v")
        .groupBy("v").agg(F.count("*").alias("cnt"))
    )
    result = (
        exact.orderBy(F.col("cnt").desc(), F.col("v"))
        .limit(top_n)
        .select(F.col("v").alias("value"), "cnt")
    )
    if verify_threshold:
        rows = result.collect()
        n_total = src.count()
        nth = rows[-1]["cnt"] if rows else 0
        if n_total > 0 and (not rows or nth * (k_track + 1) <= n_total):
            raise ValueError(
                f"heavy_hitters: the rank-{top_n} count {nth} does "
                f"not clear the Misra-Gries exactness threshold "
                f"N/(k_track+1) = {n_total}/{k_track + 1} — the tail "
                "of the ranking is unproven; raise k_track to at "
                f"least {n_total // max(nth, 1)}"
            )
        return df.sparkSession.createDataFrame(
            rows, "value string, cnt bigint"
        )
    return result


def bigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-self-trained BIGRAM LM quality score — the sharper
    CCNet-style perplexity proxy: each document's mean
    ``ln P(w_i | w_{i-1})`` under add-one-smoothed conditional
    probabilities ``(c(prev,w)+1) / (c(prev)+V)`` estimated from the
    corpus itself. Catches word-salad documents whose TOKENS are all
    common but whose TRANSITIONS are improbable — exactly what the
    unigram score cannot see.

    Determinism: both log terms are ln-of-integer quantities
    (``c2+1`` and ``c1+V``) quantized to 1e-6 int64 before the
    per-document sum, so the aggregate is order-independent and
    engine-exact; the single final division runs in doubles.

    Scale shape: bigrams from one array zip (no self-join), two
    combiner count aggregations, the vocabulary size as a broadcast
    one-row cross join, probe joins keyed on the bigram/context —
    everything built-in expressions, no UDFs, same cost class as the
    unigram scorer plus one join.
    """
    toks = F.transform(tokens(text_col), lambda t: F.lower(t))
    base = df.select(F.col(id_col), toks.alias("tk")).filter(
        F.size("tk") >= 2
    )
    pairs = _bigram_pairs(base, id_col)

    big = pairs.groupBy("t1", "t2").agg(F.count("*").alias("c2"))
    ctx = big.groupBy("t1").agg(F.sum("c2").alias("c1"))
    vocab = (
        df.select(F.explode(toks).alias("tok"))
        .agg(F.count_distinct("tok").cast("long").alias("v"))
    )

    scored = (
        pairs.join(big, ["t1", "t2"])
        .join(ctx, "t1")
        .crossJoin(F.broadcast(vocab))
        .select(
            id_col,
            (_qln(F.col("c2") + 1) - _qln(F.col("c1") + F.col("v")))
            .alias("qterm"),
        )
    )
    # FLOOR-quantized mean, not ROUND: qsum/n is a LATTICE rational
    # (micro-units over n), so its 6th decimal lands EXACTLY on .5
    # whenever qsum = n/2 (mod n) — ~1/n of documents — and there the
    # two engines' ROUND implementations split on the same double
    # (Spark rounds the binary expansion's exact decimal HALF_UP;
    # DuckDB multiplies by 1e6, snapping to .5, then rounds half away
    # from zero). FLOOR has no half boundary, and the true fraction is
    # k/n >= 1/n away from the next integer — far beyond double error
    # — so the floored micro-unit mean is engine-exact by construction.
    # (Found by the r14 sf0.1 sweep: sf0.01's 500 docs dodged the
    # boundary, sf0.1's 5000 hit it.)
    return scored.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        (
            F.floor(F.sum("qterm").cast("double") / F.count("*"))
            .cast("double")
            / F.lit(1e6)
        ).alias("mean_logprob"),
    )


def _pad_stream(stream: Column) -> Column:
    """Boundary-anchor a space-joined token stream for plain-replace
    pair merging: sentinel spaces at both ends, every separator
    doubled. A pair pattern " a  b " then matches whole tokens only,
    and adjacent occurrences don't compete for a shared boundary
    space. Replacements of the form " a+b " preserve the invariant
    (single flanking space each side re-forms a double separator with
    the neighbor's remaining space)."""
    return F.when(F.length(stream) == 0, stream).otherwise(
        F.concat(
            F.lit(" "),
            F.replace(stream, F.lit(" "), F.lit("  ")),
            F.lit(" "),
        )
    )


def _unpad_stream(padded: Column) -> Column:
    """Inverse of :func:`_pad_stream` after merges: collapse the
    doubled separators and strip the sentinels."""
    return F.trim(F.replace(padded, F.lit("  "), F.lit(" ")))


def apply_token_merges(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    joiner: str = "+",
) -> DataFrame:
    """Apply a FIXED ordered merge table to the whitespace token
    stream — the BPE/WordPiece APPLY step (training-side merge mining
    is bigram_pmi; this is the inference side a tokenizer service
    runs): merge k replaces each adjacent TOKEN pair (a, b) with the
    fused symbol "a+b", in rule order, each rule replacing every
    non-overlapping occurrence left to right — plain-string
    ``replace`` semantics on a boundary-anchored stream, identical in
    Spark and ANSI SQL, so the segmentation is engine-exact.

    Boundary anchoring: the stream is sentinel-padded and every
    separator doubled, so a rule matches " a  b " — whole tokens
    only. A raw ``replace(stream, "a b", ...)`` would fire on
    SUBSTRINGS of other tokens ("xa b" contains "a b"), fusing pairs
    that are not the rule's token pair; the doubled separators also
    let consecutive occurrences ("a b a b") each match without
    stealing the shared boundary space.

    Returns (id, n_tokens_before, n_tokens_after, tokenized) where
    ``tokenized`` is the space-joined post-merge symbol stream. Pure
    narrow string expressions — no shuffle, no UDF; cost is k scans of
    each document's token string (k = merge-table size; a production
    apply compiles the table into a trie, but the relational form is
    what proves the semantics).
    """
    stream = F.concat_ws(
        " ", F.transform(tokens(text_col), lambda t: F.lower(t))
    )
    out = _pad_stream(stream)
    for a, b in merges:
        out = F.replace(
            out, F.lit(f" {a}  {b} "), F.lit(f" {a}{joiner}{b} ")
        )
    out = _unpad_stream(out)
    # NULL text -> NULL token array; count must read 0 (and guard the
    # legacy -1 size-of-null convention)
    n_before = F.greatest(
        F.lit(0), F.coalesce(F.size(tokens(text_col)), F.lit(0))
    ).cast("bigint")
    n_after = F.when(F.length(out) == 0, F.lit(0).cast("bigint")).otherwise(
        (F.length(out) - F.length(F.replace(out, F.lit(" "), F.lit("")))
         + 1).cast("bigint")
    )
    return df.select(
        F.col(id_col),
        n_before.alias("n_tokens_before"),
        n_after.alias("n_tokens_after"),
        out.alias("tokenized"),
    )


def learn_token_merges(
    df: DataFrame,
    rounds: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    joiner: str = "+",
) -> "list[tuple[int, str, str, int]]":
    """LEARN a BPE/WordPiece-style merge table at whitespace-token
    granularity — the training half of :func:`apply_token_merges`.

    Classic iterative BPE: each round (1) splits the CURRENT symbol
    stream (so pairs fused in earlier rounds participate as single
    symbols — the re-segmentation is what distinguishes BPE training
    from one-shot bigram mining like bigram_pmi), (2) counts adjacent
    symbol pairs corpus-wide, (3) fuses the most frequent pair
    everywhere (ties break lexicographically), using the SAME
    plain-replace semantics the apply step documents, so a table
    learned here replays identically through apply_token_merges and
    through a SQL oracle.

    Returns ``[(rank, left, right, pair_count), ...]``.

    Scale shape: one shuffle per round (pair-count agg, map-side
    combined on the slim pair strings); the driver holds ONE scalar
    winner per round — never a vocabulary. Re-segmentation is a
    narrow per-row string expression stacked onto the stream column;
    lineage depth = rounds, so for production round counts (10k+
    merges) you would checkpoint every ~50 rounds and compile the
    accumulated table into a trie — the relational form here is what
    proves the semantics.
    """
    stream = F.concat_ws(
        " ", F.transform(tokens(text_col), lambda t: F.lower(t))
    )
    base = (
        df.select(stream.alias("seg"))
        .filter(F.length("seg") > 0)
        .persist()
    )
    seg = base
    merges: list[tuple[int, str, str, int]] = []
    try:
        for k in range(rounds):
            toks = F.split(F.col("seg"), " ")
            pairs = F.zip_with(
                F.slice(toks, 1, F.size(toks) - 1),
                F.slice(toks, 2, F.size(toks) - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
            top = (
                seg.select(F.explode(pairs).alias("pair"))
                .groupBy("pair")
                .agg(F.count("*").alias("cnt"))
                .orderBy(F.col("cnt").desc(), F.col("pair").asc())
                .first()
            )
            if top is None:
                break
            a, b = top["pair"].split(" ", 1)
            merges.append((k, a, b, int(top["cnt"])))
            # fuse on the boundary-anchored stream: pair counts above
            # are token-accurate (array zip), so the fuse must be too
            # — a raw replace would also mutate substrings of other
            # tokens and corrupt every later round's segmentation
            seg = seg.withColumn(
                "seg",
                _unpad_stream(
                    F.replace(
                        _pad_stream(F.col("seg")),
                        F.lit(f" {a}  {b} "),
                        F.lit(f" {a}{joiner}{b} "),
                    )
                ),
            )
    finally:
        base.unpersist()
    return merges
