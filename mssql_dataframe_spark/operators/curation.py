"""Data-curation operators for LLM training-data pipelines.

Repetition filtering (Gopher-style word-n-gram metrics), benchmark
decontamination (shared-n-gram flagging, GPT-3 appendix-C style),
PII redaction, and corpus-mixture auditing. All operators are pure
built-in-function column expressions (JVM-side, whole-stage codegen)
— no Python UDFs — so they scan at full Parquet speed.

Scale notes (100 TB): every operator here is one or two shuffles keyed
on ``doc_id`` or an n-gram; nothing is quadratic in the corpus.
``decontaminate`` broadcasts the benchmark gram set (benchmarks are
O(10^5) docs — far under the broadcast threshold after distinct), so
the contamination check is a map-side hash probe over the training
scan, no shuffle of the 100 TB side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import _quality_flag_sql, _sql_over, _tokens_sql, tokens

__all__ = [
    "word_ngrams",
    "repetition_features",
    "quality_filter",
    "decontaminate",
    "redact_pii",
    "corpus_mixture",
    "per_source_cap",
    "quality_weighted_sample",
    "fuzzy_decontaminate",
    "dedup_lines",
    "dedup_lines_df",
    "dedup_lines_global",
    "remove_frequent_lines",
    "perplexity_buckets",
]


def _ngrams_sql(toks: str, n: int) -> str:
    """Space-joined word ``n``-grams of the SQL token array ``toks``:
    the ``zip_with`` of the array against its own shifted slices."""
    m = f"(size({toks}) - {n - 1})"
    acc = f"slice({toks}, 1, {m})"
    for k in range(1, n):
        acc = (
            f"zip_with({acc}, slice({toks}, {k + 1}, {m}), "
            "(a, b) -> concat(a, ' ', b))"
        )
    return f"CASE WHEN {m} <= 0 THEN CAST(array() AS array<string>) ELSE {acc} END"


def word_ngrams(col: str | Column, n: int) -> Column:
    """Array of space-joined word ``n``-grams of a text column.

    Documents with fewer than ``n`` tokens yield an empty array.
    Generated by ``zip_with``-ing the token array against its own
    shifted slices — the expensive tokenization and the slices are
    evaluated ONCE per row (function arguments), with only a cheap
    string concat per gram inside the lambda. (The earlier
    ``transform(sequence(...), i -> slice(toks, i, n))`` form closed
    over the tokenizer inside the lambda, re-splitting the whole text
    once per gram position — quadratic per document; measured ~30x
    slower at sf0.1.) Embarrassingly parallel either way: a single
    projection per row, no join or window. The same n-gram SQL runs
    over :func:`quality_filter`'s once-tokenized column.
    """
    return _sql_over(lambda t: _ngrams_sql(_tokens_sql(t), n), col)


#: the row-local repetition base metrics over ``__t`` (text) and
#: ``__toks`` (its tokens) — shared by :func:`repetition_features` and
#: :func:`quality_filter`, which folds them into its one document scan
_REPETITION_BASE_SQL = (
    "CAST(length(__t) AS BIGINT) AS n_chars",
    "CAST(size(__toks) AS BIGINT) AS n_words",
    "CAST(size(array_distinct(__toks)) AS BIGINT) AS n_distinct_words",
)


def _tokenized(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """``(doc_id, __t, __toks)``: the ONE tokenization every metric of
    :func:`repetition_features` and :func:`quality_filter` derives
    from."""
    return df.selectExpr(
        f"`{id_col}` AS doc_id",
        f"`{text_col}` AS __t",
        f"{_tokens_sql(f'`{text_col}`')} AS __toks",
    )


def _gram_repeat_metrics(tok: DataFrame) -> DataFrame:
    """(doc_id, top_bigram_chars, dup_trigram_chars) — the shuffling
    half of :func:`repetition_features`: 2- and 3-grams of the token
    column tagged and exploded together, counted per (doc, n, gram),
    re-aggregated per doc. Shared by :func:`repetition_features` and
    :func:`quality_filter` so the composed gate runs the gram pass
    once."""
    tagged = ", ".join(
        f"transform({_ngrams_sql('__toks', n)}, "
        f"g -> named_struct('n', {n}, 'gram', g))"
        for n in (2, 3)
    )
    grams = tok.selectExpr("doc_id", f"inline(concat({tagged}))")
    counts = grams.groupBy(grams["doc_id"], grams["n"], grams["gram"]).agg(
        F.expr("count(1) AS cnt")
    )
    return counts.groupBy(counts["doc_id"]).agg(
        F.expr(
            "max(CASE WHEN n = 2 AND cnt >= 2 THEN cnt * length(gram) "
            "ELSE 0 END) AS top_bigram_chars"
        ),
        F.expr(
            "sum(CASE WHEN n = 3 AND cnt >= 2 THEN cnt * length(gram) "
            "ELSE 0 END) AS dup_trigram_chars"
        ),
    )


#: the three rounded repetition metrics (name -> SQL) over a frame
#: carrying the base (n_chars/n_words/n_distinct_words) and gram
#: (top_bigram_chars/dup_trigram_chars) columns
_REPETITION_METRICS = {
    "dup_word_frac": "round(CAST(CASE WHEN n_words > 0 "
    "THEN 1.0D - n_distinct_words / n_words ELSE 0.0D END AS DOUBLE), 6)",
    "top_bigram_char_frac": "round(CAST(coalesce(top_bigram_chars, 0) "
    "/ greatest(n_chars, 1) AS DOUBLE), 6)",
    "dup_trigram_char_frac": "round(CAST(coalesce(dup_trigram_chars, 0) "
    "/ greatest(n_chars, 1) AS DOUBLE), 6)",
}

#: Gopher-threshold verdict over the three metrics, inlined so the
#: verdict rides the same projection as (or replaces) the metric
#: columns; subexpression elimination evaluates each metric once
_REPETITION_FLAG_SQL = (
    "CAST(({dup_word_frac}) > 0.9D OR ({top_bigram_char_frac}) > 0.2D "
    "OR ({dup_trigram_char_frac}) > 0.6D AS BOOLEAN)"
).format(**_REPETITION_METRICS)


def repetition_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition metrics in the style of Gopher's
    repetition filters (Rae et al. 2021, table A1), adapted to
    word n-grams:

    - ``dup_word_frac``: 1 - distinct_words / total_words.
    - ``top_bigram_char_frac``: characters covered by the most
      repeated word 2-gram (count x gram length) / total chars.
      Only grams occurring >= 2 times count — a gram seen once is not
      repetition, and counting it would trivially flag every short
      document. Defined via max(count x length) so no tie-break is
      needed.
    - ``dup_trigram_char_frac``: characters covered by word 3-grams
      occurring more than once (sum of count x length over grams with
      count >= 2) / total chars. Adjacent grams overlap, so this can
      exceed 1.0 on highly repetitive text — callers threshold it,
      they don't sum it.
    - ``repetition_flag``: True when any metric crosses the
      (documented, Gopher-derived) threshold.

    Shape: ONE tokenize-and-gram pass — 2-grams and 3-grams are
    tagged and exploded together -> count per (doc, n, gram) ->
    re-aggregate per doc with per-n conditional metrics -> one
    left-join back to the document spine so gram-less (short) docs
    keep zero metrics. A single scan of the text and two slim
    (doc, gram)-keyed shuffle rounds with map-side partial
    aggregation — the text column itself never shuffles. (The
    earlier two-subtree form re-ran gram generation once per
    metric plus once for the spine — measured 3x the scan cost at
    sf0.1.) Every projection is a SQL string over one token column,
    so plan construction is a few py4j round trips, not one per
    Column operator.
    """
    tok = _tokenized(df, text_col, id_col)
    return (
        tok.selectExpr("doc_id", *_REPETITION_BASE_SQL)
        .join(_gram_repeat_metrics(tok), "doc_id", "left")
        .selectExpr(
            f"doc_id AS `{id_col}`",
            *[f"{sql} AS {name}" for name, sql in _REPETITION_METRICS.items()],
            f"{_REPETITION_FLAG_SQL} AS repetition_flag",
        )
    )


def quality_filter(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """End-to-end keep/drop verdict per document — the composed
    C4/Gopher-style curation gate: heuristic quality signals
    (:func:`mssql_dataframe_spark.operators.text.quality_features`)
    AND NOT the repetition flag (:func:`repetition_features`).

    FUSED plan: the text is tokenized ONCE, in one projection, and
    every quality signal, the repetition base metrics and both n-gram
    passes derive from that token column. The row-local metrics ride
    one document projection (the spine); only the gram-repetition half
    needs two gram-keyed shuffles, and it joins back to the spine on
    doc_id. At 100 TB that is one full corpus scan and one
    per-doc-metrics shuffle FEWER than composing ``quality_features ⋈
    repetition_features`` as separate frames. The downstream corpus
    is ``filter(keep)`` — this frame IS the manifest of what survives
    curation, so it is what you audit before a training run. The
    projections are SQL strings: building the plan costs a few dozen
    py4j round trips and runs no Spark job.

    Returns (doc_id, n_words, quality_flag, repetition_flag, keep).
    """
    tok = _tokenized(df, text_col, id_col)
    spine = tok.selectExpr(
        "doc_id",
        *_REPETITION_BASE_SQL,
        f"{_quality_flag_sql('__t', '__toks')} AS quality_flag",
    )
    return spine.join(_gram_repeat_metrics(tok), "doc_id", "left").selectExpr(
        f"doc_id AS `{id_col}`",
        "n_words",
        "quality_flag",
        f"{_REPETITION_FLAG_SQL} AS repetition_flag",
        f"CAST(quality_flag AND NOT {_REPETITION_FLAG_SQL} AS BOOLEAN) AS keep",
    )


def decontaminate(
    train: DataFrame,
    bench: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flag training documents sharing any word ``n``-gram with a
    benchmark/eval set (GPT-3 appendix-C style decontamination;
    production uses n=13, tests use smaller n because the synthetic
    docs are short).

    Returns (doc_id, n_overlapping_grams) for contaminated training
    docs only — n_overlapping_grams counts DISTINCT shared grams.

    Scale shape: the benchmark side is collapsed to a distinct gram
    set and broadcast (eval suites are tiny next to a 100 TB corpus),
    so the check is a map-side semi-probe over the training scan plus
    one doc_id-keyed count — the big side shuffles once, on doc_id,
    after the probe has already discarded almost every row.
    """
    bench_grams = (
        bench.select(F.explode(word_ngrams(text_col, n)).alias("gram")).distinct()
    )
    train_grams = train.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_ngrams(text_col, n)).alias("gram"),
    ).distinct()
    hits = train_grams.join(F.broadcast(bench_grams), "gram", "inner")
    return hits.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_overlapping_grams")
    )


# Redaction patterns: RE2-compatible (no lookaround, no backrefs) so
# the exact same pattern strings run on Spark (Java regex) and any
# RE2-based engine used as an oracle.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}-[0-9]{4}"
IPV4_RE = r"([0-9]{1,3}\.){3}[0-9]{1,3}"


def redact_pii(col: str | Column) -> dict[str, Column]:
    """PII redaction over a text column: emails -> <EMAIL>,
    E.164-ish phone numbers -> <PHONE>, IPv4 literals -> <IP>.

    Returns a dict of named columns: ``redacted`` (the scrubbed
    text) and per-category match counts. Order matters: emails are
    redacted before IPs so a dotted domain is never half-eaten by the
    IP pattern; counts are measured against the original text.
    Pure regexp expressions — codegen'd, no Python boundary.
    """
    c = F.col(col) if isinstance(col, str) else col
    n_emails = F.regexp_count(c, F.lit(EMAIL_RE))
    n_phones = F.regexp_count(c, F.lit(PHONE_RE))
    n_ips = F.regexp_count(c, F.lit(IPV4_RE))
    red = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    red = F.regexp_replace(red, PHONE_RE, "<PHONE>")
    red = F.regexp_replace(red, IPV4_RE, "<IP>")
    return {
        "redacted": red,
        "n_emails": n_emails.cast("bigint"),
        "n_phones": n_phones.cast("bigint"),
        "n_ips": n_ips.cast("bigint"),
    }


def corpus_mixture(
    df: DataFrame,
    by: tuple[str, ...] = ("source", "lang"),
    text_col: str = "text",
) -> DataFrame:
    """Training-mixture audit ("data card" query): per group, document
    count, token totals, length stats, and corpus share. One hash
    aggregation with map-side combine + one scalar total — the shape
    that survives any corpus size, because group cardinality
    (sources x languages) is tiny.
    """
    from pyspark.sql.window import Window

    n_tok = F.size(tokens(text_col)).cast("bigint")
    n_chars = F.length(F.col(text_col)).cast("bigint")
    agg = df.groupBy(*by).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(n_tok).cast("bigint").alias("total_tokens"),
        F.sum(n_chars).cast("bigint").alias("total_chars"),
        F.round(F.avg(n_chars).cast("double"), 6).alias("avg_chars"),
    )
    # corpus share via an unpartitioned window over the ALREADY
    # AGGREGATED frame — its cardinality is sources x languages, so
    # the single-partition window is over dozens of rows, not the
    # corpus; no separate count() job over the 100 TB input.
    total_docs = F.sum("n_docs").over(Window.partitionBy())
    return agg.select(
        *by,
        "n_docs",
        "total_tokens",
        "total_chars",
        "avg_chars",
        F.round((F.col("n_docs") / total_docs).cast("double"), 6).alias(
            "doc_share"
        ),
    )


def per_source_cap(
    df: DataFrame,
    cap: int,
    by: str | tuple[str, ...] = "source",
    order_col: str = "doc_id",
    keep_col: str | None = None,
) -> DataFrame:
    """Per-domain/source document cap — the CommonCrawl-style curation
    rule "keep at most N documents per domain" that stops one
    boilerplate-heavy site from dominating the training mixture.

    Deterministic: within each group, rows are ranked by ``order_col``
    and the first ``cap`` survive. To prioritize by quality instead of
    id, pass e.g. ``order_col`` as a precomputed score column.

    Returns the surviving rows; with ``keep_col`` set, returns ALL
    rows plus a boolean keep flag (audit mode — lets the pipeline
    report what a cap WOULD drop before committing to it).

    Scale shape: one shuffle on the group key for ``row_number``. The
    pathological case is one giant domain; the window only needs
    per-group ORDER BY, so skew is bounded by the biggest domain's
    rows on one partition — at 100 TB prefer a two-phase variant
    (filter ``rank <= cap`` within salted subgroups first) if a single
    domain exceeds executor memory; typical web-domain distributions
    (heavy-tailed but < tens of millions per domain) fit.
    """
    from pyspark.sql.window import Window

    if cap < 1:
        raise ValueError("cap must be >= 1")
    _guard_work_cols(df, ("__rn",))
    if keep_col is not None and keep_col in df.columns:
        raise ValueError(
            f"keep_col {keep_col!r} already exists in the input"
        )
    keys = [by] if isinstance(by, str) else list(by)
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).asc())
    flagged = df.withColumn("__rn", F.row_number().over(w))
    if keep_col is not None:
        return flagged.withColumn(keep_col, F.col("__rn") <= cap).drop("__rn")
    return flagged.filter(F.col("__rn") <= cap).drop("__rn")


def quality_weighted_sample(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    floor_bp: int = 1000,
) -> DataFrame:
    """Quality-proportional source downsampling: each source keeps a
    fraction of ALL its documents equal to its quality-gate pass rate
    (in basis points, floored at ``floor_bp`` so no source vanishes) —
    data-derived mixture weights instead of the hand-tuned
    ``pct_by_stratum`` config, the common second pass after per-doc
    filtering ("low-quality domains contribute less, not just their
    failing pages").

    Determinism end to end: the pass rate is a pure count ratio turned
    into basis points with the integer round-half-up formula
    ``floor((2*10000*g + n) / (2n))`` (no ROUND-mode divergence), and
    the keep decision compares the 60-bit content-keyed md5 bucket
    against it — the same content key as dataset_split_hash, so a
    document's verdict never changes as the corpus grows.

    Returns surviving (id, source, keep_bp) rows. Scale shape: one
    quality scan + one per-source agg (broadcast back — sources are
    few), then a map-side filter; the corpus never shuffles.
    """
    from .training import _content_key

    flags = quality_filter(df, text_col=text_col, id_col=id_col).select(
        id_col, "keep"
    )
    joined = df.select(id_col, text_col, source_col).join(flags, id_col)
    rates = (
        joined.groupBy(source_col)
        .agg(
            F.sum(F.col("keep").cast("long")).alias("g"),
            F.count("*").alias("n"),
        )
        .select(
            source_col,
            F.greatest(
                F.lit(floor_bp),
                # INTEGER round-half-up (the documented cross-engine
                # contract): double division would round the numerator
                # past 2^53 and land 1 bp off the ANSI-SQL integer
                # oracle at large per-source counts
                F.expr("(20000 * g + n) div (2 * n)").cast("int"),
            ).alias("keep_bp"),
        )
    )
    bucket = _content_key(id_col, text_col) % 10000
    return (
        joined.join(F.broadcast(rates), source_col)
        .withColumn("__bucket", bucket)
        .filter(F.col("__bucket") < F.col("keep_bp"))
        .select(id_col, source_col, "keep_bp")
    )


def fuzzy_decontaminate(
    train_df: DataFrame,
    benchmark_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    n_bands: int = 8,
    k: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """Fuzzy train/eval decontamination — the near-duplicate
    complement of :func:`decontamination_overlap`'s exact n-gram
    check (paraphrased or lightly-edited benchmark leakage slips past
    exact grams; GPT-3-style dedup uses Jaccard overlap instead).

    Built on the two-set LSH machinery (dedup.minhash_dedup_incremental
    with train as the probing side): band-join candidates, min-hash
    estimate prune, exact shingle-Jaccard verify — cost ∝ train size x
    bucket collisions, independent of how the benchmark suite grows,
    and the benchmark side is tiny so its signatures broadcast.

    Returns ONE ROW PER TRAIN DOC — the curation-gate shape:
    (id, contaminated, worst_jaccard, n_bench_hits); filter
    ``NOT contaminated`` to emit the clean corpus.
    """
    from .dedup import minhash_dedup_incremental

    pairs = minhash_dedup_incremental(
        train_df, benchmark_df, id_col, text_col,
        n_bands, k, threshold, rows_per_band=rows_per_band,
    )
    verdicts = pairs.groupBy("new_id").agg(
        F.max("jaccard").alias("worst_jaccard"),
        F.count("*").cast("bigint").alias("n_bench_hits"),
    )
    return (
        train_df.select(F.col(id_col))
        .join(verdicts, F.col(id_col) == F.col("new_id"), "left")
        .select(
            id_col,
            F.col("worst_jaccard").isNotNull().alias("contaminated"),
            "worst_jaccard",
            F.coalesce(F.col("n_bench_hits"), F.lit(0)).alias("n_bench_hits"),
        )
    )


def _split_pattern(delimiter: str, regex: bool) -> str:
    """Spark ``split`` takes a Java regex; the line operators rejoin
    with the LITERAL delimiter. Escaping by default keeps the two in
    agreement — a caller passing ``"."`` or ``"|"`` splits on the
    literal character, not on every character. ``regex=True`` opts in
    to raw regex split semantics (the rejoin separator stays the raw
    string, so a meta-heavy pattern should pair with a plain
    separator-free corpus or a custom rejoin)."""
    import re

    return delimiter if regex else re.escape(delimiter)


def _guard_work_cols(df: DataFrame, needed: tuple) -> None:
    """The df-level line operators build working columns with fixed
    names; a caller column with the same name would be silently
    clobbered (or make a projection ambiguous) — refuse loudly."""
    clash = [c for c in needed if c in df.columns]
    if clash:
        raise ValueError(
            f"column names {clash} are reserved by the line operators; "
            "rename them before calling"
        )


def _rebuild_lines_agg(delimiter: str) -> Column:
    """Ordered per-document rebuild shared by the df-level line
    operators: collect surviving ``(__pos, __line)`` pairs, sort by
    position, rejoin with the LITERAL delimiter."""
    return F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("__pos").alias("p"),
                        F.col("__line").alias("l"),
                    )
                )
            ),
            lambda s: s["l"],
        ),
        delimiter,
    ).alias("__clean")


def dedup_lines(col: str | Column, delimiter: str = "\n",
                normalize: bool = False, regex: bool = False) -> Column:
    """Remove duplicated lines WITHIN a document, keeping the first
    occurrence in order — the C4 / Gopher repeated-span cleaning rule
    at line granularity (the reference has no corpus verbs; this is
    part of the beyond-reference training-data suite).

    Pure expression — split -> ``aggregate`` fold over the line array
    -> array_join — so it runs inside whole-stage codegen with NO
    shuffle and no UDF: a map-only pass at 100 TB. The seen-set
    membership is array_contains, O(lines^2) per document, fine for
    the <=10^3-line documents of web corpora; for corpora that can
    contain pathological giants use :func:`dedup_lines_df`, which
    routes oversized documents through an explode + first-occurrence
    window instead of a quadratic hot task.

    ``normalize=True`` compares lines case-/whitespace-insensitively
    while emitting the original first occurrence. ``delimiter`` is
    LITERAL by default (escaped for the regex split, used as-is for
    the rejoin); pass ``regex=True`` for raw Java-regex split
    semantics.
    """
    c = F.col(col) if isinstance(col, str) else col
    lines = F.split(c, _split_pattern(delimiter, regex))
    empty = F.array().cast("array<string>")

    def norm(x):
        return F.lower(F.trim(x)) if normalize else x

    folded = F.aggregate(
        lines,
        F.struct(empty.alias("seen"), empty.alias("out")),
        lambda a, x: F.when(
            F.array_contains(a["seen"], norm(x)), a
        ).otherwise(
            F.struct(
                F.concat(a["seen"], F.array(norm(x))).alias("seen"),
                F.concat(a["out"], F.array(x)).alias("out"),
            )
        ),
        lambda a: a["out"],
    )
    return F.array_join(folded, delimiter)


def dedup_lines_df(
    df: DataFrame,
    text_col: str = "text",
    delimiter: str = "\n",
    normalize: bool = False,
    regex: bool = False,
    giant_line_threshold: int = 4096,
    id_col: str | None = None,
) -> DataFrame:
    """:func:`dedup_lines` over a whole column, safe for pathological
    giant documents. Documents at or under ``giant_line_threshold``
    lines take the codegen fold (map-only, no shuffle); giants route
    through posexplode -> first-occurrence window (partition by
    document and line key, order by position) -> ordered rebuild, so
    a 100k-line document costs one bounded shuffle instead of an
    O(lines^2) hot task pinning a core. Both paths keep the first
    occurrence in original order and produce identical output
    (pinned by tests/test_line_dedup.py contract tests).

    The giant path's rebuild join needs a per-document key that is
    stable across the two sides of the self-join. Pass ``id_col`` (a
    unique document key) to make it fully deterministic at any scale;
    without one the giants are tagged with
    ``monotonically_increasing_id`` and PERSISTED first — an uncached
    MID re-evaluated on nondeterministic lineage (anything downstream
    of a shuffle) could assign different ids per evaluation and swap
    documents' text. Giants are rare by construction, so the persist
    is bounded.
    """
    from pyspark.sql import Window

    _guard_work_cols(df, ("__did", "__pos", "__line", "__clean"))
    pat = _split_pattern(delimiter, regex)
    lines_arr = F.split(F.col(text_col), pat)
    is_giant = F.coalesce(
        F.size(lines_arr) > giant_line_threshold, F.lit(False)
    )
    small = df.filter(~is_giant).withColumn(
        text_col,
        dedup_lines(text_col, delimiter, normalize=normalize, regex=regex),
    )
    if id_col is not None:
        giants = df.filter(is_giant).withColumn("__did", F.col(id_col))
    else:
        from .dedup import _pin

        # pinned (dedup._SESSION_PINS): the MID-tagged frame must stay
        # cached for the rebuild self-join AND be releasable — a bare
        # persist would hold a corpus-sized cache for the session
        giants = _pin(df.filter(is_giant).withColumn(
            "__did", F.monotonically_increasing_id()
        ))
    ex = giants.select(
        "__did", F.posexplode(lines_arr).alias("__pos", "__line")
    )
    key = F.lower(F.trim(F.col("__line"))) if normalize else F.col("__line")
    w = Window.partitionBy(F.col("__did"), key).orderBy("__pos")
    firsts = ex.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    )
    rebuilt = firsts.groupBy("__did").agg(_rebuild_lines_agg(delimiter))
    giant_clean = (
        giants.join(rebuilt, "__did", "left")
        .withColumn(text_col, F.coalesce(F.col("__clean"), F.lit("")))
        .select(*df.columns)
    )
    return small.unionByName(giant_clean)


def dedup_lines_global(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    delimiter: str = "\n",
    regex: bool = False,
) -> DataFrame:
    """CORPUS-global duplicated-line removal keeping the first corpus
    occurrence (C4's "remove any duplicate spans across the corpus"
    rule at line granularity — distinct from :func:`dedup_lines`,
    which is within-document, and from :func:`remove_frequent_lines`,
    which removes ALL occurrences once a line clears a document-
    frequency threshold): every occurrence of a line AFTER its first
    — ordered by ``(id_col, position)`` — is dropped from its
    document; the first survives in place. ``id_col`` must be a
    unique, orderable document key so "first" is deterministic.

    Scale shape: posexplode -> ONE partial-aggregated min-occurrence
    per line (map-side combine absorbs hot boilerplate lines before
    the shuffle) -> join back on the line value (reuses the agg's
    exchange partitioning; a residual hot line is AQE skew-join
    territory, not a sort) -> one groupBy(id) rebuild shuffle. No
    window over the line value — a window's per-key sort would pin a
    million-copy boilerplate line to one task; min-struct + equality
    keeps every stage combiner-friendly.
    """
    _guard_work_cols(df, ("__did", "__pos", "__line", "__clean"))
    pat = _split_pattern(delimiter, regex)
    lines_arr = F.split(F.col(text_col), pat)
    ex = df.select(
        F.col(id_col).alias("__did"),
        F.posexplode_outer(lines_arr).alias("__pos", "__line"),
    )
    first = ex.groupBy("__line").agg(
        F.min(F.struct(F.col("__did").alias("d"), F.col("__pos").alias("p")))
        .alias("__first")
    )
    kept = (
        ex.join(first, "__line")
        .filter(
            F.struct(F.col("__did").alias("d"), F.col("__pos").alias("p"))
            == F.col("__first")
        )
        .select("__did", "__pos", "__line")
    )
    rebuilt = kept.groupBy("__did").agg(_rebuild_lines_agg(delimiter))
    return (
        df.join(rebuilt, df[id_col] == rebuilt["__did"], "left")
        .withColumn(
            text_col,
            F.when(
                F.col(text_col).isNull(), F.lit(None).cast("string")
            ).otherwise(F.coalesce(F.col("__clean"), F.lit(""))),
        )
        .select(*df.columns)
    )


def remove_frequent_lines(
    df: DataFrame,
    text_col: str = "text",
    delimiter: str = "\n",
    min_docs: int = 10,
    max_remove: int = 100_000,
    regex: bool = False,
    inline_threshold: int = 2_000,
    id_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Corpus-level duplicated-line removal (the RefinedWeb line-dedup
    rule): a line appearing in >= ``min_docs`` DISTINCT documents is
    boilerplate (nav bars, cookie banners, license headers) and is
    removed from EVERY document.

    Scale shape: pass 1 counts distinct documents per line —
    ``array_distinct`` per doc then explode + count, a map-side
    partial agg and ONE shuffle on the line value; the frequent set
    is the heavy-hitter tail (small by construction — raising
    ``min_docs`` shrinks it). Pass 2 auto-selects by set size:

    - ``<= inline_threshold`` lines: collected and inlined as a
      literal array into an EXPRESSION filter — the corpus never
      shuffles, and the expression tree stays small enough for
      Catalyst analysis and whole-stage codegen (literal inlining
      degrades well below 10^4 nodes, hence the conservative default).
    - larger: posexplode -> broadcast ANTI-join against the frequent
      set -> ordered rebuild. The frequent set broadcasts (it passed
      a >= min_docs filter; the cap bounds it at ``max_remove``), the
      corpus pays one bounded line-granularity shuffle for the
      rebuild, and no Catalyst literal blowup occurs at any set size.
      The rebuild join needs a per-document key stable across both
      sides of the self-join: pass ``id_col`` (a unique document key)
      to make it fully deterministic at any scale; without one the
      corpus is tagged with ``monotonically_increasing_id`` and
      PERSISTED first — an uncached MID re-evaluated on
      nondeterministic lineage could assign different ids per
      evaluation and attach the wrong document's cleaned text.
      Prefer ``id_col`` at scale: it avoids both the hazard and the
      corpus-sized persist.

    The set is capped at ``max_remove`` rows (highest
    document-frequency first, deterministic tie-break on the line
    value); a warning reports a hit cap — no silent truncation.

    Returns ``(cleaned_df, frequent_lines_df)`` where
    ``frequent_lines_df`` is (line, doc_count) for audit.
    ``delimiter`` is LITERAL by default (escaped for the regex split,
    used as-is for the rejoin); pass ``regex=True`` for raw
    Java-regex split semantics.
    """
    import logging

    logger = logging.getLogger("mssql_dataframe_spark")
    lines_arr = F.split(F.col(text_col), _split_pattern(delimiter, regex))
    counts = (
        df.select(F.explode(F.array_distinct(lines_arr)).alias("line"))
        .groupBy("line")
        .agg(F.count("*").cast("bigint").alias("doc_count"))
        .filter(F.col("doc_count") >= min_docs)
    )
    # the cap+threshold decision needs the top of the set either way;
    # collecting inline_threshold+1 rows is bounded and tells us which
    # pass-2 shape to take without a separate count job
    head = (
        counts.orderBy(F.col("doc_count").desc(), F.col("line"))
        .limit(max(inline_threshold, max_remove) + 1)
        .collect()
    )
    if len(head) > max_remove:
        head = head[:max_remove]
        logger.warning(
            "remove_frequent_lines: frequent-line set exceeds "
            "max_remove=%d — lines beyond the cap were NOT removed; "
            "raise min_docs or max_remove", max_remove,
        )
    if len(head) <= inline_threshold:
        freq = [r["line"] for r in head]
        lit_arr = (
            F.array(*[F.lit(x) for x in freq])
            if freq
            else F.array().cast("array<string>")
        )
        cleaned = df.withColumn(
            text_col,
            F.array_join(
                F.filter(lines_arr, lambda x: ~F.array_contains(lit_arr, x)),
                delimiter,
            ),
        )
        return cleaned, counts
    # large-set pass 2: broadcast anti-join + rebuild — no literals
    _guard_work_cols(df, ("__did", "__pos", "__line", "__clean"))
    freq_keys = df.sparkSession.createDataFrame(
        [(r["line"],) for r in head], "__line string"
    )
    if id_col is not None:
        with_id = df.withColumn("__did", F.col(id_col))
    else:
        from .dedup import _pin

        # pinned for the same reason as dedup_lines_df's giants frame
        with_id = _pin(df.withColumn(
            "__did", F.monotonically_increasing_id()
        ))
    ex = with_id.select(
        "__did", F.posexplode_outer(lines_arr).alias("__pos", "__line")
    )
    kept = ex.join(F.broadcast(freq_keys), "__line", "left_anti")
    rebuilt = kept.groupBy("__did").agg(_rebuild_lines_agg(delimiter))
    cleaned = (
        with_id.join(rebuilt, "__did", "left")
        .withColumn(
            text_col,
            # null text stays null (matching the expression path);
            # a fully-boilerplate document rebuilds as ""
            F.when(
                F.col(text_col).isNull(), F.lit(None).cast("string")
            ).otherwise(F.coalesce(F.col("__clean"), F.lit(""))),
        )
        .select(*df.columns)
    )
    return cleaned, counts


def perplexity_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    buckets: int = 3,
    pins: list | None = None,
) -> DataFrame:
    """CCNet-style per-language perplexity bucketing: score every
    document with the corpus-self-trained unigram LM
    (operators/text.py unigram_logprob — the CCNet/RedPajama
    perplexity proxy), then split each language's documents into
    ``buckets`` quantile tiles (head / middle / tail for the default
    3) by descending fluency. CCNet keeps "head" for training, mixes
    "middle", and drops or downweights "tail".

    Returns (id, lang, n_tokens, mean_logprob, ppl_bucket,
    bucket_label); ties break on ascending id. Empty/NULL-text
    documents carry no tokens and drop out, like the scorer itself.

    Scale shape: NO per-language window — a language can span
    terabytes, and ``NTILE() OVER (PARTITION BY lang)`` would funnel
    each language into one task. Instead the scored frame gets ONE
    range-partitioned global rank over (lang, score desc, id)
    (distributed_window.global_row_number: range shuffle + a
    per-partition-count broadcast), per-language rank = global rank
    minus the language's broadcast start offset, and the tile is pure
    integer arithmetic (ntile_from_rank_col). Caller finalizes with
    ``distributed_window.finalize(out, pins)`` after the last action
    to release the rank's pinned caches.
    """
    from . import distributed_window as DW
    from .text import unigram_logprob

    scores = unigram_logprob(df, id_col=id_col, text_col=text_col)
    scored = scores.join(
        df.select(id_col, lang_col), id_col
    )
    order = [
        F.col(lang_col).asc(),
        F.col("mean_logprob").desc(),
        F.col(id_col).asc(),
    ]
    ranked, _total = DW.global_row_number(
        scored, order, out="__grn", pins=pins
    )
    # per-language size + start offset: one tiny agg over the ranked
    # frame (O(languages) rows), broadcast back
    per_lang = ranked.groupBy(lang_col).agg(
        F.count("*").alias("__lang_n"),
        F.min("__grn").alias("__lang_start"),
    )
    rn_in_lang = F.col("__grn") - F.col("__lang_start") + F.lit(1)
    tile = DW.ntile_from_rank_col(
        rn_in_lang, F.col("__lang_n"), buckets
    )
    label = (
        F.when(F.col("ppl_bucket") == 1, F.lit("head"))
        .when(F.col("ppl_bucket") == buckets, F.lit("tail"))
        .otherwise(F.lit("middle"))
        if buckets >= 2
        else F.lit("head")
    )
    # null-SAFE join: lang-id failures (NULL lang) are a real group —
    # the SQL NTILE oracle partitions them together, so a plain
    # USING-join dropping them would silently diverge
    pl = per_lang.select(
        F.col(lang_col).alias("__pl_lang"), "__lang_n", "__lang_start"
    )
    return (
        ranked.join(
            F.broadcast(pl),
            F.col(lang_col).eqNullSafe(F.col("__pl_lang")),
        )
        .withColumn("ppl_bucket", tile)
        .withColumn("bucket_label", label)
        .select(
            id_col, lang_col, "n_tokens", "mean_logprob",
            "ppl_bucket", "bucket_label",
        )
    )
