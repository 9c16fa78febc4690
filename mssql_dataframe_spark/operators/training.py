"""Training-dataset assembly operators: sequence packing, dataset
splits, stratified sampling.

These are the last-mile ops of an LLM data pipeline — after dedup /
quality filtering, documents are packed into fixed token budgets and
split into train/validation partitions. Everything here is built-in
column expressions (window cumsum, hash arithmetic) so it runs
JVM-side at full scan speed and is reproducible in ANSI SQL for the
correctness oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..frames import local_frame
from .text import token_count


def _bin_index(before_col: str, budget: int) -> Column:
    """Bin index of a document whose first token lands at running
    offset ``before_col``: exact-bigint ``div`` (== floor for the
    non-negative cumsum), NOT ``/`` — bigint ``/`` returns DOUBLE and
    mis-bins once the running token count passes 2^53 (first
    divergence at 2^53+255 for budget=256) while exact-arithmetic
    engines keep dividing correctly. Takes the column NAME because
    ``div`` is an SQL operator with no Column-API twin."""
    return F.expr(f"`{before_col}` div {int(budget)}").cast("bigint")


def pack_sequences(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    partition_col: str | None = None,
) -> DataFrame:
    """Contiguous sequence packing: documents (in deterministic id
    order) are assigned to consecutive bins of ``budget`` tokens by
    the RUNNING count — a document belongs to the bin its first token
    lands in (``floor(cumsum_before / budget)``) and SPILLS past the
    bin's nominal budget rather than starting a new one (padding /
    truncation of spilled tails is the tokenizer's concern, not the
    packer's; the pinned tests assert the spill semantics).

    bin boundaries via running token count: doc i starts a new bin
    when floor(cumsum_before / budget) advances — computed with ONE
    window cumsum, no iteration. With ``partition_col`` (e.g. a shard
    or language key) packing is per-partition and embarrassingly
    parallel; without it the single global window is a deliberate,
    documented choice for small curated sets — at 100 TB always pass
    a partition key so Spark packs each shard independently.

    Contract note: contiguous-by-id packing is the reproducible
    variant of greedy first-fit (same bins in any engine); true
    first-fit-decreasing is order-dependent and NOT reproducible
    across engines, so it is deliberately not the default.

    Returns (id, n_tokens, bin_id, bin_fill) where bin_fill is the
    running token count within the bin.
    """
    part = [partition_col] if partition_col else []
    w = Window.partitionBy(*part).orderBy(F.col(id_col).asc())
    nt = token_count(text_col)
    before = F.coalesce(
        F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0).cast("bigint"),
    )
    out = (
        df.select(
            *part, F.col(id_col), nt.alias("n_tokens")
        )
        .withColumn("__before", before)
        # bin index advances at each budget boundary; oversized docs
        # occupy floor(before/budget) like everything else (they spill
        # past their bin's nominal budget — padding/truncation is the
        # tokenizer's concern, not the packer's). __before >= 0
        # (token_count clamps at 0) so _bin_index's exact `div` ==
        # floor, matching SQL `//`.
        .withColumn("bin_id", _bin_index("__before", budget))
        .withColumn(
            "bin_fill",
            F.col("__before") - F.col("bin_id") * F.lit(budget) + F.col("n_tokens"),
        )
        .drop("__before")
    )
    return out


def _content_key(id_col: str, text_col: str) -> F.Column:
    """60-bit bucket key: first 15 hex chars of ``md5(id || ':' ||
    text)``. SQL-``||`` NULL semantics (``F.concat`` propagates NULL)
    so a NULL id/text yields a NULL key — the same verdict an ANSI-SQL
    oracle reaches; ``concat_ws`` would silently skip the NULL operand
    and hash the rest."""
    return F.conv(
        F.substring(
            F.md5(
                F.concat(F.col(id_col).cast("string"), F.lit(":"),
                         F.col(text_col))
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")


def shuffle_deterministic(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 64,
) -> DataFrame:
    """Deterministic global corpus shuffle for training: every row gets
    a (shard, pos) coordinate from the md5 of its id — the decorrelated
    read order LLM training wants, without ``rand()`` (partition-layout
    dependent) and without a global ORDER BY (single-reducer sort at
    100 TB). Shard assignment is a pure map-side hash; positions are a
    per-shard window rank, so each shard orders independently in
    parallel. Reading shards 0..n-1 in (shard, pos) order replays ONE
    fixed pseudo-random permutation on any engine, any cluster size,
    any partitioning.

    Ties are impossible for distinct ids (rank breaks on the id), so
    the permutation is total and reproducible.
    """
    key = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    w = Window.partitionBy("shard").orderBy(
        F.col("__key").asc(), F.col(id_col).asc()
    )
    return (
        df.select(F.col(id_col), key.alias("__key"))
        .withColumn("shard", (F.col("__key") % F.lit(n_shards)).cast("int"))
        .withColumn("pos", F.row_number().over(w).cast("bigint"))
        .select(id_col, "shard", "pos")
    )


def split_hash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Deterministic, content-keyed train/val/test split.

    The split key is the first 15 hex chars of ``md5(id || ':' ||
    text)`` as a 60-bit integer mod 100 — stable across engines,
    runs, partitionings, and cluster sizes (unlike ``rand()`` seeds,
    which depend on partition layout). Content-keyed so exact
    duplicates land in the SAME split — no train/test leakage through
    dup pairs the dedup pass missed.

    Returns ``(id, split_bucket, split)`` — join back on the id to
    attach the split to the full rows. A NULL id/text
    yields a NULL bucket and lands in 'test' (CASE-else), matching the
    SQL oracle's ``||`` NULL propagation.
    """
    key = _content_key(id_col, text_col)
    return (
        df.select(F.col(id_col), (key % 100).alias("split_bucket"))
        .withColumn(
            "split",
            F.when(F.col("split_bucket") < train_pct, "train")
            .when(F.col("split_bucket") < train_pct + val_pct, "val")
            .otherwise("test"),
        )
        .select(id_col, "split_bucket", "split")
    )


def stratified_sample_hash(
    df: DataFrame,
    strata_col: str,
    pct_by_stratum: dict[str, int],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic per-stratum downsampling (e.g. keep 10% of web
    text but 100% of books): same md5 bucket as :func:`split_hash`,
    compared against a per-stratum keep percentage. Rows in strata
    absent from ``pct_by_stratum`` are dropped.

    NULL handling is SQL-``||`` (NULL-propagating): a NULL id or text
    yields a NULL bucket, and the ``<`` filter drops the row — the same
    verdict a ``md5(doc_id || ':' || text)`` oracle reaches
    (``concat_ws`` would skip the NULL and KEEP the row, diverging)."""
    key = _content_key(id_col, text_col)
    pct = None
    for stratum, p in sorted(pct_by_stratum.items()):
        cond = F.col(strata_col) == stratum
        pct = F.when(cond, F.lit(p)) if pct is None else pct.when(cond, F.lit(p))
    # empty config: every stratum is "absent" -> all rows dropped
    # (the documented verdict), not an AttributeError on None
    pct = F.lit(0) if pct is None else pct.otherwise(F.lit(0))
    return df.withColumn("__bucket", key % 100).filter(
        F.col("__bucket") < pct
    ).drop("__bucket")


def temperature_resample(
    df: DataFrame,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    target_frac_den: int = 2,
) -> DataFrame:
    """Temperature-based multilingual resampling (the multilingual-
    pretraining standard: sample languages ∝ share^alpha with
    alpha=0.5, so low-resource languages are up-weighted relative to
    their raw share without drowning the high-resource ones).

    DATA-DERIVED rates in pure integer arithmetic so any engine lands
    on identical keep sets: per-stratum weight w_l = isqrt(n_l)
    (exact integer sqrt; agrees with floor(IEEE sqrt) at any count a
    SQL oracle can hold — identical
    everywhere), per-doc keep rate in basis points
    rate_l = (10000 * w_l * (N div target_frac_den)) div (W * n_l),
    and the keep decision compares the content-keyed md5 bucket
    (mod 10000) against it — deterministic across runs, partitionings
    and engines, duplicates land on the same verdict.

    Shape: one count agg (tiny), the scalar totals broadcast back, and
    a map-side filter over the corpus — no shuffle of the documents
    themselves.
    """
    counts = df.groupBy(strata_col).agg(
        F.count("*").cast("long").alias("__nl")
    )
    # the per-stratum frame is O(languages) — compute the rates in
    # PYTHON integers (arbitrary precision), not 64-bit SQL longs:
    # 10000 * w_l * (N div den) exceeds Long.MAX around 4e10 docs in
    # one language (the module's advertised scale), where BIGINT
    # arithmetic would silently wrap negative and drop the whole
    # language. Same formula, exact at any magnitude.
    rows = counts.collect()
    import math

    wl = {r[strata_col]: math.isqrt(int(r["__nl"])) for r in rows}
    nl = {r[strata_col]: int(r["__nl"]) for r in rows}
    tw = sum(wl.values())
    tn = sum(nl.values())
    rate_rows = [
        (k, (10000 * wl[k] * (tn // target_frac_den)) // (tw * nl[k]))
        for k in nl
    ]
    from pyspark.sql import types as _T

    rates = local_frame(df.sparkSession, rate_rows, _T.StructType([
        _T.StructField(strata_col, df.schema[strata_col].dataType),
        _T.StructField("rate_bp", _T.LongType()),
    ]))
    keyed = df.select(
        F.col(id_col), F.col(strata_col),
        (_content_key(id_col, text_col) % 10000).alias("__bp"),
    )
    return (
        keyed.join(F.broadcast(rates), strata_col)
        .filter(F.col("__bp") < F.col("rate_bp"))
        .select(id_col, strata_col, "rate_bp")
    )
