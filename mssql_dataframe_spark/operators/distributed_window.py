"""Distributed replacements for unpartitioned (global) windows.

``Window.orderBy(...)`` with no ``partitionBy`` forces every row
through a single WindowExec partition — correct on a laptop, a hard
scale-killer at 100 TB. The functions here compute the same answers
with the classic two-pass prefix-sum shape:

1. ``repartitionByRange`` on the total order (range partitions are
   globally ordered: every row in partition *i* sorts before every row
   in partition *i+1*);
2. a *partitioned* window per range-partition (``partitionBy`` on
   ``spark_partition_id()``) for the local rank / running sum;
3. a per-partition summary — at most ``num_partitions`` rows, bounded
   by cluster width, never by data volume — collected to the driver,
   turned into exclusive prefix offsets, and broadcast-joined back.

The orderings passed in must be total (callers tie-break on a unique
key), so results are deterministic and bit-identical to the global
window they replace. Decimal running sums stay exact: offsets are
accumulated as ``decimal.Decimal`` on the driver.

Step 1's frame is cached (``cache.keep``) so both jobs see the same
partition ids, and the returned frame reads it. A caller that
materializes its result inside ``cache.scope()`` frees it there
(``return out.localCheckpoint(eager=True)`` in the block); otherwise
the session owns it until ``cache.release()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType
from pyspark.sql.window import Window

from .. import cache
from ..frames import local_frame

_PID = "__dw_pid"
_LOCAL = "__dw_local"


def _range_partitioned(df: DataFrame, order_cols) -> DataFrame:
    try:
        n_part = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    except ValueError:
        # platforms that auto-manage the shuffle ("auto" on AQE-managed
        # clusters) — fall back to the cluster's default parallelism
        n_part = df.sparkSession.sparkContext.defaultParallelism
    out = (
        df.repartitionByRange(n_part, *order_cols)
        .withColumn(_PID, F.spark_partition_id())
    )
    # Keep the partition assignment: the offsets job and the main plan
    # must see identical pids (range-boundary sampling must run once,
    # not once per job).
    return cache.keep(out)


def global_row_number(
    df: DataFrame, order_cols, out: str = "rn"
) -> tuple[DataFrame, int]:
    """Exact global ``row_number`` over a total order, no global window.

    Returns ``(frame_with_<out>, total_row_count)``. Cost: one range
    shuffle of *df* plus a ≤``num_partitions``-row collect — the same
    answer as ``row_number().over(Window.orderBy(*order_cols))`` with
    no single-partition stage.
    """
    spark = df.sparkSession
    d = _range_partitioned(df, order_cols)
    local = F.row_number().over(Window.partitionBy(_PID).orderBy(*order_cols))
    d = d.withColumn(_LOCAL, local.cast("bigint"))

    counts = {
        r[_PID]: r["cnt"]
        for r in d.groupBy(_PID).agg(F.count("*").alias("cnt")).collect()
    }
    total = int(sum(counts.values()))
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += int(counts[pid])
    off = local_frame(spark, offsets, f"{_PID} int, __dw_off bigint")
    result = (
        d.join(F.broadcast(off), _PID)
        .withColumn(out, (F.col(_LOCAL) + F.col("__dw_off")).cast("bigint"))
        .drop(_PID, _LOCAL, "__dw_off")
    )
    return result, total


def ntile_from_rank(rn, total: int, buckets: int = 5):
    """NTILE(buckets) derived arithmetically from a global rank.

    Matches SQL NTILE exactly: the first ``total % buckets`` tiles get
    ``total // buckets + 1`` rows, the rest one fewer. Composes with
    :func:`global_row_number` to give NTILE without any global window.

    Exactness bound: the tile arithmetic divides through DOUBLE (Spark
    promotes integer ``/`` to double), exact while ``rn + q`` stays
    within the 2^53 double mantissa — ~9e15 rows, three orders of
    magnitude above a 100 TB corpus's row count. Beyond that the
    boundary rows could land one tile off, so the guard raises loudly
    instead of going silently wrong.
    """
    q, r = divmod(int(total), buckets)
    if int(total) + buckets > 2**53:
        raise ValueError(
            f"ntile_from_rank: total={total} exceeds the 2^53 "
            "double-exact bound for the tile division"
        )
    if q == 0:
        return rn.cast("int")
    big = r * (q + 1)
    head = F.floor((rn + q) / F.lit(q + 1))  # ceil(rn / (q+1))
    tail = r + F.floor((rn - big + q - 1) / F.lit(q))  # r + ceil((rn-big)/q)
    return F.when(rn <= big, head).otherwise(tail).cast("int")


def ntile_from_rank_col(rn, total, buckets: int = 5):
    """:func:`ntile_from_rank` with a per-row total COLUMN — NTILE
    within groups of differing sizes (e.g. per-language terciles) from
    a group-local rank, still with no per-group window: the group's
    row count rides a broadcast join and the tile is arithmetic.
    Matches ``NTILE(buckets) OVER (PARTITION BY g ...)`` exactly for a
    1-based in-group ``rn`` and ``total`` = group size, up to the same
    2^53-rows-per-group double-exactness bound as
    :func:`ntile_from_rank` (unreachable for any real per-group size;
    the scalar variant raises past it, this column variant documents
    it because the bound would be per-row data).
    """
    q = F.floor(total / F.lit(buckets)).cast("bigint")
    r = (total % F.lit(buckets)).cast("bigint")
    big = r * (q + 1)
    head = F.floor((rn + q) / (q + 1))
    tail = r + F.floor((rn - big + q - 1) / q)
    return (
        F.when(q == 0, rn)
        .when(rn <= big, head)
        .otherwise(tail)
        .cast("int")
    )


def global_cumsum(
    df: DataFrame, order_cols, value_col: str, out: str = "cum"
):
    """Exact global running sum over a total order, no global window.

    Decimal-safe: per-partition totals are summed on the driver as
    ``decimal.Decimal`` so the broadcast offsets carry no float error.
    Returns ``(frame_with_<out>, grand_total)`` where *grand_total* is
    a Python number (``Decimal`` for decimal columns).
    """
    spark = df.sparkSession
    d = _range_partitioned(df, order_cols)
    w_local = (
        Window.partitionBy(_PID)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the running NON-NULL count rides along so NULL semantics stay
    # bit-identical to the global window: sum() over a prefix is NULL
    # iff the prefix holds ZERO non-null values — a partition-local
    # all-NULL prefix must still surface the PRIOR partitions' total
    # (coalesce), and only a globally-all-NULL prefix stays NULL
    d = d.withColumn(_LOCAL, F.sum(value_col).over(w_local))
    d = d.withColumn("__dw_nn", F.count(value_col).over(w_local))

    stats = {
        r[_PID]: (r["s"], r["c"])
        for r in d.groupBy(_PID)
        .agg(F.sum(value_col).alias("s"), F.count(value_col).alias("c"))
        .collect()
    }
    offsets, acc, cnt = [], 0, 0
    for pid in sorted(stats):
        offsets.append((pid, acc, cnt))
        s, c = stats[pid]
        if s is not None:
            acc += s
        cnt += int(c)
    local_type = d.schema[_LOCAL].dataType
    off = local_frame(spark, offsets, StructType([
        StructField(_PID, IntegerType()),
        StructField("__dw_off", local_type),
        StructField("__dw_cnt_off", LongType()),
    ]))
    result = (
        d.join(F.broadcast(off), _PID)
        .withColumn(
            out,
            F.when(
                F.col("__dw_nn") + F.col("__dw_cnt_off") == 0,
                F.lit(None).cast(local_type),
            ).otherwise(
                F.coalesce(F.col(_LOCAL), F.lit(0).cast(local_type))
                + F.col("__dw_off")
            ),
        )
        .drop(_PID, _LOCAL, "__dw_nn", "__dw_off", "__dw_cnt_off")
    )
    return result, acc
