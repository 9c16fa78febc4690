"""Structured Streaming over the ``events`` table.

The reference has no streaming surface (SURVEY.md §2.5); this module is
part of the beyond-reference extension: watermarked tumbling/sliding
windows, session windows, and a stateful custom aggregation via
``applyInPandasWithState``-style semantics (expressed with
session_window — built-in — where possible).

The batch testdata (``events.parquet``) is replayed with
``spark.readStream`` + ``Trigger.AvailableNow`` so the streaming
pipeline runs hermetically and deterministically; results land in a
memory sink and are returned as a DataFrame for the oracle compare.
"""

from __future__ import annotations

import datetime
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..events_source import load_events, load_events_raw, normalize_event_ts

_SCRATCH = os.path.join(
    os.path.dirname(__file__), "..", "..", ".spark_tables", "streaming"
)


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dtype-robust ts handling shared with the batch path: the raw
    # loader probes the file's schema (enabling nanosAsLong only if the
    # vintage actually needs it), the stream declares that raw schema,
    # and normalize_event_ts branches on the loaded dtype
    batch = load_events_raw(spark, sf_dir)
    # the file-stream source requires a directory: stream the sf dir
    # with a glob filter selecting only the events file
    stream = (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_event_ts(stream)


def _stamp_batch_dir(path: str, t: float) -> None:
    """Stamp every file in a staged batch dir with mod-time ``t``: the
    file stream source replays in mod-time order, so ascending stamps
    fix the micro-batch order deterministically — no per-write sleeps,
    and immune to coarse filesystem mtime granularity."""
    for root_, _dirs, files in os.walk(path):
        for fn in files:
            os.utime(os.path.join(root_, fn), (t, t))


def _run_to_memory(
    result: DataFrame,
    name: str,
    mode: str = "complete",
    progress_out: list | None = None,
) -> DataFrame:
    """Drain the stream with availableNow into a memory sink.

    ``progress_out`` (optional) receives the query's recent progress
    dicts after the drain — the state-store metrics
    (``stateOperators[].numRowsTotal`` / ``numRowsRemoved``) are how
    tests assert that watermark eviction keeps state bounded.
    """
    spark = result.sparkSession
    checkpoint = os.path.join(_SCRATCH, f"ckpt_{name}_{uuid.uuid4().hex}")
    try:
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if progress_out is not None:
            progress_out.extend(q.recentProgress)
        # pin the drained rows independently of the memory sink, then
        # release BOTH leak surfaces: the checkpoint dir (hundreds
        # were accumulating under scratch across bench/test runs) and
        # the sink's temp view, which otherwise keeps every drained
        # result set alive in the driver for the session lifetime
        out = spark.sql(f"SELECT * FROM {name}").localCheckpoint(
            eager=True
        )
        spark.catalog.dropTempView(name)
        return out
    finally:
        shutil.rmtree(checkpoint, ignore_errors=True)


def tumbling_window_counts(
    spark: SparkSession, sf_dir: str, window: str = "1 hour",
    progress_out: list | None = None,
    source_factory=None, mode: str = "complete",
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type (streaming).

    ``source_factory``/``mode`` let callers replay a multi-batch staged
    source in append mode so watermark eviction is observable in the
    ``stateOperators`` metrics (see ``windowed_eviction_drain``); the
    default single-file complete-mode drain holds all window state
    until the final watermark (complete mode cannot evict by contract).
    """
    name = f"tumbling_{uuid.uuid4().hex[:8]}"
    ev = source_factory() if source_factory else _stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("__sum"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            F.col("__sum").cast("double").alias("sum_value"),
        )
    )
    return _run_to_memory(agg, name, mode=mode, progress_out=progress_out)


def sliding_window_rates(
    spark: SparkSession, sf_dir: str,
    window: str = "2 hours", slide: str = "1 hour",
    progress_out: list | None = None,
    source_factory=None, mode: str = "complete",
) -> DataFrame:
    name = f"sliding_{uuid.uuid4().hex[:8]}"
    ev = source_factory() if source_factory else _stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", window, slide).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )
    return _run_to_memory(agg, name, mode=mode, progress_out=progress_out)


def append_mode_out_of_order_replay(
    spark: SparkSession, sf_dir: str,
    window: str = "1 hour", delay: str = "1 hour",
) -> DataFrame:
    """Append-mode watermark finalization under out-of-order delivery,
    demonstrated deterministically: the stream is replayed as two
    micro-batches — the LATER half of the timeline first, then the
    earlier half arriving "late" (split hour-aligned so no window spans
    both batches). After batch 1 the watermark sits at max(ts) - delay.

    Observed Spark 4.1 semantics (verified empirically, see
    numRowsDroppedByWatermark=0 in query progress): late rows for
    windows that never had state are ADMITTED, aggregated, and
    immediately finalized on the next eviction — they are not silently
    dropped. Append mode emits a window exactly once, when the
    watermark passes its end. The deterministic final output is
    therefore: every hourly count whose window end <= max(ts) - delay
    — which is exactly the DuckDB oracle, making the whole
    out-of-order replay pipeline hash-checkable.
    """
    name = f"appmode_{uuid.uuid4().hex[:8]}"
    batch = load_events(spark, sf_dir)
    # hour-aligned split point: no window receives rows from both halves
    mid = batch.agg(
        F.expr("date_trunc('hour', timestamp_seconds("
               "percentile_approx(cast(ts as long), 0.5)))")
    ).collect()[0][0]
    stage = os.path.join(_SCRATCH, f"appmode_src_{uuid.uuid4().hex}")
    late_half = batch.filter(F.col("ts") >= F.lit(mid))
    early_half = batch.filter(F.col("ts") < F.lit(mid))
    import time as _time

    # b=0 stamped older -> processed as micro-batch 0; the writes sit
    # INSIDE the cleanup guard — a failure mid-staging must not
    # orphan the half-written scratch dir
    base_t = _time.time()
    try:
        late_half.coalesce(1).write.parquet(os.path.join(stage, "b=0"))
        _stamp_batch_dir(os.path.join(stage, "b=0"), base_t)
        early_half.coalesce(1).write.parquet(os.path.join(stage, "b=1"))
        _stamp_batch_dir(os.path.join(stage, "b=1"), base_t + 2)
        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(stage, "b=*"))
        )
        agg = (
            stream.withWatermark("ts", delay)
            .groupBy(F.window("ts", window).alias("w"))
            .agg(F.count("*").alias("n_events"))
            .select(F.col("w.start").alias("window_start"), "n_events")
        )
        return _run_to_memory(agg, name, mode="append")
    finally:
        # the memory sink holds the drained rows; the staged copy of
        # the events table is dead weight once the query terminated
        shutil.rmtree(stage, ignore_errors=True)


def stateful_user_stats(
    spark: SparkSession, sf_dir: str,
    progress_out: list | None = None,
    source_factory=None,
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user running event count and max value, carried in explicit
    state across micro-batches. State partitions by user_id — the same
    shuffle key as any keyed agg, so it scales horizontally; per-key
    state is O(1) (two numbers), so state-store size is bounded by the
    user-key cardinality, not the event volume.
    """
    import pandas as pd_  # local alias; module may be imported lazily
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    name = f"stateful_{uuid.uuid4().hex[:8]}"
    ev = source_factory() if source_factory else _stream_events(spark, sf_dir)

    def update(key, pdfs, state: GroupState):
        n, vmax = state.get if state.exists else (0, None)
        for pdf in pdfs:
            n += len(pdf)
            # Series.max() skips NULLs and is NaN only when every
            # value is NULL — treat that as "no value seen", so a
            # user with only NULL values emits NULL max_value like
            # the SQL MAX the oracle computes (never -inf)
            if len(pdf):
                m = pdf["value"].max()
                if not pd_.isna(m):
                    vmax = float(m) if vmax is None else max(
                        vmax, float(m)
                    )
        state.update((n, vmax))
        yield pd_.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "max_value": [vmax]}
        )

    out = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, max_value double",
        stateStructType="n bigint, vmax double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    drained = _run_to_memory(
        out, name, mode="update", progress_out=progress_out
    )
    # update-mode emits one row per key per micro-batch with cumulative
    # values; the per-key max is the final state even if the replay
    # split into several batches
    return (
        drained
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("max_value").alias("max_value"),
        )
    )


def streaming_dedup(spark: SparkSession, sf_dir: str,
                    progress_out: list | None = None,
                    source_factory=None) -> DataFrame:
    """Streaming exact deduplication on (user_id, event_type, hour):
    ``dropDuplicatesWithinWatermark`` keeps the first arrival per key
    and — unlike plain ``dropDuplicates`` on non-event-time keys —
    EVICTS state once the watermark passes, so dedup state stays
    bounded by the watermark horizon instead of growing with the
    stream. Keys sharing a clock-hour are by construction <1 hour
    apart, so the within-watermark semantics equal a global DISTINCT
    on this replay. Emits append-mode survivors; callers aggregate
    batch-side.

    ``source_factory`` (optional, like every watermarked sibling)
    replays a multi-batch staged source so the bounded-state claim is
    OBSERVABLE in ``progress_out`` (stateOperators numRowsRemoved) —
    the single-file default drains in one micro-batch where no
    eviction can occur; tests/test_streaming_eviction.py pins the
    staged form."""
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    src = source_factory() if source_factory else _stream_events(
        spark, sf_dir
    )
    ev = src.withColumn("hr", F.date_trunc("hour", F.col("ts")))
    survivors = ev.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["user_id", "event_type", "hr"]
    )
    return _run_to_memory(
        survivors.select("user_id", "event_type", "hr"), name, mode="append",
        progress_out=progress_out,
    )


def foreach_batch_upsert(
    spark: SparkSession, sf_dir: str, engine, n_splits: int = 4
) -> DataFrame:
    """Streaming -> mutation-verb integration: replay events as
    ``n_splits`` micro-batches (``maxFilesPerTrigger=1`` over a
    pre-split copy) and, in ``foreachBatch``, merge per-user running
    totals into a COW store table — the production pattern for keeping
    a serving table incrementally up to date from a stream. Each batch
    aggregates map-side first, then accumulates into the existing
    rows via the ``merge`` verb (upsert). Totals accumulate in
    DECIMAL(18,4) so micro-batch boundaries cannot change the bits."""
    table = "dbo.user_totals_stream"
    engine.create.table(
        table,
        {
            "user_id": "bigint",
            "n_events": "bigint",
            "sum_value": "decimal(18,4)",
        },
        primary_key_column="user_id",
    )

    # only (user_id, value) are projected; ts dtype is irrelevant here
    # but the shared loader tolerates either file vintage
    batch = load_events(spark, sf_dir)
    src_dir = os.path.join(_SCRATCH, f"fbu_src_{uuid.uuid4().hex}")

    def _sink(mb: DataFrame, batch_id: int) -> None:
        # foreachBatch is AT-LEAST-ONCE: a batch replayed after a
        # failure between the merge commit and the checkpoint offset
        # commit would double-accumulate this read-modify-write sink.
        # The applied-batch-id ledger rides the merge commit itself
        # (extra_properties), so the guard and the data can never
        # disagree — the standard idempotent-foreachBatch pattern.
        last = engine.store.meta(table).properties.get(
            "last_stream_batch_id"
        )
        if last is not None and batch_id <= last:
            return
        agg = mb.groupBy("user_id").agg(
            F.count("*").alias("__n"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("__s"),
        )
        cur = engine.read.table(table)
        combined = agg.join(cur, "user_id", "left").select(
            "user_id",
            (F.col("__n") + F.coalesce(F.col("n_events"), F.lit(0))).alias(
                "n_events"
            ),
            (
                F.col("__s")
                + F.coalesce(F.col("sum_value"), F.lit(0).cast("decimal(18,4)"))
            )
            .cast("decimal(18,4)")
            .alias("sum_value"),
        )
        engine.write.merge(
            table, combined, upsert=True,
            extra_properties={"last_stream_batch_id": batch_id},
        )

    checkpoint = os.path.join(_SCRATCH, f"ckpt_fbu_{uuid.uuid4().hex}")
    try:
        # the staging write sits inside the cleanup guard too — a
        # failure mid-write must not orphan the scratch copy
        batch.select("user_id", "value").repartition(
            n_splits
        ).write.parquet(src_dir)
        stream = (
            spark.readStream.schema("user_id bigint, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        q = (
            stream.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        # the result lives in the store table; the pre-split source
        # copy and the checkpoint are dead weight after the drain
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(checkpoint, ignore_errors=True)
    return engine.read.table(table)


def session_window_stats(
    spark: SparkSession, sf_dir: str, gap: str = "30 minutes",
    progress_out: list | None = None,
    source_factory=None, mode: str = "complete",
) -> DataFrame:
    """Session windows per user (gap-based), built-in session_window."""
    name = f"sessions_{uuid.uuid4().hex[:8]}"
    ev = source_factory() if source_factory else _stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            "user_id",
            "n_events",
        )
    )
    return _run_to_memory(agg, name, mode=mode, progress_out=progress_out)


def windowed_eviction_drain(
    spark: SparkSession, sf_dir: str, which: str,
    progress_out: list | None = None,
) -> DataFrame:
    """Drain one of the windowed-agg streaming entries against the
    4-batch staged source plus far-future sentinel batches, in APPEND
    output mode — the configuration under which watermark eviction is
    OBSERVABLE (``stateOperators[].numRowsRemoved`` > 0): the watermark
    advances between micro-batches, finalized windows emit, and their
    state rows are removed, so peak state stays below the full window
    set. Complete-mode drains cannot show this (complete output must
    retain every window by contract), which is why the gate entries'
    default drains report evicted=0 — this drain is the bounded-state
    evidence for THROUGHPUT.md and the eviction regression test.

    The sentinel batches sweep the watermark past every real window so
    the append-mode output, after stripping sentinel-era rows, is
    exactly the complete-mode (= batch = oracle) result — eviction and
    correctness are asserted on the SAME drain.
    """
    factory, stage = staged_event_source_factory(spark, sf_dir)
    add_sentinel_batch(spark, sf_dir, stage)
    # tz-AWARE cutoff, same reasoning as the factory's cut points: the
    # collected max(ts) is a naive datetime, and F.lit of a naive
    # value re-converts through the OS-local timezone — in a DST fold
    # hour on a non-UTC driver that shifts the load-bearing cutoff by
    # an hour and drops the final hour's real windows. Collecting the
    # epoch seconds and rebuilding an aware UTC datetime is exact.
    cutoff_s = (
        load_events(spark, sf_dir)
        .agg(F.max(F.col("ts").cast("long")).alias("t"))
        .first()["t"]
    )
    cutoff = datetime.datetime.fromtimestamp(
        int(cutoff_s), tz=datetime.timezone.utc
    )
    try:
        if which == "tumbling":
            out = tumbling_window_counts(
                spark, sf_dir, source_factory=factory, mode="append",
                progress_out=progress_out,
            )
            return out.filter(F.col("window_start") <= F.lit(cutoff))
        if which == "sliding":
            out = sliding_window_rates(
                spark, sf_dir, source_factory=factory, mode="append",
                progress_out=progress_out,
            )
            return out.filter(F.col("window_start") <= F.lit(cutoff))
        if which == "session":
            out = session_window_stats(
                spark, sf_dir, source_factory=factory, mode="append",
                progress_out=progress_out,
            )
            return out.filter(F.col("user_id") >= 0)
        raise ValueError(f"unknown windowed entry {which!r}")
    finally:
        # the memory sink holds the drained rows; the staged files are
        # no longer needed once the query terminated
        shutil.rmtree(stage, ignore_errors=True)


def staged_event_source_factory(spark: SparkSession, sf_dir: str,
                                n_batches: int = 4):
    """Stage the events table as ``n_batches`` hour-aligned,
    time-ordered parquet files with ascending mod-times, so
    ``availableNow`` + ``maxFilesPerTrigger=1`` replays them as ordered
    micro-batches and the watermark ADVANCES between batches — the
    setup that makes state eviction observable in ``stateOperators``
    metrics (single-file drains hold all state until the final
    watermark). Returns ``(factory, stage_dir)``; callers own cleanup
    of ``stage_dir``.
    """
    import time as _time

    batch = load_events(spark, sf_dir)
    # hour-aligned quantile cut points keep whole windows in one batch
    qs = ", ".join(str((i + 1) / n_batches) for i in range(n_batches - 1))
    secs = batch.select(
        F.expr(f"percentile_approx(cast(ts as long), array({qs}))").alias("p")
    ).collect()[0][0]
    # tz-AWARE cuts: F.lit of a naive datetime converts through the
    # OS-local timezone (TimestampType.toInternal), which would shift
    # the batch boundaries off hour alignment on any non-UTC driver;
    # aware UTC datetimes convert exactly under the UTC session tz
    cuts = [
        datetime.datetime.fromtimestamp(
            int(v) // 3600 * 3600, tz=datetime.timezone.utc
        )
        for v in secs
    ]
    stage = os.path.join(_SCRATCH, f"staged_src_{uuid.uuid4().hex}")
    base_t = _time.time()
    lo = None
    for i, hi in enumerate(cuts + [None]):
        part = batch
        if lo is not None:
            part = part.filter(F.col("ts") >= F.lit(lo))
        if hi is not None:
            part = part.filter(F.col("ts") < F.lit(hi))
        d = os.path.join(stage, f"b={i}")
        part.coalesce(1).write.parquet(d)
        # ascending mod-time stamps fix the replay order (sleep-free)
        _stamp_batch_dir(d, base_t + 2 * i)
        lo = hi
    schema = batch.schema

    def factory():
        return normalize_event_ts(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(stage, "b=*"))
        )

    return factory, stage


def add_sentinel_batch(spark: SparkSession, sf_dir: str, stage: str,
                       n_batches: int = 4) -> None:
    """Append one FAR-FUTURE sentinel batch (a view and a click for
    user_id -1, 30 days past the data) to a staged source: when it
    drains last, the watermark sweeps past every real row's join
    window, so OUTER stream-stream join results emit fully and the
    drained output is batch-equivalent. Without it, unmatched rows
    from the final real batch stay withheld in state forever — the
    standard last-batch caveat of watermarked outer joins."""
    import time as _time

    batch = load_events(spark, sf_dir)
    far = batch.agg(
        (F.max("ts") + F.expr("INTERVAL 30 DAYS")).alias("t")
    ).first()["t"]

    def typed(name, col):
        return col.cast(batch.schema[name].dataType).alias(name)

    # TWO sentinel batches: the first advances the watermark past every
    # real row's join window, the SECOND gives the engine a subsequent
    # micro-batch in which the newly-expired outer state actually emits
    # (watermark updates commit at batch end; eviction output surfaces
    # in the next batch — with a single sentinel the final real batch's
    # unmatched rows would stay withheld)
    for i in range(2):
        sent = spark.range(2).select(
            typed("event_id", F.lit(-1 - 2 * i) - F.col("id")),
            typed("ts", F.lit(far) + F.expr(f"INTERVAL {i} DAYS")),
            typed("user_id", F.lit(-1)),
            typed("event_type",
                  F.when(F.col("id") == 0, "view").otherwise("click")),
            typed("value", F.lit(0.0)),
            typed("props", F.lit(None)),
        ).select(*batch.columns)
        d = os.path.join(stage, f"b={n_batches + i}")
        sent.coalesce(1).write.parquet(d)
        # stamped far ahead of every staged batch (which used ~now)
        # so the sentinels always replay LAST, in order
        _stamp_batch_dir(d, _time.time() + 10_000 + 2 * i)


def _interval_view_click_join(factory, horizon: str, how: str) -> DataFrame:
    """Shared views x clicks interval-join construction for the inner
    and leftOuter stream-stream entries: ONE copy of the watermark /
    time-bounds / projection contract, so a horizon or condition fix
    cannot silently diverge between the two gate entries."""
    views = (
        factory()
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    clicks = (
        factory()
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    return views.join(
        clicks,
        F.expr(
            f"""v_user = c_user
            AND click_ts >= view_ts
            AND click_ts <= view_ts + INTERVAL {horizon}"""
        ),
        how,
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id", "click_id", "view_ts", "click_ts",
    )


def stream_stream_interval_join(
    spark: SparkSession,
    sf_dir: str,
    horizon: str = "6 hours",
    source_factory=None,
    progress_out: list | None = None,
) -> DataFrame:
    """Stream-stream inner join with watermarks and a time-interval
    condition (the attribution-join shape: each view joined to the
    same user's clicks within ``horizon`` after it).

    Both sides carry watermarks and the join condition bounds event
    time in BOTH directions, so Spark can evict join state once the
    watermark passes ``view_ts + horizon`` — bounded state at any
    scale; without the upper bound the state store grows forever.
    Inner stream-stream joins are batch-equivalent once the stream is
    fully drained (availableNow), which is what the DuckDB oracle
    replays.

    ``source_factory`` (optional) supplies the event stream — a
    zero-arg callable returning a ts-normalized streaming DataFrame —
    so tests can replay a multi-batch staged source and observe state
    eviction via ``progress_out`` (see ``_run_to_memory``).
    """
    if source_factory is None:
        source_factory = lambda: _stream_events(spark, sf_dir)  # noqa: E731
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    joined = _interval_view_click_join(source_factory, horizon, "inner")
    return _run_to_memory(joined, name, mode="append", progress_out=progress_out)


def stream_stream_left_join(
    spark: SparkSession,
    sf_dir: str,
    horizon: str = "6 hours",
    progress_out: list | None = None,
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER interval join: every view
    emits — matched with same-user clicks inside ``horizon``, or
    null-extended once the watermark proves no click can still arrive.
    The outer semantics are what make watermarks LOAD-BEARING: Spark
    may emit an unmatched view only after the join window is provably
    closed, so the query replays against a multi-batch staged source
    whose final FAR-FUTURE sentinel batch (add_sentinel_batch) sweeps
    the watermark past every real row — the drained output is then
    exactly the batch left join, which the oracle replays. Without the
    sentinel, unmatched views from the last real batch would be
    withheld in state forever (the standard outer-join caveat).
    """
    factory, stage = staged_event_source_factory(spark, sf_dir)
    add_sentinel_batch(spark, sf_dir, stage)
    name = f"sslj_{uuid.uuid4().hex[:8]}"
    joined = _interval_view_click_join(factory, horizon, "leftOuter")
    try:
        drained = _run_to_memory(
            joined, name, mode="append", progress_out=progress_out
        )
        # the sentinel row is excluded AFTER the drain: filtering it
        # inside the streaming query would be pushed down into the
        # parquet scans, strip the sentinel at the source, and stall
        # the watermark it exists to advance
        return drained.filter(F.col("user_id") >= 0)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def streaming_corpus_ingest_dedup(
    spark: SparkSession, sf_dir: str, engine, n_batches: int = 3
) -> DataFrame:
    """Streaming corpus ingest with exact dedup against the
    ACCUMULATED store — the production ingestion gate: each
    micro-batch keeps one winner per content fingerprint (min doc_id),
    anti-joins the store's existing fingerprints (keys-only — the
    corpus text never re-reads), and inserts only novel documents.
    A document seen in an earlier batch never lands twice; duplicate
    copies inside one batch collapse before the store is touched.

    Replay is hermetic: the corpus is staged as ``n_batches``
    doc_id-sliced files with ascending mod-times, so ``availableNow``
    + ``maxFilesPerTrigger=1`` drains them in a deterministic order
    and the final table is batch-order-reproducible — which is what
    lets a plain SQL oracle state the expected survivors exactly
    (first batch containing a fingerprint wins, min doc_id within
    it)."""
    import time as _time

    table = "dbo.corpus_stream"
    engine.create.table(
        table,
        {"doc_id": "bigint", "fingerprint": "char(32)", "n_chars": "bigint"},
        primary_key_column="doc_id",
    )
    base = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    # mirrored copy offset past the real id range (a fixed constant
    # would COLLIDE with real doc_ids once the corpus outgrows it —
    # two different texts sharing one PK value aborts the drain),
    # bumped off multiples of n_batches so every text recurs in a
    # DIFFERENT batch class and the cross-batch dedup path is
    # genuinely exercised, not just the within-batch collapse
    max_id = int(base.agg(F.max("doc_id")).first()[0])
    off = max_id + 1
    if off % n_batches == 0:
        off += 1
    docs = base.unionAll(
        base.select((F.col("doc_id") + off).alias("doc_id"), "text")
    )
    stage = os.path.join(_SCRATCH, f"ingest_src_{uuid.uuid4().hex}")
    base_t = _time.time()
    for k in range(n_batches):
        d = os.path.join(stage, f"b={k}")
        docs.filter(F.col("doc_id") % n_batches == k).coalesce(1).write.parquet(d)
        # ascending mod-time stamps fix the replay order (sleep-free)
        _stamp_batch_dir(d, base_t + 2 * k)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(stage, "b=*"))
    )

    def _sink(mb: DataFrame, _batch_id: int) -> None:
        cand = (
            mb.select(
                F.md5(F.col("text").cast("binary")).alias("fingerprint"),
                "doc_id",
                F.length("text").cast("bigint").alias("n_chars"),
            )
            .groupBy("fingerprint")
            .agg(
                F.min("doc_id").alias("doc_id"),
                F.min("n_chars").alias("n_chars"),
            )
        )
        seen = engine.read.table(table).select("fingerprint")
        fresh = cand.join(seen, "fingerprint", "left_anti")
        engine.write.insert(
            table, fresh.select("doc_id", "fingerprint", "n_chars")
        )

    checkpoint = os.path.join(_SCRATCH, f"ckpt_ing_{uuid.uuid4().hex}")
    try:
        q = (
            stream.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        # the result lives in the store table; the staged corpus copy
        # and the checkpoint are dead weight once the drain finished
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(checkpoint, ignore_errors=True)
    return engine.read.table(table)


def stateful_ewma(
    spark: SparkSession, sf_dir: str, progress_out: list | None = None
) -> DataFrame:
    """Streaming EWMA via ``applyInPandasWithState`` — the stateful
    twin of the batch higher-order fold (queries.py
    timeseries_ewma_quantized): per-user smoother state (last EWMA
    value in integer cents + event count) carried across micro-batches.
    The recurrence is the SAME int64 arithmetic as the batch form
    (floor((13q + 87e)/100) with exact-in-double operands), and the
    staged source replays time-ordered batches, so the drained final
    state is BIT-IDENTICAL to the batch computation — one oracle
    grades both. Per-key state is two numbers; state-store size is
    bounded by user cardinality, never event volume."""
    import math

    import pandas as pd_
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    name = f"sewma_{uuid.uuid4().hex[:8]}"
    factory, stage = staged_event_source_factory(spark, sf_dir, n_batches=3)
    ev = factory().select("user_id", "ts", "event_id", "value")

    def update(key, pdfs, state: GroupState):
        e, n = state.get if state.exists else (0, 0)
        frames = [p for p in pdfs if len(p)]
        if frames:
            pdf = pd_.concat(frames).sort_values(["ts", "event_id"])
            for v in pdf["value"]:
                if pd_.isna(v):
                    # NULL values contribute nothing, matching SQL
                    # aggregate NULL-skipping; int(floor(nan)) would
                    # abort the whole drain on any NULL-carrying
                    # events vintage
                    continue
                q = int(math.floor(v * 100 + 0.5))
                e = q if n == 0 else (13 * q + 87 * e) // 100
                n += 1
        state.update((int(e), int(n)))
        yield pd_.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "ewma_cents": [e]}
        )

    out = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, ewma_cents bigint",
        stateStructType="e bigint, n bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    try:
        drained = _run_to_memory(
            out, name, mode="update", progress_out=progress_out
        )
    finally:
        # also on a failed drain — a crash must not leak the 3-batch
        # staged copy of the events table permanently
        shutil.rmtree(stage, ignore_errors=True)
    # update-mode emits cumulative state per batch; n strictly grows,
    # so the final state per user is the max-n row
    return (
        drained
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("ewma_cents", "n_events").alias("ewma_cents"),
        )
    )


def incremental_mv_sink(
    engine, fact: str, mvt: str, mb: DataFrame, batch_id: int,
    fail_between_commits: bool = False,
) -> None:
    """One micro-batch of the stream->fact->CDC->MV loop — module-level
    so the replay/crash contract is directly testable. Skips legs a
    prior attempt already committed (each table's ledger rides its own
    commit); ``fail_between_commits`` injects the crash window between
    the fact insert and the MV merge for the replay tests."""
    from ..operators.incremental import apply_agg_delta

    sbid = str(batch_id)
    fsnap = engine.store.snapshot(fact)
    props = fsnap.meta.properties
    ledger = dict(props.get("applied_batches") or {})
    applied_through = props.get("applied_through", -1)
    if sbid not in ledger and batch_id <= applied_through:
        # a replay OLDER than the bounded ledger tail (deep checkpoint
        # rollback): the batch was fully applied before its entry was
        # evicted — re-inserting would violate the PK / double-count,
        # so the whole batch is a no-op
        return
    if sbid not in ledger:
        v_pre = fsnap.version
        ledger[sbid] = [v_pre, v_pre + 1]
        # bound the ledger: replays only ever arrive near the stream
        # tip (the checkpoint advances), so a 64-batch tail is ample —
        # an unbounded dict would grow the table meta forever on a
        # long-running stream. Evicted entries advance applied_through
        # (the high-water mark the deep-replay guard above checks).
        evict = (
            sorted(ledger, key=int)[: len(ledger) - 64]
            if len(ledger) > 64 else []
        )
        for k in evict:
            applied_through = max(applied_through, int(k))
            del ledger[k]
        engine.write.insert(
            fact,
            mb.select(
                "event_id", "user_id",
                F.col("value").cast("decimal(18,4)").alias("value"),
            ),
            extra_properties={
                "applied_batches": ledger,
                "applied_through": applied_through,
            },
            # pin the commit to land at exactly v_pre + 1: the ledger
            # entry written above RECORDS that window, and a foreign
            # writer racing between our meta read and this insert
            # would otherwise make [v_pre, v_pre+1] describe the
            # FOREIGN commit — the MV would apply its changes as this
            # batch's delta and miss the batch's own rows. With the
            # pin, the race fails this insert cleanly (ledger never
            # published) and the stream's retry replans from fresh
            # state.
            expected_version=v_pre,
        )
    if fail_between_commits:
        raise RuntimeError("injected crash between fact and MV commits")
    last_mv = engine.store.meta(mvt).properties.get("last_stream_batch_id")
    if last_mv is not None and batch_id <= last_mv:
        return
    v_pre, v_post = ledger[sbid]
    # the recorded window holds exactly THIS sink's insert commit
    # (expected_version-pinned above), so its change feed is
    # all-'insert' and equals the window's ADDED files — compute the
    # per-key delta as ONE plain aggregate over those files instead of
    # the generic CDC old/new union + relabel legs (r15: two AQE
    # stages per batch removed; replay semantics identical because the
    # same manifest diff fed table_changes). coalesce reproduces
    # agg_delta's NULL-value handling (an all-NULL group sums to 0,
    # not NULL) and count(*) its NULL-inclusive row count.
    s_post = engine.store.snapshot(fact, v_post)
    mf_old, mf_new = engine.store.version_file_sets(
        engine.store.snapshot(fact, v_pre), s_post
    )
    batch_rows = engine.store.read_files(s_post, sorted(mf_new - mf_old))
    # pin the (small) delta ONCE: every consumer below — the MV
    # key-slice, apply_agg_delta's two join legs — re-plans it, and
    # the merge re-executes it inside its source staging write;
    # without the pin each of those re-ran the aggregate.
    delta = batch_rows.selectExpr(
        "user_id",
        "CAST(1 AS BIGINT) AS __c",
        "coalesce(value, CAST(0 AS decimal(18,4))) AS __v",
    ).groupBy("user_id").agg(
        F.expr("CAST(sum(__c) AS BIGINT) AS d_n_rows"),
        F.expr("sum(__v) AS d_sum_value"),
    ).localCheckpoint(eager=True)
    mv_cur = engine.read.table(mvt)
    # slice the MV to the batch's keys BEFORE applying the delta:
    # apply_agg_delta's work (and the merge's staged source) is then
    # ∝ the batch's keys, never the MV. No ``.distinct()`` on the key
    # frame — delta is per-key unique by construction (an aggregate
    # output), and a semi join ignores right-side duplicates anyway,
    # so the distinct was one pure-overhead exchange per batch (r15).
    # Null-safe match keeps the slice a superset of every delta key.
    dk = delta.select(F.col("user_id").alias("__dk_user_id"))
    mv_touched = mv_cur.join(
        F.broadcast(dk),
        F.col("user_id").eqNullSafe(F.col("__dk_user_id")),
        "left_semi",
    )
    new_mv = apply_agg_delta(
        mv_touched, delta, ["user_id"], ["sum_value"], delta_pinned=True
    )
    # only the batch's keys changed — merge that slice (an append-only
    # fact can never empty a key, so no delete leg). new_mv carries
    # ONLY delta keys by construction (both apply_agg_delta legs
    # derive from the delta and the delta-key-sliced MV), so the old
    # changed-keys semi join here was algebraically the identity — the
    # slice above made it redundant; r15 drops it (one less exchange
    # in the staged merge source per batch).
    engine.write.merge(
        mvt, new_mv, match_columns=["user_id"], upsert=True,
        extra_properties={"last_stream_batch_id": batch_id},
    )


def foreach_batch_incremental_mv(
    spark: SparkSession, sf_dir: str, engine, n_splits: int = 4
) -> DataFrame:
    """The full warehouse loop from a stream, exactly-once: each
    micro-batch (1) APPENDs raw events to a fact table, (2) derives
    that batch's change feed from the store's manifest CDC between the
    insert's pre/post versions, (3) converts it to per-user aggregate
    deltas and merges ONLY the changed keys into an MV table — the MV
    write cost is ∝ the batch's keys, never the MV. The composition of
    independently-graded pieces (insert, table_changes, agg_delta /
    apply_agg_delta, merge) that a production serving pipeline runs.

    Exactly-once across replays (foreachBatch is at-least-once): the
    fact table's applied-batch ledger records ``batch_id -> [v_pre,
    v_post]`` and RIDES the insert commit; the MV table's ledger rides
    its merge commit. A crash between the two commits replays into:
    fact ledger has the batch (skip the re-insert), MV ledger is
    behind (apply the delta from the RECORDED version window) — the
    pair converges with no double count, because each guard and its
    data publish atomically.
    """
    fact = "dbo.events_fact_stream"
    mvt = "dbo.user_mv_stream"
    engine.create.table(
        fact,
        {"event_id": "bigint", "user_id": "bigint",
         "value": "decimal(18,4)"},
        primary_key_column="event_id",
    )
    engine.create.table(
        mvt,
        {"user_id": "bigint", "n_rows": "bigint",
         "sum_value": "decimal(18,4)"},
        primary_key_column="user_id",
    )

    def _sink(mb: DataFrame, batch_id: int) -> None:
        incremental_mv_sink(engine, fact, mvt, mb, batch_id)

    batch = load_events(spark, sf_dir).withColumn(
        "event_id", F.monotonically_increasing_id()
    )
    # monotonically_increasing_id is partition-dependent — freeze ids
    # once so every consumer (and a replay) sees the same assignment
    src_dir = os.path.join(_SCRATCH, f"fbmv_src_{uuid.uuid4().hex}")
    checkpoint = os.path.join(_SCRATCH, f"ckpt_fbmv_{uuid.uuid4().hex}")
    # wall-clock stabilization (VERDICT r12 #4): the loop's cost is
    # micro-batch SCHEDULING — each batch runs a dozen small driver
    # jobs (insert validation agg, manifest commit, CDC read, delta
    # merge) whose task count is shuffle.partitions-shaped, not
    # data-shaped at this scale. Two files per trigger keeps the
    # multi-batch replay contract exercised (2 batches > 1) while
    # halving the batch count, and a scoped shuffle-partition
    # reduction shrinks per-job task scheduling; the conf restores
    # before the (shuffle-free, parquet-scan) result is returned, so
    # no downstream plan sees it.
    sp_key = "spark.sql.shuffle.partitions"
    sp_saved = spark.conf.get(sp_key)
    try:
        spark.conf.set(sp_key, "8")
        (
            batch.select("event_id", "user_id", "value")
            .repartition(n_splits)
            .write.parquet(src_dir)
        )
        stream = (
            spark.readStream.schema(
                "event_id bigint, user_id bigint, value double"
            )
            .option("maxFilesPerTrigger", 2)
            .parquet(src_dir)
        )
        q = (
            stream.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set(sp_key, sp_saved)
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(checkpoint, ignore_errors=True)
    return engine.read.table(mvt)
