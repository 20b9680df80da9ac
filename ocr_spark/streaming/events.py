"""Structured Streaming surface (SURVEY.md §2.9: the reference is batch-only;
this module is the engine's streaming extension over the `events` table).

- ``windowed_event_counts``: tumbling-window counts/sums with a watermark —
  works identically on batch and streaming DataFrames (same expression).
- ``read_events_stream``: file-source stream over the events parquet.
- ``sessionize``: custom stateful operator via applyInPandasWithState —
  session windows with a gap timeout (the pattern for reference-style
  per-document stateful assembly in a streaming setting).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_GAP_SECONDS = 30 * 60


def wall_epoch_seconds(c):
    """Wall-clock epoch seconds (fraction truncated) from calendar fields —
    identical for TIMESTAMP and TIMESTAMP_NTZ inputs (a bare
    ts.cast('long') is illegal on NTZ and tz-dependent on LTZ).

    NOTE: on TIMESTAMP (LTZ) the calendar fields themselves evaluate in the
    session timezone, so this is only session-tz-independent for NTZ. The
    engine pins spark.sql.session.timeZone=UTC (session.get_spark), which
    all LTZ callers (sessionize gap math included) REQUIRE — a DST-shifting
    session zone would warp gaps across transitions."""
    return (
        F.datediff(F.to_date(c), F.lit("1970-01-01").cast("date")).cast("long") * 86400
        + F.hour(c).cast("long") * 3600
        + F.minute(c).cast("long") * 60
        + F.second(c).cast("long")
    )

SESSION_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, n_events long"
)
STATE_SCHEMA = "start long, end long, n long"


def windowed_event_counts(events: DataFrame, window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window per-type counts + value sums. On a stream the
    watermark bounds state; on a batch frame it is a no-op."""
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return (
        src.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("value_sum"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    return spark.readStream.schema(schema).parquet(path)


def _sessionize_group(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        start, end, n = state.get
    else:
        start, end, n = None, None, 0
    # the group may arrive as several Arrow chunks in arbitrary ts order —
    # sorting each chunk separately would mis-split sessions, so gather first
    all_ts: list[int] = []
    for pdf in pdfs:
        all_ts.extend((pdf["ts"].astype("int64") // 1_000_000_000).tolist())
    for t in sorted(all_ts):
        if start is None:
            start, end, n = int(t), int(t), 1
        elif t - end <= SESSION_GAP_SECONDS:
            end, n = max(end, int(t)), n + 1
        else:
            yield pd.DataFrame(
                {"user_id": [user_id],
                 "session_start": [pd.Timestamp(start, unit="s")],
                 "session_end": [pd.Timestamp(end, unit="s")],
                 "n_events": [n]}
            )
            start, end, n = int(t), int(t), 1
    if state.hasTimedOut:
        if start is not None:
            yield pd.DataFrame(
                {"user_id": [user_id],
                 "session_start": [pd.Timestamp(start, unit="s")],
                 "session_end": [pd.Timestamp(end, unit="s")],
                 "n_events": [n]}
            )
        state.remove()
    else:
        state.update((start if start is not None else 0, end if end is not None else 0, n))
        state.setTimeoutDuration(SESSION_GAP_SECONDS * 1000)


def sessionize(events: DataFrame) -> DataFrame:
    """Custom stateful session windows (gap = 30 min) over a stream."""
    return events.groupBy("user_id").applyInPandasWithState(
        _sessionize_group,
        SESSION_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.ProcessingTimeTimeout,
    )


def sessionize_batch(events: DataFrame, gap_seconds: int = SESSION_GAP_SECONDS) -> DataFrame:
    """Batch-equivalent session windows (for oracle checking): classic
    lag/cumsum session assignment — two window passes, one shuffle."""
    from pyspark.sql import Window

    # (ts, event_id) total order: ties on ts would otherwise make session
    # membership of a gap-straddling tie group nondeterministic.
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = wall_epoch_seconds(F.col("ts"))
    new_sess = (sec - F.lag(sec).over(w) > gap_seconds).cast("int")
    with_id = events.select("user_id", "event_id", "ts").withColumn(
        "sess_id", F.sum(F.coalesce(new_sess, F.lit(0))).over(w)
    )
    return (
        with_id.groupBy("user_id", "sess_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )


def dedup_events(events: DataFrame, key_cols: tuple[str, ...] = ("event_id",),
                 watermark: str = "2 hours") -> DataFrame:
    """Exactly-once event dedup for at-least-once sources (replayed
    Kafka/file batches). On a stream, ``dropDuplicatesWithinWatermark``
    keeps each key's state only until the watermark passes it — bounded
    state at any input rate, the scale requirement a plain streaming
    dropDuplicates (unbounded state) violates. On a batch frame it is the
    ordinary distinct-by-key."""
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            list(key_cols)
        )
    return events.dropDuplicates(list(key_cols))


def rollup_cascade(events: DataFrame, value_col: str = "value"):
    """Multi-resolution continuous aggregates (the hypertable-rollup /
    warehouse-cube shape): minute → hour → day per-event-type counts and
    value sums, where every coarser level aggregates THE PREVIOUS LEVEL,
    never the raw events — at 10^12 events the day table reads 1,440×
    fewer rows than a raw rescan, and in a streaming deployment each
    level is an independent incremental materialization.

    Exactness contract: values are quantized to integer micro-units
    (round(value·10⁶) as int64) at the finest level, so every cascaded
    sum is an order-independent integer and the cascade provably equals a
    direct aggregation from raw — float sums would drift between the two
    paths (non-associative addition) and between engines. Time buckets
    are integer epoch division (wall_epoch_seconds div 60/3600/86400) —
    engine-neutral, timezone-pinned.

    Returns (minute_df, hour_df, day_df); each has
    (bucket long, event_type, n_events long, value_micros long)."""
    sec = wall_epoch_seconds(F.col("ts"))
    minute = (
        events.select(
            sec.alias("__sec"),
            "event_type",
            F.round(F.coalesce(F.col(value_col), F.lit(0.0)) * 1_000_000)
            .cast("long")
            .alias("__vm"),
        )
        .select(
            F.expr("__sec div 60").alias("bucket"),
            "event_type",
            "__vm",
        )
        .groupBy("bucket", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("__vm").cast("long").alias("value_micros"),
        )
    )

    def up(df: DataFrame, factor: int) -> DataFrame:
        return (
            df.select(
                F.expr(f"bucket div {factor}").alias("bucket"),
                "event_type",
                "n_events",
                "value_micros",
            )
            .groupBy("bucket", "event_type")
            .agg(
                F.sum("n_events").cast("long").alias("n_events"),
                F.sum("value_micros").cast("long").alias("value_micros"),
            )
        )

    hour = up(minute, 60)
    day = up(hour, 24)
    return minute, hour, day


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    max_delay_minutes: int = 30,
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream INNER interval join: right-side events that follow a
    left-side event by the same key within ``max_delay_minutes`` (the
    view→click attribution shape).  On streaming inputs both sides get
    watermarks and the time-range predicate is what lets Spark EXPIRE
    join state — a left row leaves state once the right watermark passes
    ``l.ts + max_delay``; without the bound, stream-stream join state
    grows forever.  On batch frames the same condition is an ordinary
    join: one expression, both execution modes.

    ``how="left_outer"`` emits unmatched left rows with NULL right
    columns — on streams, only once the watermark proves no match can
    still arrive (Spark holds the row in state until the global
    watermark passes ``l.ts + max_delay``), which is the case where
    watermark-bounded state is not just a memory bound but a
    CORRECTNESS gate: emit earlier and a late match would contradict
    the NULL row."""
    if how not in ("inner", "left_outer"):
        raise ValueError(f"unsupported join type {how!r}")
    l = (left.withWatermark("ts", watermark) if left.isStreaming else left).alias("l")
    r = (right.withWatermark("ts", watermark) if right.isStreaming else right).alias(
        "r"
    )
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col("r.ts") >= F.col("l.ts"))
        & (
            F.col("r.ts")
            <= F.col("l.ts") + F.expr(f"INTERVAL {int(max_delay_minutes)} MINUTES")
        )
    )
    return l.join(r, cond, how)


def run_stream_interval_join(
    events: DataFrame,
    work_dir: str,
    left_type: str = "view",
    right_type: str = "click",
    max_delay_minutes: int = 30,
    n_batches: int = 2,
    how: str = "inner",
) -> DataFrame:
    """Drive ``interval_join`` end-to-end as a real stream-stream join
    over two file sources and return the joined rows as a batch frame.

    Each side is split into ``n_batches`` files by TIME (in-order-ish
    arrival, the realistic shape), so cross-boundary pairs exercise
    retained join state while no row ever arrives behind the watermark —
    which is exactly why the streamed result must equal the batch join
    (the driver oracle): with in-order arrival the watermark only ever
    evicts state that can no longer match.

    For ``how="left_outer"`` a finite stream needs one more ingredient:
    unmatched rows emit only when the watermark PASSES their join window,
    and Spark's watermark advances from observed data — the last real
    rows would stay in state forever. A sentinel event far past the real
    time range is appended to BOTH sources (the global watermark is the
    min across inputs) purely to drive the watermark, then filtered out
    of the result. Production streams don't need it (data keeps
    arriving); it is the finite-replay equivalent of "the next day's
    traffic"."""
    import os
    import time

    spark = events.sparkSession
    lo, hi = events.agg(
        F.min(wall_epoch_seconds(F.col("ts"))), F.max(wall_epoch_seconds(F.col("ts")))
    ).collect()[0]
    schema = events.schema
    srcs = {}
    base_t = time.time()
    wm_margin_s = max_delay_minutes * 60 + 2 * 3600 + 86400
    for name, etype in (("left", left_type), ("right", right_type)):
        side = events.filter(F.col("event_type") == etype)
        if how == "left_outer":
            # watermark-driver sentinel: one event per side, one margin
            # past every real join window; user_id -999999 so it can
            # never pair with a real row, stripped after the read-back
            dtypes = dict(events.dtypes)
            sentinel = events.limit(1).select(
                *[
                    F.lit(-1).cast("long").alias(c)
                    if c == "event_id"
                    else F.lit(-999999).cast("long").alias(c)
                    if c == "user_id"
                    else F.lit(etype).alias(c)
                    if c == "event_type"
                    else F.timestamp_seconds(F.lit(hi + wm_margin_s))
                    .cast(dtypes[c])
                    .alias(c)
                    if c == "ts"
                    else F.lit(None).cast(dtypes[c]).alias(c)
                    for c in events.columns
                ]
            )
            side = side.unionByName(sentinel)
        src = os.path.join(work_dir, f"{name}_src")
        os.makedirs(src, exist_ok=True)
        # ONE write job per side: bucket rows into their time batch (the
        # exact same [b_lo, b_hi) slices the per-batch filters used) and
        # let partitionBy fan the buckets into directories; rows past hi
        # (the sentinel) land in bucket n_batches. repartition(1) is fine
        # here — this loop is the finite-replay HARNESS, not the
        # production stream; 2N+2 separate filter-and-write jobs cost
        # more in job launches than the data does.
        sec = wall_epoch_seconds(F.col("ts"))
        bidx = F.lit(n_batches)
        for i in reversed(range(n_batches)):
            b_lo = lo + (hi - lo + 1) * i // n_batches
            b_hi = lo + (hi - lo + 1) * (i + 1) // n_batches
            bidx = F.when(sec.between(b_lo, b_hi - 1), F.lit(i)).otherwise(bidx)
        tmp = os.path.join(work_dir, f"{name}_tmp")
        (
            side.withColumn("__b", bidx)
            .repartition(1)
            .write.mode("overwrite")
            .partitionBy("__b")
            .parquet(tmp)
        )
        n_files = n_batches + (1 if how == "left_outer" else 0)
        for i in range(n_files):
            d = os.path.join(tmp, f"__b={i}")
            if not os.path.isdir(d):  # empty time slice: nothing arrives
                continue
            (pq,) = [n for n in os.listdir(d) if n.endswith(".parquet")]
            dst = os.path.join(src, f"batch-{i}.parquet")
            os.replace(os.path.join(d, pq), dst)
            # the file source replays files in modification-time order:
            # pin mtimes so batch i streams strictly before batch i+1
            os.utime(dst, (base_t + i, base_t + i))
        srcs[name] = src
    # watermarks require the LTZ TIMESTAMP type; an NTZ corpus (the
    # session hardening default) is cast at the source — the join
    # condition only ever compares ts DIFFERENCES, which the fixed-offset
    # reinterpretation preserves (the engine pins the session to UTC)
    lstream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(srcs["left"])
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    rstream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(srcs["right"])
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    joined = interval_join(
        lstream, rstream, max_delay_minutes=max_delay_minutes, how=how
    ).select(
        F.col("l.event_id").alias("left_id"),
        F.col("r.event_id").alias("right_id"),
        F.col("l.user_id").alias("user_id"),
        F.col("l.ts").alias("left_ts"),
        F.col("r.ts").alias("right_ts"),
    )
    out = os.path.join(work_dir, "out")
    # A stream-stream join keeps 4 state stores per shuffle partition and
    # commits every one of them per microbatch — with maxFilesPerTrigger=1
    # forcing one microbatch per file, per-batch store-commit overhead
    # scales with the partition count, not the data (measured: a 2-row
    # microbatch cost 3.2s at 32 partitions). The join result is
    # partition-count-invariant, so the replay harness pins a small state
    # parallelism; a production stream sizes this to executors × keys at
    # job submit (the conf is fixed at first checkpoint anyway).
    sess_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(min(8, int(sess_sp or 8)))
    )
    try:
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", os.path.join(work_dir, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", sess_sp)
    res = spark.read.parquet(out)
    if how == "left_outer":
        res = res.filter(F.col("user_id") != -999999)
    return res
