"""Structured Streaming surface (SURVEY.md §2.9): windowed aggregation with
watermark + custom stateful sessionization via applyInPandasWithState,
driven end-to-end through a real file-source stream."""

from __future__ import annotations

import pytest

from ocr_spark.streaming import events as EV


@pytest.fixture(scope="module")
def events_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("events_src") / "events")
    rows = []
    base = 1_700_000_000
    for u in range(4):
        t = base + u * 7
        for s in range(3):  # 3 sessions per user, 1h apart
            for i in range(5):
                rows.append((u * 100 + s * 10 + i, t, u, "click" if i % 2 else "view", float(i)))
                t += 60  # 1 min apart → same session
            t += 3600  # gap > 30 min → new session
    df = spark.createDataFrame(
        rows, "event_id long, sec long, user_id long, event_type string, value double"
    ).selectExpr(
        "event_id", "timestamp_seconds(sec) as ts", "user_id", "event_type", "value",
        "'{}' as props",
    )
    df.coalesce(2).write.parquet(path)
    return path


def _drain(stream_df, tmp_path, name, expect_rows: int = 0):
    """Run an availableNow pass; stateful queries with pending
    processing-time timeouts keep scheduling empty batches (they would sit
    for the full gap duration waiting to flush open state), so once the
    sink holds the expected closed-output rows, stop explicitly."""
    import time

    spark = stream_df.sparkSession
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(
            "append" if name in ("sessions", "sessions_tws", "assembled", "dup_assembled") else "complete"
        )
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    deadline = time.time() + 120
    while time.time() < deadline:
        if q.awaitTermination(3):
            return q
        if expect_rows and spark.sql(f"select count(*) from {name}").collect()[0][0] >= expect_rows:
            break
    q.stop()
    q.awaitTermination(30)
    return q


def test_windowed_counts_stream_equals_batch(spark, events_path, tmp_path):
    stream = EV.read_events_stream(spark, events_path)
    assert stream.isStreaming
    _drain(EV.windowed_event_counts(stream), tmp_path, "wincounts")
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["value_sum"])
        for r in spark.sql("select * from wincounts").collect()
    }
    batch = EV.windowed_event_counts(spark.read.parquet(events_path))
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["value_sum"])
        for r in batch.collect()
    }
    assert got == want
    assert len(want) > 0


def test_stateful_sessionize_stream(spark, events_path, tmp_path):
    stream = EV.read_events_stream(spark, events_path)
    _drain(EV.sessionize(stream), tmp_path, "sessions", expect_rows=8)
    got = spark.sql("select * from sessions").collect()
    # availableNow + processing-time timeout: closed sessions are emitted for
    # every user; the final open session stays in state. 3 sessions/user were
    # written with >gap separation → at least the first two per user emit.
    by_user = {}
    for r in got:
        by_user.setdefault(r["user_id"], []).append(r)
    assert set(by_user) == {0, 1, 2, 3}
    for u, sess in by_user.items():
        assert len(sess) >= 2
        for s in sess:
            assert s["n_events"] == 5
            span = s["session_end"].timestamp() - s["session_start"].timestamp()
            assert span == 4 * 60


def test_sessionize_batch_agrees_with_stream_closed_sessions(spark, events_path, tmp_path):
    batch = EV.sessionize_batch(spark.read.parquet(events_path)).collect()
    assert len(batch) == 12  # 4 users × 3 sessions
    assert all(r["n_events"] == 5 for r in batch)


def test_streaming_span_assembly_matches_batch(spark, tmp_path):
    """Custom stateful streaming assembly == the batch salted pipeline on
    the same spans, for every finalized (eof-marked) document."""
    from pyspark.sql import functions as F

    from ocr_spark.operators.spans import assemble_spans, classify_spans
    from ocr_spark.plans.derived import span_corpus
    from ocr_spark.streaming.spans import assemble_spans_stream

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}x{j}" for j in range(40))) for i in range(20)],
        "doc_id long, text string",
    )
    corpus = span_corpus(docs)
    rows = corpus.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id", "s.kind", "s.text", "s.media_ref", F.col("s.offset").cast("long").alias("offset")
    )
    eofs = docs.selectExpr(
        "doc_id", "'eof' as kind", "'' as text", "'' as media_ref", "cast(999999 as long) as offset"
    )
    src = str(tmp_path / "span_rows")
    # two files → spans split across micro-batches; eof markers in the LAST file
    rows.filter("offset < 32").coalesce(1).write.mode("append").parquet(src)
    rows.filter("offset >= 32").unionByName(eofs).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(
        "doc_id long, kind string, text string, media_ref string, offset long"
    ).option("maxFilesPerTrigger", "1").parquet(src)
    _drain(assemble_spans_stream(stream), tmp_path, "assembled", expect_rows=20)
    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]]
        for r in spark.sql("select * from assembled where finalized").collect()
    }
    want = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]]
        for r in assemble_spans(classify_spans(corpus)).collect()
    }
    assert set(got) == set(want) == set(range(20))
    assert got == want


def test_streaming_assembly_duplicate_offset_tie_break(spark, tmp_path):
    """Duplicate offsets must produce the SAME order as the batch twin
    (full (offset, kind, text, media_ref) tuple, Spark null-first fields) —
    regardless of arrival order across micro-batches."""
    from pyspark.sql import functions as F  # noqa: F401

    from ocr_spark.operators.spans import assemble_spans, classify_spans
    from ocr_spark.streaming.spans import assemble_spans_stream

    # two docs; each has three spans AT THE SAME OFFSET plus normal ones,
    # arriving in reversed order across two files
    rows = [
        (1, "text", "zz ties last alphabetically here ok", None, 5),
        (1, "media", None, "img://b", 5),
        (1, "media", None, "img://a", 5),
        (1, "text", "first span with plenty of words to keep", None, 0),
        (2, "media", None, "img://x", 7),
        (2, "text", "aa ties first alphabetically in the doc", None, 7),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, kind string, text string, media_ref string, offset long"
    )
    eofs = spark.createDataFrame(
        [(1, "eof", "", "", 999999), (2, "eof", "", "", 999999)],
        "doc_id long, kind string, text string, media_ref string, offset long",
    )
    src = str(tmp_path / "dup_rows")
    # deterministic split with scrambled arrival: text spans (which sort
    # LAST within a tie) arrive in the FIRST micro-batch, media after
    df.filter("kind = 'text'").coalesce(1).write.mode("append").parquet(src)
    df.filter("kind = 'media'").unionByName(eofs).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = spark.readStream.schema(
        "doc_id long, kind string, text string, media_ref string, offset long"
    ).option("maxFilesPerTrigger", "1").parquet(src)
    _drain(assemble_spans_stream(stream), tmp_path, "dup_assembled", expect_rows=2)
    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]]
        for r in spark.sql("select * from dup_assembled where finalized").collect()
    }
    docs = df.groupBy("doc_id").agg(
        F.collect_list(
            F.struct(
                F.col("kind"),
                F.col("text"),
                F.col("media_ref"),
                F.col("offset").cast("int").alias("offset"),
            )
        ).alias("spans")
    )
    want = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]]
        for r in assemble_spans(classify_spans(docs)).collect()
    }
    assert got == want
    # the tie group is ordered media(null text, img://a) < media(img://b) < text
    k1 = [x for x in got[1] if x[3] >= 1]
    assert [x[2] for x in k1[:2]] == ["img://a", "img://b"]


def test_watermark_drops_late_events(spark, tmp_path):
    """Append-mode windowed counts with a watermark: a window only emits
    once the watermark passes it, and events arriving after that are
    DROPPED (state already closed) — the late-data contract at scale."""
    from pyspark.sql import functions as F

    import ocr_spark.streaming.events as EV

    src = str(tmp_path / "late_events")
    def mk(rows):
        return spark.createDataFrame(
            rows, "event_id long, sec long, user_id long, event_type string, value double, props string"
        ).selectExpr(
            "event_id", "timestamp_seconds(sec) as ts", "user_id",
            "event_type", "value", "props"
        )

    import time as _time

    base = 1_767_225_600  # 2026-01-01 00:00:00 UTC
    on_time = mk([
        (1, base + 600, 1, "click", 1.0, "{}"),
        (2, base + 1200, 1, "click", 1.0, "{}"),
    ])
    # two watermark-driver batches: the first advances the watermark past
    # the [00:00, 01:00) window end (04:00 - 2h > 01:00), the second is the
    # batch in which that window's state is EVICTED and emitted — the late
    # row must arrive after eviction to exercise the drop path (a late row
    # landing in the same batch as the eviction still merges: Spark's
    # guarantee is one-sided)
    driver1 = mk([(3, base + 4 * 3600, 1, "view", 1.0, "{}")])
    driver2 = mk([(5, base + 5 * 3600, 1, "view", 1.0, "{}")])
    late = mk([(4, base + 1800, 1, "click", 1.0, "{}")])  # late for [0,1h)
    # distinct mtimes → deterministic file order → one file per micro-batch
    for f in (on_time, driver1, driver2, late):
        f.coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", "1")  # reader option: one file per batch
        .parquet(src)
        .withWatermark("ts", "2 hours")
    )
    counts = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    q = (
        counts.writeStream.format("memory")
        .queryName("late_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_late"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (str(r["window_start"]), r["event_type"]): r["n_events"]
        for r in spark.sql("select * from late_counts").collect()
    }
    # the click window emitted with the TWO on-time events only; the late
    # third click (file 2, behind the watermark) was dropped
    click = [v for (w, t), v in rows.items() if t == "click"]
    assert click == [2], rows


def test_run_stream_assembly_batch_twin(spark, tmp_path):
    """The driver-surface wrapper (NoTimeout, availableNow, parquet sink)
    self-terminates and equals the batch pipeline span-for-span."""
    from pyspark.sql import functions as F

    from ocr_spark.operators.spans import assemble_spans, classify_spans
    from ocr_spark.plans.derived import span_corpus
    from ocr_spark.streaming.spans import run_stream_assembly

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}x{j}" for j in range(40))) for i in range(12)],
        "doc_id long, text string",
    )
    corpus = span_corpus(docs)
    got_df = run_stream_assembly(corpus, str(tmp_path / "rsa"))
    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]]
        for r in got_df.collect()
    }
    want = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]]
        for r in assemble_spans(classify_spans(corpus)).collect()
    }
    assert got == want
    assert all(len(v) > 0 for v in want.values())


def test_dedup_stream_equals_batch_distinct(spark, events_path, tmp_path):
    """§2.9: replayed-input dedup — a stream with every event delivered
    twice must come out identical to the batch distinct, with state
    bounded by the watermark."""
    dup_path = str(tmp_path / "dup_events")
    base = spark.read.parquet(events_path)
    base.unionByName(base).coalesce(2).write.parquet(dup_path)

    stream = EV.read_events_stream(spark, dup_path)
    deduped = EV.dedup_events(stream)
    assert deduped.isStreaming
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_ev")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["event_id"] for r in spark.sql("select event_id from dedup_ev").collect())
    want = sorted(r["event_id"] for r in base.select("event_id").distinct().collect())
    assert got == want


def test_rollup_cascade_equals_direct(spark):
    """Each cascaded level must equal a direct aggregation from raw —
    guaranteed by integer micro-unit sums (order-independent)."""
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from ocr_spark.streaming.events import rollup_cascade, wall_epoch_seconds

    t0 = datetime(2024, 3, 1)
    rows = [
        (i, t0 + timedelta(seconds=37 * i), i % 3, f"t{i % 2}", 0.1 * i + 0.003)
        for i in range(500)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    minute, hour, day = rollup_cascade(ev)

    def direct(factor):
        sec = wall_epoch_seconds(F.col("ts"))
        return (
            ev.select(sec.alias("__s"), "event_type",
                      F.round(F.coalesce(F.col("value"), F.lit(0.0)) * 1_000_000)
                      .cast("long").alias("vm"))
            .select(F.expr(f"__s div {factor}").alias("bucket"), "event_type", "vm")
            .groupBy("bucket", "event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                 F.sum("vm").cast("long").alias("value_micros"))
        )

    for lvl, factor in ((minute, 60), (hour, 3600), (day, 86400)):
        got = sorted(map(tuple, lvl.collect()))
        want = sorted(map(tuple, direct(factor).collect()))
        assert got == want, factor


def test_stream_stream_interval_join_equals_batch(spark, tmp_path):
    """A real two-source stream-stream interval join (availableNow, 2
    time-split microbatches per side, cross-boundary pairs held in join
    state) returns exactly the batch join."""
    from pyspark.sql import functions as F

    from ocr_spark.streaming.events import interval_join, run_stream_interval_join

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    streamed = run_stream_interval_join(ev, str(tmp_path), n_batches=2)
    batch = interval_join(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "click"),
    ).select(
        F.col("l.event_id").alias("left_id"),
        F.col("r.event_id").alias("right_id"),
    )
    got = sorted((r["left_id"], r["right_id"]) for r in streamed.collect())
    exp = sorted((r["left_id"], r["right_id"]) for r in batch.collect())
    assert got == exp and got


def test_stream_interval_join_left_outer_equals_batch(spark, tmp_path):
    """Left-outer streamed == batch: unmatched views appear exactly once
    with a NULL click, matched pairs identical to the inner join, and the
    watermark sentinel never leaks into the result."""
    from pyspark.sql import functions as F

    from ocr_spark.streaming.events import interval_join, run_stream_interval_join

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    streamed = run_stream_interval_join(
        ev, str(tmp_path / "sj"), n_batches=3, how="left_outer"
    )
    got = {(r["left_id"], r["right_id"]) for r in streamed.collect()}

    l = ev.filter(F.col("event_type") == "view")
    r = ev.filter(F.col("event_type") == "click")
    batch = interval_join(l, r, how="left_outer").select(
        F.col("l.event_id").alias("left_id"),
        F.col("r.event_id").alias("right_id"),
    )
    want = {(x["left_id"], x["right_id"]) for x in batch.collect()}
    assert got == want
    assert any(b is None for _, b in want), "fixture must exercise unmatched rows"
    assert any(b is not None for _, b in want), "fixture must exercise matches"
    assert all(a != -1 and b != -1 for a, b in got), "sentinel leaked"

    inner = {(a, b) for a, b in want if b is not None}
    inner_got = {
        (x["left_id"], x["right_id"])
        for x in interval_join(l, r).select(
            F.col("l.event_id").alias("left_id"),
            F.col("r.event_id").alias("right_id"),
        ).collect()
    }
    assert inner == inner_got  # outer extends inner, never changes it


def test_interval_join_rejects_unknown_how(spark):
    from ocr_spark.streaming.events import interval_join

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    with pytest.raises(ValueError, match="unsupported join type"):
        interval_join(ev, ev, how="full_outer")


def test_sessionize_state_machine_equals_batch_sessionize(spark, events_path):
    """Drive ``_sessionize_group`` (the applyInPandasWithState body of
    ``sessionize``) under a plain-Python GroupState through the full event
    history, one microbatch per event, then one timed-out call per user as
    the runtime makes after the gap — the emitted sessions must equal
    sessionize_batch row-for-row, including the open sessions the timeout
    flushes."""
    import pandas as pd

    from ocr_spark.streaming import events as EVM

    class FakeGroupState:
        def __init__(self):
            self._v = None
            self.hasTimedOut = False
            self.timeout_ms = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)

        def remove(self):
            self._v = None

        def setTimeoutDuration(self, ms):
            self.timeout_ms = ms

    ev = spark.read.parquet(events_path).orderBy("ts", "event_id").collect()
    by_user = {}
    for r in ev:
        by_user.setdefault(r["user_id"], []).append(r)

    emitted = []
    for user_id, rows in by_user.items():
        state = FakeGroupState()
        for r in rows:
            pdf = pd.DataFrame({"ts": [pd.Timestamp(r["ts"])]})
            emitted.extend(EVM._sessionize_group((user_id,), iter([pdf]), state))
        assert state.timeout_ms == EVM.SESSION_GAP_SECONDS * 1000
        state.hasTimedOut = True
        emitted.extend(EVM._sessionize_group((user_id,), iter([]), state))
        assert not state.exists  # the timeout flushed the open session

    got = sorted(
        (
            int(df["user_id"].iloc[0]),
            df["session_start"].iloc[0].timestamp(),
            df["session_end"].iloc[0].timestamp(),
            int(df["n_events"].iloc[0]),
        )
        for df in emitted
    )
    want = sorted(
        (
            r["user_id"],
            r["session_start"].timestamp(),
            r["session_end"].timestamp(),
            r["n_events"],
        )
        for r in EVM.sessionize_batch(spark.read.parquet(events_path)).collect()
    )
    assert got == want and len(got) == 12
