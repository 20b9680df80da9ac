"""Streaming span assembly — the reference's per-document dataflow as a
custom stateful Structured Streaming operator (SURVEY.md §2.9).

Spans for a document may arrive across many micro-batches (a crawler
emitting pages, an OCR fleet emitting boxes). State per ``doc_id``
accumulates (kind, text, media_ref, offset) tuples; the ordered sequence
(the same span-sequence contract as the batch pipeline: order = rank of
offset among kept spans) is emitted when either

- a finalize marker arrives (a span with kind='eof'), or
- the group times out (no new spans for ``FLUSH_MS``) — the crash-safe
  flush for documents whose producer died mid-stream.

Boilerplate spans are dropped with the SAME rule as the batch path
(operators/spans.is_boilerplate), applied batch-side as a plain filter so
the stateful operator only ever stores kept spans. The batch twin of this
operator is operators/spans.assemble_spans; the test suite checks the two
produce identical sequences on the same input.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ocr_spark.operators.spans import is_boilerplate, span_rows

FLUSH_MS = 30_000

OUT_SCHEMA = (
    "doc_id long, spans array<struct<kind:string,text:string,media_ref:string,order:int>>, "
    "finalized boolean"
)
STATE_SCHEMA = (
    "kinds array<string>, texts array<string>, refs array<string>, offsets array<long>"
)


def _emit(doc_id: int, kinds, texts, refs, offsets, finalized: bool) -> pd.DataFrame:
    # The canonical span order (operators/spans.SPAN_ORDER, owned there) in
    # pandas: the full (offset, kind, text, media_ref) tuple, so duplicate
    # offsets tie-break the same way as the batch twin's sort_array over
    # span_key structs. Arrival index would be nondeterministic across
    # micro-batch boundaries/retries. Spark's ascending struct ordering puts
    # null fields FIRST; mirror that with (is-not-null, value) sub-keys.
    def _nf(v):  # null-first ordering of an optional string, Spark-style
        return (v is not None, v if v is not None else "")

    order = sorted(
        range(len(offsets)),
        key=lambda i: (offsets[i], _nf(kinds[i]), _nf(texts[i]), _nf(refs[i])),
    )
    spans = [
        {"kind": kinds[i], "text": texts[i], "media_ref": refs[i], "order": rank}
        for rank, i in enumerate(order)
    ]
    return pd.DataFrame({"doc_id": [doc_id], "spans": [spans], "finalized": [finalized]})


def _assemble_group(key, pdfs: Iterator[pd.DataFrame], state: GroupState, timeout: bool = True):
    (doc_id,) = key
    kinds, texts, refs, offsets = ([], [], [], []) if not state.exists else [
        list(x) for x in state.get
    ]
    saw_eof = False
    for pdf in pdfs:
        for kind, text, ref, off in zip(
            pdf["kind"].tolist(), pdf["text"].tolist(), pdf["media_ref"].tolist(), pdf["offset"].tolist()
        ):
            if kind == "eof":
                saw_eof = True
                continue
            kinds.append(kind)
            texts.append(text)
            refs.append(ref)
            offsets.append(int(off))
    if saw_eof:
        yield _emit(int(doc_id), kinds, texts, refs, offsets, True)
        state.remove()
    elif state.hasTimedOut:
        if offsets:
            yield _emit(int(doc_id), kinds, texts, refs, offsets, False)
        state.remove()
    else:
        state.update((kinds, texts, refs, offsets))
        if timeout:
            state.setTimeoutDuration(FLUSH_MS)


def assemble_spans_stream(span_rows: DataFrame, timeout: bool = True) -> DataFrame:
    """Input (streaming): (doc_id, kind, text, media_ref, offset) rows.
    Output (append): (doc_id, spans, finalized) — one row per assembled doc.

    ``timeout=False`` disables the crash-safe idle flush (NoTimeout state):
    for eof-terminated replay inputs this lets an availableNow pass terminate
    by itself instead of scheduling timeout-check batches forever."""
    import functools

    kept = span_rows.filter(
        (F.col("kind") == "eof")
        | (F.col("kind") == "media")
        | ~is_boilerplate(F.col("text"))
    )
    return kept.groupBy("doc_id").applyInPandasWithState(
        functools.partial(_assemble_group, timeout=timeout),
        OUT_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout
        else GroupStateTimeout.NoTimeout,
    )


def run_stream_assembly(corpus: DataFrame, work_dir: str, n_batches: int = 2) -> DataFrame:
    """Drive the stateful streaming assembly end-to-end over a real file
    source and return the finalized results as a BATCH DataFrame of
    (doc_id, spans, finalized) — the batch-twin driver surface.

    ``corpus`` is the batch span table (doc_id, spans array<struct<kind,
    text, media_ref, offset>>). Its exploded rows are split across
    ``n_batches`` parquet files (offset-striped so every document straddles
    micro-batch boundaries) with per-doc ``eof`` markers in the LAST file,
    then streamed with maxFilesPerTrigger=1 so each file is one micro-batch.
    Every document finalizes via its eof marker (never the timeout path),
    so an availableNow pass terminates with all state cleanly removed.
    """
    import os
    import time

    from pyspark.sql import functions as SF

    spark = corpus.sparkSession
    rows = span_rows(corpus).withColumn("offset", SF.col("offset").cast("long"))
    eofs = corpus.select(
        "doc_id",
        SF.lit("eof").alias("kind"),
        SF.lit("").alias("text"),
        SF.lit("").alias("media_ref"),
        SF.lit(999_999_999).cast("long").alias("offset"),
    )
    n_docs = corpus.count()
    src = os.path.join(work_dir, "span_rows_src")
    # offset-striped split: file i gets offsets ≡ i (mod n_batches); written
    # in order so the file source (modification-time ordered) replays them
    # as successive micro-batches, eofs strictly last
    base_t = time.time()
    for i in range(n_batches):
        seen = set(os.listdir(src)) if os.path.isdir(src) else set()
        part = rows.filter(SF.col("offset") % n_batches == i)
        if i == n_batches - 1:
            part = part.unionByName(eofs)
        part.coalesce(1).write.mode("append").parquet(src)
        # FileStreamSource orders by mtime, ties broken by arbitrary
        # filename order; on a coarse-granularity filesystem (1 s mtimes
        # on some network/object-store mounts) a tie could schedule the
        # eof file FIRST, finalizing docs before their spans arrive.
        # Stamp each batch's files with an explicitly increasing mtime
        # instead of trusting sleep+clock resolution.
        t = base_t + (i + 1) * 2.0
        for f in set(os.listdir(src)) - seen:
            if f.endswith(".parquet"):
                os.utime(os.path.join(src, f), (t, t))

    stream = (
        spark.readStream.schema(
            "doc_id long, kind string, text string, media_ref string, offset long"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out_dir = os.path.join(work_dir, "assembled_out")
    # timeout=False: with processing-time timeouts on, pending timeout checks
    # registered in earlier micro-batches keep the availableNow query
    # scheduling empty batches forever (measured: no self-termination in
    # 150 s after full output), forcing a mid-batch q.stop(). Every doc here
    # finalizes via its eof marker, so the idle-flush timeout adds nothing
    # and NoTimeout lets the pass terminate cleanly on its own.
    q = (
        assemble_spans_stream(stream, timeout=False)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", os.path.join(work_dir, "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        q.awaitTermination(30)
    n_out = spark.read.parquet(out_dir).count()
    if n_out < n_docs:
        raise RuntimeError(f"stream assembly incomplete: {n_out}/{n_docs} docs finalized")
    return spark.read.parquet(out_dir).filter("finalized")
