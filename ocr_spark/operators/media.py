"""Multimodal column plumbing (images/audio/video as opaque binary + typed
metadata), with the decode step STUBBED (no image/audio libs in this
container) behind a deterministic fake — the Spark-side contract (schemas,
Arrow batching, partitioning) is real and tested.

Reference analog: the image pipeline I1–I10 (ocr_service.py:202-288,
noise_handler.py) — bytes → decode → preprocess → features. Here the
per-row kernels run inside ``mapInPandas`` (Arrow batches), the idiomatic
place for binary-heavy per-row logic on a 1000-executor cluster: no shuffle,
pipelined with the scan, batch-amortized model/codec initialization via an
executor-global singleton (the reference's service-level reader cache,
main.py:32 — NOT its per-call re-init bug, pdf_processor.py:101).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocr_spark.functions.text import nearest, py_strip
from ocr_spark.operators.spans import is_boilerplate, span_order, span_rows

DECODE_SCHEMA = (
    "doc_id string, media_ref string, format string, width int, height int, "
    "n_frames int, decode_ok boolean"
)

# executor-global decoder handle (lazy singleton; real impl would hold a
# codec/model). Initialized once per executor process, not per batch.
_DECODER = None


def _get_decoder():
    global _DECODER
    if _DECODER is None:
        _DECODER = object()  # stand-in for e.g. a PIL/torchvision handle
    return _DECODER


def _fake_decode(media_ref: str) -> tuple[str, int, int, int]:
    """Deterministic stand-in for image/video decode.

    Real decode (PIL/cv2/ffmpeg) is not available in this container:
    replace this function body; everything around it is production-shaped.
    """
    h = hashlib.md5((media_ref or "").encode()).digest()
    fmt = ["png", "jpeg", "webp", "mp4"][h[0] % 4]
    width = 64 + (h[1] % 64) * 16
    height = 64 + (h[2] % 64) * 16
    n_frames = 1 if fmt != "mp4" else 1 + h[3] % 240
    return fmt, width, height, n_frames


def real_decode_stub(*_args, **_kwargs):
    """The genuine decode entry point — intentionally unimplemented here."""
    raise NotImplementedError(
        "binary media decode requires PIL/cv2/ffmpeg, not present in this "
        "container; wire it into _fake_decode's slot"
    )


def decode_media(docs: DataFrame, id_col: str = "doc_id", ref_col: str = "media_ref") -> DataFrame:
    """Arrow-batched media 'decode' producing typed metadata columns.

    Input: any DataFrame with (doc_id, media_ref). Output: DECODE_SCHEMA.
    """
    id_name, ref_name = id_col, ref_col

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _get_decoder()
        for pdf in batches:
            decoded = [_fake_decode(r) for r in pdf[ref_name]]
            out = pd.DataFrame(
                {
                    "doc_id": pdf[id_name].astype(str),
                    "media_ref": pdf[ref_name],
                    "format": [d[0] for d in decoded],
                    "width": [d[1] for d in decoded],
                    "height": [d[2] for d in decoded],
                    "n_frames": [d[3] for d in decoded],
                    "decode_ok": [bool(r) for r in pdf[ref_name].notna()],
                }
            )
            yield out

    return docs.select(F.col(id_col), F.col(ref_col)).mapInPandas(process, DECODE_SCHEMA)


def frame_sample(decoded: DataFrame, max_frames: int = 8) -> DataFrame:
    """Deterministic frame sampling over decoded media metadata: at most
    ``max_frames`` evenly-strided frame indices per clip — pure Column
    expressions (sequence + explode), no Python, fully oracle-checkable.

    Input needs (doc_id, media_ref, n_frames). Output one row per sampled
    frame: (doc_id, media_ref, frame_idx, n_frames).
    """
    n = F.col("n_frames")
    stride = F.ceil(n / F.lit(max_frames)).cast("int")
    idx = F.sequence(F.lit(0), n - 1, F.greatest(stride, F.lit(1)))
    return decoded.select(
        "doc_id",
        "media_ref",
        F.explode(idx).alias("frame_idx"),
        n.cast("long").alias("n_frames"),
    ).withColumn("frame_idx", F.col("frame_idx").cast("long"))


def media_spans_to_table(docs: DataFrame) -> DataFrame:
    """Pull media spans out of the interleaved corpus into a flat media
    table (doc_id, media_ref, offset) — narrow explode+filter."""
    return span_rows(docs).filter(F.col("kind") == "media").select("doc_id", "media_ref", "offset")


# --- audio -------------------------------------------------------------------

AUDIO_DECODE_SCHEMA = (
    "doc_id string, media_ref string, codec string, sample_rate long, "
    "n_samples long, decode_ok boolean"
)


def _fake_decode_audio(media_ref: str) -> tuple[str, int, int]:
    """Deterministic stand-in for audio decode (soundfile/ffmpeg absent in
    this container — replace this body; the plumbing around it is
    production-shaped). Uses md5 bytes 4-6 so it is independent of the
    image decoder's bytes 0-3."""
    h = hashlib.md5((media_ref or "").encode()).digest()
    codec = ["wav", "mp3", "flac", "opus"][h[4] % 4]
    sample_rate = [8000, 16000, 22050, 44100][h[5] % 4]
    n_samples = sample_rate * (1 + h[6] % 120)  # 1..120 seconds
    return codec, sample_rate, n_samples


def decode_audio(docs: DataFrame, id_col: str = "doc_id", ref_col: str = "media_ref") -> DataFrame:
    """Arrow-batched audio 'decode' producing typed metadata columns."""
    id_name, ref_name = id_col, ref_col

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _get_decoder()
        for pdf in batches:
            decoded = [_fake_decode_audio(r) for r in pdf[ref_name]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_name].astype(str),
                    "media_ref": pdf[ref_name],
                    "codec": [d[0] for d in decoded],
                    "sample_rate": [d[1] for d in decoded],
                    "n_samples": [d[2] for d in decoded],
                    "decode_ok": [bool(r) for r in pdf[ref_name].notna()],
                }
            )

    return docs.select(F.col(id_col), F.col(ref_col)).mapInPandas(
        process, AUDIO_DECODE_SCHEMA
    )


def audio_chunk(decoded: DataFrame, chunk_seconds: int = 30) -> DataFrame:
    """Fixed-duration chunking for ASR-style processing: one row per
    ``chunk_seconds`` window — pure Column expressions (sequence +
    explode), no Python. The final chunk is truncated to the clip length.

    Input needs (doc_id, media_ref, sample_rate, n_samples). Output:
    (doc_id, media_ref, chunk_idx, start_sample, chunk_samples). A clip
    with n_samples <= 0 or sample_rate <= 0 (a real decoder's failure
    substitute) yields ZERO chunks rather than an illegal-sequence crash
    that would kill the job over one bad file."""
    decoded = decoded.filter((F.col("n_samples") > 0) & (F.col("sample_rate") > 0))
    step = (F.col("sample_rate") * chunk_seconds).cast("long")
    starts = F.sequence(F.lit(0).cast("long"), F.col("n_samples") - 1, step)
    out = decoded.select(
        "doc_id",
        "media_ref",
        F.col("n_samples").cast("long").alias("n_samples"),
        step.alias("step"),
        F.posexplode(starts).alias("chunk_idx", "start_sample"),
    )
    return out.select(
        "doc_id",
        "media_ref",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "start_sample",
        F.least(F.col("step"), F.col("n_samples") - F.col("start_sample")).alias(
            "chunk_samples"
        ),
    )


# --- referential integrity -----------------------------------------------------


def media_ref_integrity(docs: DataFrame, media: DataFrame) -> DataFrame:
    """Referential-integrity audit of the interleaved corpus against the
    media table: per document, how many media spans there are, how many
    resolve to a media row, how many DANGLE (point at nothing), and the
    lexicographically first dangling ref as a repair pointer.

    Input: docs (doc_id, spans) in the canonical interleaved shape; media
    any table with a ``media_ref`` column.
    Output: (doc_id, n_media_spans, n_resolved, n_dangling,
    first_dangling_ref) — one row per document, zeros for text-only docs.

    100-TB plan shape: both sides of the resolution join are corpus-sized,
    so it is a keyed shuffle join on media_ref — broadcast is impossible
    by definition. (doc_id, media_ref) pairs are pre-aggregated BEFORE the
    join (map-side combine), so a document that repeats one ref a million
    times contributes ONE join row, and a hot shared asset (site logo
    referenced from every page of a domain) is bounded by the number of
    distinct docs, with AQE skew-join splitting what remains. The media
    side joins on its distinct refs only."""
    ids = docs.select("doc_id")
    refs = (
        span_rows(docs)
        .filter(F.col("kind") == "media")
        .groupBy("doc_id", "media_ref")
        .agg(F.count(F.lit(1)).alias("n_spans"))
    )
    m = media.select("media_ref").distinct().withColumn("resolved", F.lit(1))
    j = refs.join(m, "media_ref", "left")
    per = j.groupBy("doc_id").agg(
        F.sum("n_spans").alias("n_media_spans"),
        F.sum(F.when(F.col("resolved").isNotNull(), F.col("n_spans")).otherwise(F.lit(0))).alias(
            "n_resolved"
        ),
        F.sum(F.when(F.col("resolved").isNull(), F.col("n_spans")).otherwise(F.lit(0))).alias(
            "n_dangling"
        ),
        F.min(F.when(F.col("resolved").isNull(), F.col("media_ref"))).alias(
            "first_dangling_ref"
        ),
    )
    return ids.join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_media_spans"), F.lit(0)).cast("long").alias("n_media_spans"),
        F.coalesce(F.col("n_resolved"), F.lit(0)).cast("long").alias("n_resolved"),
        F.coalesce(F.col("n_dangling"), F.lit(0)).cast("long").alias("n_dangling"),
        F.col("first_dangling_ref"),
    )


def orphan_media(media: DataFrame, docs: DataFrame) -> DataFrame:
    """The other direction of the audit: media rows NEVER referenced by
    any span — storage holding assets no document uses (GC candidates
    after a dedup sweep drops documents). LEFT ANTI join on the distinct
    referenced refs; same media_ref shuffle key as media_ref_integrity,
    so a combined audit job reuses one exchange."""
    refs = span_rows(docs).filter(F.col("kind") == "media").select("media_ref").distinct()
    return media.join(refs, "media_ref", "left_anti")


# --- media-caption pairing -------------------------------------------------------


def media_captions(docs: DataFrame) -> DataFrame:
    """Media–text pairing over the interleaved corpus (the OBELICS/MMC4
    image-text-pair mining shape, with a deterministic adjacency heuristic
    in place of a CLIP scorer): for every media span, the nearest
    non-boilerplate, non-empty TEXT span before and after it in document
    order. ``caption`` prefers the following span (HTML figcaption/alt
    text typically trails the figure), falling back to the preceding one;
    either side is NULL when no qualifying text exists on that side.

    Plan shape at 10^12 docs: per-document array expressions only — spans
    sort in canonical order (``operators/spans``), two linear prefix folds
    carry the nearest qualifying text forward/backward (same scan
    discipline as the jusText revision passes), and the media rows
    explode at the end. The corpus is never shuffled; one narrow pass.

    Output: (doc_id, media_ref, offset, caption_before, caption_after,
    caption) — one row per media span."""

    def ok(s: Column) -> Column:
        return (
            (s["kind"] == "text")
            & (py_strip(s["text"]) != "")
            & ~is_boilerplate(s["text"])
        )

    # pv / nx: the nearest qualifying text before / after each media span
    near = nearest(F.col("sp"), F.lit(None).cast("string"), lambda s: F.when(ok(s), s["text"]))
    df = docs.select("doc_id", span_order(F.col("spans")).alias("sp"))
    df = df.select("doc_id", "sp", near["p"].alias("pv"), near["n"].alias("nx"))
    z = F.filter(
        F.arrays_zip(F.col("sp"), F.col("pv"), F.col("nx")),
        lambda x: x["sp"]["kind"] == "media",
    )
    return df.select("doc_id", F.explode(z).alias("z")).select(
        "doc_id",
        F.col("z.sp.media_ref").alias("media_ref"),
        F.col("z.sp.offset").alias("offset"),
        F.col("z.pv").alias("caption_before"),
        F.col("z.nx").alias("caption_after"),
        F.coalesce(F.col("z.nx"), F.col("z.pv")).alias("caption"),
    )
