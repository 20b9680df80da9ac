"""End-to-end main-content extraction pipeline (the flagship job).

documents(doc_id, spans) →
  stages 1+2 classify and assemble     operators/spans.classify_and_assemble
             route whole documents before the explode: the ids of rows
             with a span number BIG_DOC_SPANS+1 (explode(slice(...)),
             a broadcast semi join) take the salted two-phase assembly,
             the rest (anti join) one groupBy(doc_id); each branch
             explodes and classifies its spans once (narrow), then
             shuffles once or twice
  stage 3 document features (narrow)   extracted_text, structured_data,
                                       layout columns, validity flags

Output row ≈ the reference's OCRResponse (main.py:58-70), as one wide
typed row per document:

  doc_id, spans(kind,text,media_ref,order), extracted_text,
  structured_data map<string,string>, json_validity, schema_consistency,
  columns array<ColumnData>, columns_count, has_multiple_columns,
  n_spans, n_media

Everything after the assembly shuffle is narrow projection work —
Catalyst pipelines it into the same stage; nothing re-shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_spark import config
from ocr_spark.functions import fields as FX
from ocr_spark.operators import layout as L
from ocr_spark.operators import spans as S


def route_documents(df: DataFrame, direct_text_col: str = "direct_text") -> DataFrame:
    """F6 min-text routing gate (pdf_processor.py:28-37): a document whose
    directly-extracted text is longer than 10 stripped chars takes the cheap
    'direct' path; everything else falls to the ~100-1000x costlier 'ocr'
    branch. As a routing COLUMN (never an exception or driver-side branch)
    the two sub-plans stay one DataFrame and Catalyst prunes per branch.

    Uses py_strip ((?U) Unicode \\s) so NBSP/ideographic-space padding does
    not count as content — matches Python ``len(text.strip()) > 10``."""
    from ocr_spark.functions.text import py_strip

    stripped = py_strip(F.col(direct_text_col))
    return df.withColumn(
        "route",
        F.when(F.length(stripped) > config.PDF_DIRECT_TEXT_MIN_CHARS, F.lit("direct")).otherwise(
            F.lit("ocr")
        ),
    )


def process_pdfs(text_pages: DataFrame, visual_pages: DataFrame | None = None) -> DataFrame:
    """The reference's full ``POST /pdf/process`` dataflow
    (pdf_processor.process_pdf, :28-140) as ONE declarative plan:

        per-page text layer (S2) → ordered concat (A4) → min-text route
        (F6) → 'direct': the concatenated text layer
             → 'ocr':    rasterize + OCR scan the page (S3+S6, one Python
                         stage) → conf-gated corrected box assembly
                         (F1+T3+A6) → ordered page concat

    ``text_pages``   (doc_id, page_number, text) — the extracted text layer
    ``visual_pages`` same schema — what the page LOOKS like (defaults to
                     the text layer; pass the original pages when
                     simulating scanned PDFs whose text layer is empty)

    Output: (doc_id, route, full_text, total_pages).

    The plan reads the text layer once: the routed concat feeds both the
    OCR semi-join and the final left join, and the two uses share one
    shuffle stage (``concat_pages``' aggregate is the same for both, and
    the semi-join keys null-safe, so no ``isnotnull`` filter is inferred
    under one of them alone). Only routed-to-OCR pages enter the render+
    scan stage (``ocr_engine.scan_pages``), which renders and OCRs each
    page in one batch loop — the ~100-1000× costlier branch never touches
    direct-path documents. A null doc_id can enter that stage, but the
    final join never matches it, so its OCR text stays empty.
    """
    from ocr_spark.operators.layout import full_text_from_boxes
    from ocr_spark.sources import pdf as P
    from ocr_spark.sources.ocr_engine import scan_pages

    visual = visual_pages if visual_pages is not None else text_pages
    direct = P.concat_pages(text_pages)  # (doc_id, all_text, total_pages)
    routed = route_documents(direct, direct_text_col="all_text")

    ocr_ids = routed.filter(F.col("route") == "ocr").select(F.col("doc_id").alias("ocr_id"))
    ocr_pages = visual.join(ocr_ids, F.col("doc_id").eqNullSafe(F.col("ocr_id")), "left_semi")
    boxes = scan_pages(ocr_pages, P.render_page_array)
    ocr_text = P.concat_pages(
        boxes.select("doc_id", "page_number", full_text_from_boxes(F.col("boxes")).alias("text"))
    ).select("doc_id", F.col("all_text").alias("ocr_text"))

    out = routed.join(ocr_text, "doc_id", "left")
    return out.select(
        "doc_id",
        "route",
        F.when(F.col("route") == "direct", F.col("all_text"))
        .otherwise(F.coalesce(F.col("ocr_text"), F.lit("")))
        .alias("full_text"),
        F.col("total_pages"),
    )


def extract_documents(docs: DataFrame, drop_boilerplate: bool = True) -> DataFrame:
    assembled = S.classify_and_assemble(docs, drop_boilerplate=drop_boilerplate)

    text_spans = F.filter(F.col("spans"), lambda s: s["kind"] == "text")
    extracted_text = F.array_join(F.transform(text_spans, lambda s: s["text"]), "\n")

    out = assembled.withColumn("extracted_text", extracted_text)
    out = out.withColumn("structured_data", FX.extract_fields_map(F.col("extracted_text")))
    out = out.withColumn("columns", L.analyze_text_columns(F.col("extracted_text")))
    return out.select(
        "doc_id",
        "spans",
        "extracted_text",
        "structured_data",
        FX.validate_json(F.col("structured_data")).alias("json_validity"),
        FX.schema_consistency(F.col("structured_data")).alias("schema_consistency"),
        "columns",
        F.size("columns").alias("columns_count"),
        (F.size("columns") > 1).alias("has_multiple_columns"),
        F.size("spans").alias("n_spans"),
        F.size(F.filter(F.col("spans"), lambda s: s["kind"] == "media")).alias("n_media"),
    )
