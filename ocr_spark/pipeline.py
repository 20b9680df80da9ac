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

The PDF path (``process_pdfs``, the reference's ``POST /pdf/process``):

pages (doc_id, page_number, text) of the text and visual layers →
  one doc_id shuffle, one groupBy   concat + min-text route per document
  'direct'                          the concatenated text layer
  'ocr'                             render + OCR every visual page in one
                                    Python stage, corrected page concat
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
             → 'ocr':    rasterize + OCR scan each page (S3+S6, one Python
                         stage) → conf-gated corrected box assembly
                         (F1+T3+A6) → ordered page concat

    ``text_pages``   (doc_id, page_number, text) — the extracted text layer
    ``visual_pages`` same schema — what the page LOOKS like (defaults to
                     the text layer; pass the original pages when
                     simulating scanned PDFs whose text layer is empty)

    Output: (doc_id, route, full_text, total_pages).

    One shuffle: the rows of both layers, tagged, are hash-partitioned on
    ``doc_id`` together and one ``groupBy(doc_id)`` collects each
    document's text pages and visual pages. ``all_text``, ``total_pages``
    and ``route`` come from the text pages; direct rows leave from that
    aggregate, and OCR rows enter one Python stage
    (``ocr_engine.scan_pages``) that renders and scans every visual page of
    the document, so no task runs two Python stages and both layers parse
    in the same map stage. The two branches read the same shuffle (a
    ReusedExchange), with no join. The shuffle has one partition per core:
    AQE coalesces partitions by bytes, and the page rows are small, so it
    would leave the CPU-bound OCR stage one task.

    A document with a null doc_id routes on its text layer but never
    reaches the OCR stage (its OCR text is ``""``); visual pages of a
    document absent from the text layer are dropped.
    """
    from ocr_spark.operators.layout import full_text_from_boxes
    from ocr_spark.sources import pdf as P
    from ocr_spark.sources.ocr_engine import scan_pages

    page = F.struct("page_number", "text").alias("page")
    partitions = text_pages.sparkSession.sparkContext.defaultParallelism
    if visual_pages is None:
        docs = (
            text_pages.select("doc_id", page)
            .repartition(partitions, "doc_id")
            .groupBy("doc_id")
            .agg(F.collect_list("page").alias("pages"))
            .withColumn("visual", F.col("pages"))
        )
    else:
        layers = text_pages.select("doc_id", page, F.lit(True).alias("text_layer")).unionByName(
            visual_pages.select("doc_id", page, F.lit(False).alias("text_layer"))
        )
        docs = (
            layers.repartition(partitions, "doc_id")
            .groupBy("doc_id")
            .agg(
                F.collect_list(F.when(F.col("text_layer"), F.col("page"))).alias("pages"),
                F.collect_list(F.when(~F.col("text_layer"), F.col("page"))).alias("visual"),
            )
            .filter(F.size("pages") > 0)
        )
    # A null doc_id gets no visual pages here rather than a filter on
    # doc_id: the optimizer would push that filter below the shuffle of
    # the OCR branch alone, and the two branches would stop sharing it.
    routed = route_documents(
        docs.select(
            "doc_id",
            P.join_pages(F.col("pages")).alias("all_text"),
            F.size("pages").alias("total_pages"),
            F.when(F.col("doc_id").isNotNull(), F.col("visual")).otherwise(F.array()).alias("visual"),
        ),
        direct_text_col="all_text",
    )
    scanned = (F.col("route") == "ocr") & (F.size("visual") > 0)

    direct = routed.filter(~scanned).select(
        "doc_id",
        "route",
        F.when(F.col("route") == "direct", F.col("all_text")).otherwise(F.lit("")).alias("full_text"),
        "total_pages",
    )
    boxes = scan_pages(
        routed.filter(scanned).select("doc_id", F.col("visual").alias("pages"), "total_pages"),
        P.render_page_array,
    )
    ocr_pages = F.transform(
        "pages",
        lambda p: F.struct(p["page_number"], full_text_from_boxes(p["boxes"]).alias("text")),
    )
    ocr = boxes.select(
        "doc_id", F.lit("ocr").alias("route"), P.join_pages(ocr_pages).alias("full_text"), "total_pages"
    )
    return direct.unionByName(ocr)


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
