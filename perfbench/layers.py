"""The per-layer metric map: which end-to-end metric each layer metric
should move, and on which workload it is measured.

``BENCHMARK.json`` lists the same names under ``per_layer``; this table is
what the traced run prints, so a reader sees the layer -> metric ->
workload relation next to the numbers. A layer a workload's pipeline does
not pass through reads 0 on that workload.
"""

from __future__ import annotations

# (metric, unit, better, end-to-end metrics it should move, workloads)
LAYERS: list[tuple[str, str, str, str, str]] = [
    ("session.start_s", "s", "lower", "setup_s", "all"),
    ("session.gc_s", "s", "lower", "docs_per_s, peak_rss_mb", "spans_longtail, spans_skewed_job"),
    ("session.task_concurrency", "ratio", "higher", "docs_per_s", "spans_longtail, spans_skewed_job"),
    ("session.failed_tasks", "count", "lower", "docs_per_s", "spans_longtail, spans_skewed_job"),
    ("sources.scan_s", "s", "lower", "docs_per_s", "spans_longtail"),
    ("sources.docs_in", "count", "higher", "docs_per_s", "spans_longtail"),
    ("operators.spans.classify_s", "s", "lower", "docs_per_s", "spans_longtail"),
    ("operators.spans.spans_in", "count", "higher", "docs_per_s", "spans_longtail"),
    ("operators.spans.kept_frac", "ratio", "higher", "docs_per_s", "spans_longtail"),
    ("operators.spans.assemble_s", "s", "lower", "docs_per_s, peak_rss_mb", "spans_skewed_job, spans_longtail"),
    ("operators.spans.shuffle_mb", "MB", "lower", "docs_per_s, peak_rss_mb", "spans_skewed_job, spans_longtail"),
    ("operators.spans.big_docs", "count", "higher", "docs_per_s, peak_rss_mb", "spans_skewed_job"),
    ("operators.spans.task_skew", "ratio", "lower", "docs_per_s, peak_rss_mb", "spans_skewed_job, spans_longtail"),
    ("functions.fields.extract_s", "s", "lower", "docs_per_s", "spans_longtail, crawl_warc"),
    ("operators.layout.columns_s", "s", "lower", "docs_per_s", "spans_longtail, crawl_warc"),
    ("plans.checkpoint.write_s", "s", "lower", "docs_per_s", "spans_skewed_job"),
    ("plans.checkpoint.read_amplification", "ratio", "lower", "docs_per_s", "spans_skewed_job"),
    ("plans.checkpoint.mb_written", "MB", "lower", "docs_per_s", "spans_skewed_job"),
    ("plans.checkpoint.buckets", "count", "higher", "docs_per_s", "spans_skewed_job"),
    ("sources.warc.parse_s", "s", "lower", "docs_per_s", "crawl_warc"),
    ("sources.warc.records", "count", "higher", "docs_per_s", "crawl_warc"),
    ("sources.warc.error_records", "count", "lower", "docs_per_s", "crawl_warc"),
    ("operators.boilerplate.html_to_spans_s", "s", "lower", "docs_per_s", "crawl_warc"),
    ("operators.boilerplate.spans_out", "count", "higher", "docs_per_s", "crawl_warc"),
    ("sources.pdf.extract_pages_s", "s", "lower", "docs_per_s", "pdf_ocr"),
    ("sources.pdf.pages", "count", "higher", "docs_per_s", "pdf_ocr"),
    ("sources.pdf.failed_docs", "count", "lower", "docs_per_s", "pdf_ocr"),
    ("sources.pdf.rasterize_s", "s", "lower", "docs_per_s", "pdf_ocr"),
    ("pipeline.ocr_route_frac", "ratio", "lower", "docs_per_s, peak_rss_mb", "pdf_ocr"),
    ("sources.ocr_engine.scan_s", "s", "lower", "docs_per_s, peak_rss_mb", "pdf_ocr"),
    ("sources.ocr_engine.images", "count", "higher", "docs_per_s, peak_rss_mb", "pdf_ocr"),
    # diagnostics of the traced run itself
    ("trace.overhead_frac", "ratio", "lower", "(none: traced vs untraced docs_per_s)", "all"),
    ("session.scaling_efficiency", "ratio", "higher", "(none: local[1] -> local[nproc])", "spans_longtail"),
]

UNITS = {name: unit for name, unit, _b, _m, _w in LAYERS}
