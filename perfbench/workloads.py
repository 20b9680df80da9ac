"""The benchmark's four workloads: seeded input generation, one fully
materialised pass, the correctness gate and the per-layer pipeline prefixes.

Inputs are written once per (workload, seed, size) under the work directory
and re-used; generation runs in a child process without Spark (see
``python3 perfbench/workloads.py --help``), so neither its time nor its
memory reaches the measured process. The engine only ever sees the files.

Each pass goes through the engine's public functions only:

- ``spans_longtail``   corpus parquet -> ``pipeline.extract_documents`` -> noop
- ``spans_skewed_job`` corpus + mega-documents ->
                       ``plans.checkpoint.run_checkpointed(extract_documents)``
                       -> parquet buckets + manifest
- ``crawl_warc``       WARC files -> ``sources.warc.read_warc`` ->
                       ``warc_span_corpus`` -> ``extract_documents`` -> noop
- ``pdf_ocr``          PDF bytes parquet -> ``sources.pdf.extract_pages`` ->
                       ``pipeline.process_pdfs`` (every 5th doc scanned) -> noop
"""

from __future__ import annotations

import argparse
import math
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

N_FILES = 8  # input files per workload: 2 x the 4 cores the sizes were tuned on


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


EXPECTED = "_expected.parquet"  # Spark skips "_" files when it reads the input


def expected_schema():
    """One document as the span workloads check it: the span sequence
    (kind, text, media_ref, order) and the stage-3 features."""
    import pyarrow as pa

    span = pa.struct([
        ("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()),
        ("order", pa.int32()),
    ])
    field = pa.struct([("key", pa.string()), ("value", pa.string())])
    return pa.schema([
        ("doc_id", pa.string()), ("spans", pa.list_(span)), ("extracted_text", pa.string()),
        ("fields", pa.list_(field)), ("columns_count", pa.int32()),
    ])


def reference_rows(part: str) -> list[dict]:
    """The reference's output for each document of one corpus file that
    keeps a span (the engine emits no row for a document that is all
    boilerplate), fields sorted by key."""
    import pyarrow.parquet as pq

    from tests.reference_impl import extract_document

    rows = []
    for doc in pq.read_table(part).to_pylist():
        ref = extract_document(doc)
        if ref["spans"]:
            fields = sorted(ref["structured_data"].items())
            rows.append({
                "doc_id": ref["doc_id"],
                "spans": ref["spans"],
                "extracted_text": ref["extracted_text"],
                "fields": [{"key": k, "value": v} for k, v in fields],
                "columns_count": ref["columns_count"],
            })
    return rows


def count_mismatches(got, want) -> int:
    """Documents of ``want`` missing from ``got`` or different there, plus
    rows of ``got`` that are duplicated or match no document of ``want``."""
    rows = got.to_pylist()
    by_id = {r["doc_id"]: r for r in rows}
    failed = len(rows) - len(by_id)
    failed += len(by_id.keys() - set(want["doc_id"].to_pylist()))
    for r in want.to_pylist():
        failed += by_id.get(r["doc_id"]) != r
    return failed


def span_prefixes(docs) -> list[tuple[str, object]]:
    """Successive prefixes of ``pipeline.extract_documents`` built from each
    layer's public function; a layer's self time is its prefix's time minus
    the previous one's."""
    from pyspark.sql import functions as F

    from ocr_spark.functions import fields as FX
    from ocr_spark.operators import layout as L
    from ocr_spark.operators import spans as S
    from ocr_spark.pipeline import extract_documents

    classified = S.classify_spans(docs)
    assembled = S.assemble_spans(classified)
    text_spans = F.filter(F.col("spans"), lambda s: s["kind"] == "text")
    fields = assembled.withColumn(
        "extracted_text", F.array_join(F.transform(text_spans, lambda s: s["text"]), "\n")
    ).withColumn("structured_data", FX.extract_fields_map(F.col("extracted_text")))
    columns = fields.withColumn("columns", L.analyze_text_columns(F.col("extracted_text")))
    return [
        ("operators.spans.classify_s", classified),
        ("operators.spans.assemble_s", assembled),
        ("functions.fields.extract_s", fields),
        ("operators.layout.columns_s", columns),
        ("pipeline.select_s", extract_documents(docs)),
    ]


def span_counts(docs) -> dict:
    from pyspark.sql import functions as F

    from ocr_spark import config
    from ocr_spark.operators import spans as S

    classified = S.classify_spans(docs)
    row = classified.agg(
        F.count(F.lit(1)).alias("n"), F.sum((~F.col("is_boilerplate")).cast("long")).alias("kept")
    ).first()
    big = (
        classified.filter(~F.col("is_boilerplate"))
        .groupBy("doc_id")
        .count()
        .filter(F.col("count") > config.BIG_DOC_SPANS)
        .count()
    )
    return {
        "operators.spans.spans_in": row["n"],
        "operators.spans.kept_frac": row["kept"] / row["n"],
        "operators.spans.big_docs": big,
    }


class Workload:
    name = ""
    n_docs = 0  # documents per pass
    mega_docs = 0

    @property
    def docs_per_pass(self) -> int:
        return self.n_docs + self.mega_docs

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.input = os.path.join(work, "inputs", f"{self.name}-seed{seed}-n{self.n_docs}")
        self.out = os.path.join(work, "out", self.name)
        self._plan = None

    # --- inputs -----------------------------------------------------------
    def ensure_inputs(self) -> None:
        """Generate into a temporary directory and rename it into place, so a
        killed generation never leaves a half-written input behind."""
        if os.path.isdir(self.input):
            return
        tmp = self.input + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        self.generate(tmp)
        os.replace(tmp, self.input)

    def generate(self, path: str) -> None:
        raise NotImplementedError

    # --- timed pass ---------------------------------------------------------
    def before_pass(self) -> None:
        """Untimed preparation of the next pass."""

    def output(self, spark):
        """The workload's pipeline as one DataFrame."""
        raise NotImplementedError

    def run_pass(self, spark) -> None:
        """Materialise the pipeline into the noop sink. The DataFrame is
        built once per session, so a pass times planning and execution, not
        the Python-side construction of the expression tree."""
        if self._plan is None or self._plan.sparkSession is not spark:
            self._plan = self.output(spark)
        noop(self._plan)

    # --- correctness ------------------------------------------------------------
    def verify(self, spark) -> tuple[int, int]:
        """(documents attempted, documents missing or wrong)."""
        raise NotImplementedError

    # --- traced run -------------------------------------------------------------
    def prefixes(self, spark) -> list[tuple[str, object]]:
        """[(layer metric, DataFrame)], each extending the previous one;
        the first entry is timed as-is."""
        raise NotImplementedError

    def counts(self, spark) -> dict:
        raise NotImplementedError

    def job_layers(self, pass_s: float, prefix_s: dict, scanned_bytes: int) -> dict:
        """Layer metrics of a job-shaped pass, from the traced pass time,
        the prefix times and the bytes of input files its scans covered."""
        return {}


class SpansLongtail(Workload):
    name = "spans_longtail"
    # ~6 MB of span shuffle: AQE then always coalesces the assembly shuffle
    # to nproc reducers. Near 2 or 4 MB the reducer count flips between
    # seeds (1 MB minimum partition), and throughput with it.
    n_docs = 15_000
    mega_spans = 0  # spans per mega-document; there are none here

    def generate(self, path: str) -> None:
        """The corpus, plus the reference's output of every document, sorted
        by doc_id; one reference process per corpus file, up to one per
        core."""
        import multiprocessing

        import pyarrow as pa
        import pyarrow.parquet as pq

        from ocr_spark.sources.corpus import write_corpus

        total = self.docs_per_pass
        write_corpus(
            # numpy's RandomState takes seeds in [0, 2**32)
            path, total, seed=self.seed % 2**32, mega_docs=self.mega_docs,
            mega_spans=self.mega_spans,
            rows_per_file=math.ceil(total / N_FILES),
        )
        parts = sorted(os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet"))
        pool = multiprocessing.get_context("fork").Pool(len(os.sched_getaffinity(0)))
        try:
            rows = [r for part in pool.map(reference_rows, parts) for r in part]
        finally:
            pool.close()
            pool.join()
        rows.sort(key=lambda r: r["doc_id"])
        pq.write_table(
            pa.Table.from_pylist(rows, schema=expected_schema()), os.path.join(path, EXPECTED)
        )

    def docs(self, spark):
        return spark.read.parquet(self.input)

    def output(self, spark):
        from ocr_spark.pipeline import extract_documents

        return extract_documents(self.docs(spark))

    def expected_rows(self) -> int:
        import pyarrow.parquet as pq

        return pq.read_metadata(os.path.join(self.input, EXPECTED)).num_rows

    def verify(self, spark) -> tuple[int, int]:
        """Every document against the reference. The output comes back as
        one Arrow table; when it equals the reference table, as it does
        unless something is wrong, no row is compared in Python."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from ocr_spark import config

        want = pq.read_table(os.path.join(self.input, EXPECTED))
        got = (
            self.output(spark)
            .select(
                "doc_id", "spans", "extracted_text",
                F.array_sort(F.map_entries("structured_data")).alias("fields"),
                "columns_count",
            )
            .toArrow()
            .sort_by("doc_id")
        )
        same = got.cast(want.schema).equals(want)
        failed = 0 if same else count_mismatches(got, want)
        for i in range(self.mega_docs):  # each must take the salted path
            mega = want.filter(pc.equal(want["doc_id"], f"doc-{i:08d}"))
            failed += mega.num_rows == 0 or len(mega["spans"][0]) <= config.BIG_DOC_SPANS
        return self.docs_per_pass, min(failed, self.docs_per_pass)

    def prefixes(self, spark):
        docs = self.docs(spark)
        return [("sources.scan_s", docs)] + span_prefixes(docs)

    def counts(self, spark) -> dict:
        docs = self.docs(spark)
        return {"sources.docs_in": docs.count(), **span_counts(docs)}


class SpansSkewedJob(SpansLongtail):
    name = "spans_skewed_job"
    n_docs = 1000
    mega_docs = 2
    # ~28% of spans are boilerplate, so 145k spans keep ~104k: above
    # config.BIG_DOC_SPANS (100k) by ~25 standard deviations
    mega_spans = 145_000
    num_buckets = 4

    def before_pass(self) -> None:
        # a committed manifest makes the next run resume and skip every bucket
        shutil.rmtree(self.out, ignore_errors=True)

    def run_job(self, spark) -> dict:
        from ocr_spark.pipeline import extract_documents
        from ocr_spark.plans.checkpoint import run_checkpointed

        summary = run_checkpointed(
            spark, self.docs(spark), self.out, extract_documents,
            num_buckets=self.num_buckets, input_lineage=self.input,
        )
        if summary["buckets_run"] != self.num_buckets or summary["rows"] != self.expected_rows():
            raise RuntimeError(f"checkpointed job did not run every bucket: {summary}")
        self.summary = summary
        return summary

    def run_pass(self, spark) -> None:
        self.run_job(spark)

    def output(self, spark):
        return spark.read.parquet(self.out)

    def job_layers(self, pass_s: float, prefix_s: dict, scanned_bytes: int) -> dict:
        on_disk = sum(
            os.path.getsize(os.path.join(self.input, f))
            for f in os.listdir(self.input)
            if f.endswith(".parquet") and f != EXPECTED
        )
        return {
            # the last prefix is the same transform into noop
            "plans.checkpoint.write_s": pass_s - prefix_s["pipeline.select_s"],
            # every bucket re-scans the whole input
            "plans.checkpoint.read_amplification": scanned_bytes / on_disk,
            "plans.checkpoint.mb_written": self.summary["bytes"] / 1e6,
            "plans.checkpoint.buckets": self.summary["buckets_run"],
        }


def warc_text(doc_id: int) -> str:
    """Expected extracted text of a fixture page: its content paragraphs
    (navigation and footer are boilerplate)."""
    from ocr_spark.sources.warc import _PARA

    return "\n".join(_PARA.format(i=doc_id, j=j) for j in range(1, 2 + doc_id % 3))


class CrawlWarc(Workload):
    name = "crawl_warc"
    n_docs = 800

    @property
    def first_id(self) -> int:
        return self.seed * 1_000_000

    def generate(self, path: str) -> None:
        from ocr_spark.sources.warc import synth_warc_file

        end = self.first_id + self.n_docs
        for f in range(N_FILES):
            gz = f % 2 == 1  # half the archives gzip every record
            name = f"crawl-{f:04d}.warc" + (".gz" if gz else "")
            with open(os.path.join(path, name), "wb") as fh:
                fh.write(synth_warc_file(f, range(self.first_id + f, end, N_FILES), gz))

    def parsed(self, spark):
        from ocr_spark.sources.warc import read_warc

        return read_warc(spark, self.input)

    def output(self, spark):
        from ocr_spark.pipeline import extract_documents
        from ocr_spark.sources.warc import warc_span_corpus

        return extract_documents(warc_span_corpus(self.parsed(spark)))

    def verify(self, spark) -> tuple[int, int]:
        from pyspark.sql import functions as F

        from ocr_spark.sources.warc import is_not_found, warc_uri

        ids = range(self.first_id, self.first_id + self.n_docs)
        keys = spark.createDataFrame([(i, warc_uri(i)) for i in ids], "i long, uri string")
        key_of = {
            r["k"]: r["i"] for r in keys.select("i", F.xxhash64("uri").alias("k")).collect()
        }
        got = {
            key_of.get(r["doc_id"]): r
            for r in self.output(spark).select("doc_id", "extracted_text", "n_spans").collect()
        }
        failed = 0
        for i in ids:
            row = got.pop(i, None)
            if is_not_found(i):
                failed += row is not None  # a 404 page must not be extracted
                continue
            ok = row is not None and row["extracted_text"] == warc_text(i)
            failed += not (ok and row["n_spans"] == 1 + i % 3)  # one span per paragraph
        failed += len(got)  # output rows that match no fixture page
        return self.n_docs, min(failed, self.n_docs)

    def prefixes(self, spark):
        from pyspark.sql import functions as F

        from ocr_spark.sources.warc import warc_span_corpus

        files = spark.read.format("binaryFile").load(self.input).select(
            F.col("path").alias("file_name"), "content"
        )
        parsed = self.parsed(spark)
        corpus = warc_span_corpus(parsed)
        return [
            ("sources.scan_s", files),
            ("sources.warc.parse_s", parsed),
            ("operators.boilerplate.html_to_spans_s", corpus),
        ] + span_prefixes(corpus)

    def counts(self, spark) -> dict:
        from pyspark.sql import functions as F

        from ocr_spark.sources.warc import warc_span_corpus

        parsed = self.parsed(spark)
        rec = parsed.agg(
            F.count(F.lit(1)).alias("n"), F.count("error").alias("err")
        ).first()
        corpus = warc_span_corpus(parsed)
        spans_out = corpus.agg(F.sum(F.size("spans"))).first()[0]
        return {
            "sources.docs_in": corpus.count(),
            "sources.warc.records": rec["n"],
            "sources.warc.error_records": rec["err"],
            "operators.boilerplate.spans_out": spans_out,
            **span_counts(corpus),
        }


class PdfOcr(Workload):
    name = "pdf_ocr"
    n_docs = 2000

    @property
    def first_id(self) -> int:
        # ids stay below 10**11: pack_image_id multiplies a doc_id by 10**6
        # and must stay inside int64 (a raw 10-digit seed overflowed it and
        # every scanned document came back wrong)
        return (self.seed % 1_000_000) * 100_000

    def generate(self, path: str) -> None:
        """The bytes ``sources.pdf.synth_pdf_docs`` builds for these ids:
        1 + id % 4 pages, LZW when id % 4 == 1, Flate when odd, raw when
        even, writer style cycling with id % 3."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from ocr_spark.sources.pdf_fixture import STYLES, synth_pdf_bytes

        ids = list(range(self.first_id, self.first_id + self.n_docs))
        per_file = math.ceil(len(ids) / N_FILES)
        for f in range(N_FILES):
            chunk = ids[f * per_file : (f + 1) * per_file]
            content = [
                synth_pdf_bytes(
                    i, 1 + i % 4, compress=("lzw" if i % 4 == 1 else bool(i % 2)),
                    style=STYLES[i % 3],
                )
                for i in chunk
            ]
            table = pa.table({
                "doc_id": pa.array(chunk, pa.int64()),
                "content": pa.array(content, pa.binary()),
            })
            pq.write_table(table, os.path.join(path, f"part-{f:04d}.parquet"))

    def docs(self, spark):
        return spark.read.parquet(self.input)

    def frames(self, spark) -> dict:
        """The pipeline and its prefixes. The q_pdf_process shape: every 5th
        document is a scanned PDF whose text layer is empty while its pages
        still show the text."""
        from pyspark.sql import functions as F

        from ocr_spark.pipeline import process_pdfs, route_documents
        from ocr_spark.sources import pdf as P
        from ocr_spark.sources.ocr_engine import scan_images

        docs = self.docs(spark)
        pages = P.extract_pages(docs)
        text_layer = pages.withColumn(
            "text", F.when(F.col("doc_id") % 5 == 0, F.lit("")).otherwise(F.col("text"))
        )
        routed = route_documents(P.concat_pages(text_layer), direct_text_col="all_text")
        ocr_pages = pages.join(routed.filter(F.col("route") == "ocr").select("doc_id"), "doc_id")
        raster = P.rasterize_pages(ocr_pages)
        boxes = scan_images(
            raster.select(
                P.pack_image_id(F.col("doc_id"), F.col("page_number")).alias("image_id"),
                "data", "width", "height",
            ),
            include_preprocess=False,
        )
        return {
            "docs": docs, "pages": pages, "routed": routed, "ocr_pages": ocr_pages,
            "raster": raster, "boxes": boxes,
            "output": process_pdfs(text_layer, visual_pages=pages),
        }

    def output(self, spark):
        return self.frames(spark)["output"]

    def verify(self, spark) -> tuple[int, int]:
        from ocr_spark.sources.pdf_fixture import page_text
        from tests.reference_impl import correct_ocr_errors

        # a scanned one-line page rasterises to one band, read as "line-0"
        ocr_line = correct_ocr_errors("line-0")
        got = {r["doc_id"]: r for r in self.output(spark).collect()}
        failed = 0
        for i in range(self.first_id, self.first_id + self.n_docs):
            row = got.pop(i, None)
            n = 1 + i % 4
            if i % 5 == 0:
                want = ("ocr", "\n".join([ocr_line] * n))
            else:
                want = ("direct", "\n".join(page_text(i, p) for p in range(1, n + 1)))
            ok = row is not None and (row["route"], row["full_text"]) == want
            failed += not (ok and row["total_pages"] == n)
        failed += len(got)
        return self.n_docs, min(failed, self.n_docs)

    def prefixes(self, spark):
        fr = self.frames(spark)
        return [
            ("sources.scan_s", fr["docs"]),
            ("sources.pdf.extract_pages_s", fr["pages"]),
            ("pipeline.route_s", fr["ocr_pages"]),
            ("sources.pdf.rasterize_s", fr["raster"]),
            ("sources.ocr_engine.scan_s", fr["boxes"]),
            ("pipeline.select_s", fr["output"]),
        ]

    def counts(self, spark) -> dict:
        from pyspark.sql import functions as F

        fr = self.frames(spark)
        routes = fr["routed"].groupBy("route").count()
        ocr_docs = routes.filter(F.col("route") == "ocr").select("count").first()
        return {
            "sources.docs_in": fr["docs"].count(),
            "sources.pdf.pages": fr["pages"].count(),
            "sources.pdf.failed_docs": self.n_docs - fr["pages"].select("doc_id").distinct().count(),
            "pipeline.ocr_route_frac": (ocr_docs[0] if ocr_docs else 0) / self.n_docs,
            "sources.ocr_engine.images": fr["boxes"].count(),
        }


WORKLOADS = {w.name: w for w in (SpansLongtail, SpansSkewedJob, CrawlWarc, PdfOcr)}


def main() -> None:
    ap = argparse.ArgumentParser(description="Generate one workload's inputs (no Spark).")
    ap.add_argument("workload", choices=sorted(WORKLOADS))
    ap.add_argument("seed", type=int)
    ap.add_argument("work")
    a = ap.parse_args()
    WORKLOADS[a.workload](a.seed, a.work).ensure_inputs()


if __name__ == "__main__":
    main()
