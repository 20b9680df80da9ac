"""Mega-document linearity evidence for per-row array/fold operators.

The winnow CSE bug (BENCH.md §"Reading the round-4 headline total") was a
whole CLASS of failure: Catalyst does not common-subexpression-eliminate
through higher-order-function lambdas, so an array expression referenced
inside transform/aggregate re-evaluates per element — O(n) work becomes
O(n²) per document. sf0.1's short rows hide it; a 100-TB corpus's
mega-documents do not.

This bench makes the class empirically checkable: it runs every audited
per-row operator over two corpora with the SAME total span/char volume but
a 40× difference in per-document size (many-short vs few-long). A linear
operator times ~equal on both; a quadratic one shows ~proportional-to-size
blowup. Prints one JSON line; ratios ≳3 fail loudly.

Usage: python tools/megadoc_fold_bench.py [total_spans]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# many-short vs few-long: same total spans, 40x per-doc size difference
SHAPE_SHORT = (400, 50)   # (docs, spans/doc)
SHAPE_LONG = (10, 2000)

RATIO_LIMIT = 3.0  # linear ops measure ~1 with noise; quadratic ~40


def make_corpus(spark: SparkSession, n_docs: int, spans_per_doc: int) -> DataFrame:
    """Deterministic interleaved corpus: every 5th span media, text spans
    8 words drawn from a residue vocabulary (same shape derived.span_corpus
    uses, synthesised without reading testdata)."""
    d = F.col("doc_id")
    idx = F.sequence(F.lit(0), F.lit(spans_per_doc - 1))

    def mk(i):
        is_media = (d + i) % 5 == 2
        word = F.concat(F.lit("w"), ((d * 31 + i * 7) % 97).cast("string"))
        text = F.when(is_media, F.lit("")).otherwise(
            F.concat_ws(
                " ", *([word] * 4), F.lit("alpha beta gamma delta")
            )
        )
        return F.struct(
            F.when(is_media, F.lit("media")).otherwise(F.lit("text")).alias("kind"),
            text.alias("text"),
            F.when(
                is_media,
                F.concat(F.lit("r"), d.cast("string"), F.lit("-"), i.cast("string")),
            ).otherwise(F.lit("")).alias("media_ref"),
            (i * 16).cast("int").alias("offset"),
        )

    return (
        spark.range(n_docs)
        .withColumnRenamed("id", "doc_id")
        .select("doc_id", F.transform(idx, mk).alias("spans"))
    )


def text_docs(spark: SparkSession, corpus: DataFrame) -> DataFrame:
    """Flatten the span corpus to (doc_id, text) for text-shaped operators."""
    return corpus.select(
        "doc_id",
        F.array_join(
            F.transform(F.col("spans"), lambda s: s["text"]), " "
        ).alias("text"),
    )


def html_docs(corpus: DataFrame) -> DataFrame:
    """Render the span corpus as HTML pages: one ``<p>`` per text span, one
    ``<img src>`` per media span, in span order."""
    return corpus.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.col("spans"),
                lambda s: F.when(
                    s["kind"] == "media", F.concat(F.lit('<img src="'), s["media_ref"], F.lit('">'))
                ).otherwise(F.concat(F.lit("<p>"), s["text"], F.lit("</p>"))),
            ),
            "",
        ).alias("html"),
    )


def ops():
    from ocr_spark.operators import boilerplate as BP
    from ocr_spark.operators import dedup as DD
    from ocr_spark.operators import spans as SP
    from ocr_spark.operators import textstats as TS

    return {
        # span-shaped (take the interleaved corpus)
        "filter_spans_quality": lambda sp, c, t: SP.filter_spans_quality(c),
        "coalesce_spans": lambda sp, c, t: SP.coalesce_spans(c),
        "truncate_spans": lambda sp, c, t: SP.truncate_spans(c, max_tokens=1 << 30),
        "span_language_runs": lambda sp, c, t: SP.span_language_runs(c),
        "spans_to_markdown": lambda sp, c, t: SP.spans_to_markdown(c),
        "span_kind_transitions": lambda sp, c, t: SP.span_kind_transitions(c),
        "filter_interleaved_docs": lambda sp, c, t: SP.filter_interleaved_docs(c),
        # HTML-shaped (the span corpus rendered as pages)
        "html_to_spans": lambda sp, c, t: BP.html_to_spans(html_docs(c)),
        "extract_html_documents": lambda sp, c, t: BP.extract_html_documents(html_docs(c)),
        # text-shaped (take the flattened docs)
        "winnow_fingerprints": lambda sp, c, t: DD.winnow_fingerprints(t),
        "gopher_repetition": lambda sp, c, t: TS.gopher_repetition(t),
        "langid_model": lambda sp, c, t: TS.langid_model(t),
        "ngrams_of_5": lambda sp, c, t: t.select(
            "doc_id",
            F.explode(F.array_distinct(TS.ngrams_of(F.col("text"), 5))).alias("gram"),
        ),
        "shingles": lambda sp, c, t: t.select(
            "doc_id", F.explode(DD.shingles(F.col("text"))).alias("sh")
        ),
    }


def time_op(fn, spark, corpus, tdocs) -> float:
    best = float("inf")
    for _ in range(2):  # best-of-2 against host steal
        t0 = time.monotonic()
        df = fn(spark, corpus, tdocs)
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.monotonic() - t0)
    return best


def main() -> None:
    total = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
    scale = total // (SHAPE_SHORT[0] * SHAPE_SHORT[1])
    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    short = make_corpus(
        spark, SHAPE_SHORT[0] * max(scale, 1), SHAPE_SHORT[1]
    ).persist()
    long_ = make_corpus(spark, SHAPE_LONG[0] * max(scale, 1), SHAPE_LONG[1]).persist()
    short.count(), long_.count()
    tshort, tlong = text_docs(spark, short).persist(), text_docs(spark, long_).persist()
    tshort.count(), tlong.count()

    out, bad = {}, []
    for name, fn in ops().items():
        s = time_op(fn, spark, short, tshort)
        l = time_op(fn, spark, long_, tlong)
        ratio = round(l / max(s, 1e-9), 2)
        out[name] = {"short_sec": round(s, 3), "long_sec": round(l, 3), "ratio": ratio}
        if ratio > RATIO_LIMIT:
            bad.append(name)
    print(json.dumps({"metric": "megadoc_linearity", "ops": out, "quadratic_suspects": bad}))
    if bad:
        sys.exit(1)


if __name__ == "__main__":
    main()
