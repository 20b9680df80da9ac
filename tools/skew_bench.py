"""Mega-document skew benchmark: measures what the salted two-phase span
assembly buys when one document is 10^5-10^6 spans (north_rule: "salted
repartitioning to defuse skew from mega-documents").

Compares classify_and_assemble's production route (only docs above
BIG_DOC_SPANS take the salted path: offset-contiguous sub-groups → many
reducers per mega-doc) against every doc salted and against no doc salted
(one reducer owns each whole doc).

Usage: python tools/skew_bench.py [mega_spans] [n_normal_docs]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")


def main() -> None:
    mega_spans = int(sys.argv[1]) if len(sys.argv) > 1 else 400_000
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000

    from pyspark.sql import functions as F

    from ocr_spark import config
    from ocr_spark.operators.spans import classify_and_assemble
    from ocr_spark.session import get_spark

    spark = get_spark("skew-bench", master="local[32]", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    # normal docs: 12 spans each; 2 mega-docs with `mega_spans` spans
    normal = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(11)),
            lambda i: F.struct(
                F.lit("text").alias("kind"),
                F.concat(F.lit("w"), i.cast("string"), F.lit(" body words here")).alias("text"),
                F.lit("").alias("media_ref"),
                (i * 16).cast("int").alias("offset"),
            ),
        ).alias("spans"),
    )
    mega = spark.range(2).select(
        (F.col("id") + 10_000_000).alias("doc_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(mega_spans - 1)),
            lambda i: F.struct(
                F.lit("text").alias("kind"),
                F.concat(F.lit("m"), i.cast("string")).alias("text"),
                F.lit("").alias("media_ref"),
                (i * 16).cast("int").alias("offset"),
            ),
        ).alias("spans"),
    )
    normal.repartition(64).unionByName(mega).write.mode("overwrite").parquet(
        "/tmp/skew_bench_docs"
    )
    docs = spark.read.parquet("/tmp/skew_bench_docs")

    def run(**kw) -> float:
        out = classify_and_assemble(docs, **kw)
        out.write.format("noop").mode("overwrite").save()  # warm
        return min(
            _timed(out) for _ in range(2)
        )

    def _timed(out) -> float:
        t0 = time.time()
        out.write.format("noop").mode("overwrite").save()
        return time.time() - t0

    modes = {
        "hybrid": {},  # production default: route by span count
        "all_salted": {"big_doc_spans": 0},  # every doc two-phase
        "single_phase": {"big_doc_spans": 1 << 30},  # no doc ever salted
    }
    n_spans = n_docs * 12 + 2 * mega_spans
    results = {name: run(**kw) for name, kw in modes.items()}
    print(
        f"spans={n_spans} mega_docs=2x{mega_spans} | "
        + "  ".join(f"{k}: {v:.1f}s" for k, v in results.items())
    )


if __name__ == "__main__":
    main()
