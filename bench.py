#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Each query is fully materialized through the `noop` sink — a bare count()
would let Catalyst prune every expensive column and time nothing.

Extra env:
  SPARK_GRAFT_SCALE   replicate the flagship corpus N× (scaling runs need
                      enough work per core; default 1)
  SPARK_GRAFT_QUERIES comma list to restrict (default: headline set)
  SPARK_GRAFT_SHUFFLE override spark.sql.shuffle.partitions (default
                      max(cpus, 8); the 8→32 tuning experiments)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "extract_documents",
    "spans_assemble",
    "span_lang_runs",
    "spans_markdown",
    "spans_quality_filter",
    "metrics_pairwise",
    "metrics_rollup",
    "fields_extract",
    "field_metrics",
    "fields_spans",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_embedding",
    "dedup_semantic",
    "dedup_containment",
    "dedup_clusters",
    "dedup_lines",
    "dedup_spans",
    "host_templates",
    "ann_topk_bruteforce",
    "ann_topk_lsh",
    "ann_topk_ivf",
    "bitext_mine",
    "dedup_eval",
    "hard_negatives",
    "label_outliers",
    "keyword_tags",
    "minhash_band_plan",
    "tfidf_terms",
    "cooccur_ppmi",
    "vocab_coverage",
    "ngram_novelty",
    "curate_decisions",
    "dedup_eval_embedding",
    "ngram_overlap",
    "diversity_sample",
    "pdf_pages",
    "pdf_process",
    "html_extract",
    "html_cetr",
    "host_extract_stats",
    "layout_flags",
    "layout_boxes",
    "token_stats",
    "top_terms",
    "gopher_quality",
    "gopher_repetition",
    "lm_surprisal",
    "lm_stupid_backoff",
    "dedup_paragraphs",
    "c4_filters",
    "url_dedup",
    "temperature_mix",
    "budget_mix",
    "doremi_mix",
    "fix_text",
    "chunk_docs",
    "corpus_report",
    "classifier_score",
    "dsir_score",
    "bpe_train",
    "bpe_tokens",
    "kmeans_clusters",
    "table_scan_pruned",
    "search_bm25",
    "license_filter",
    "dedup_substr",
    "bloom_membership",
    "pagerank",
    "hits_scores",
    "trustrank",
    "lpa_communities",
    "kcore_nodes",
    "graph_walks",
    "graph_triangles",
    "spans_coalesce",
    "winnow_fps",
    "decontaminate_spans",
    "winnow_pairs",
    "spans_truncate",
    "span_transitions",
    "interleave_gate",
    "hll_distinct",
    "cms_heavy_hitters",
    "events_asof",
    "search_topk",
    "events_range_join",
    "length_quantiles",
    "events_rollup",
    "corpus_sample",
    "pii_scrub",
    "pii_scrub_spans",
    "upload_validate",
    "corpus_splits",
    "splits_by_cluster",
    "dedup_keep_best",
    "domain_report",
    "table_cow_maintenance",
    "decontaminate",
    "pack_sequences",
    "pack_interleaved",
    "jsonl_roundtrip",
    "orc_roundtrip",
    "html_readability",
    "html_justext",
    "shuffle_shards",
    "table_stats_agg",
    "table_bloom_lookup",
    "table_partition_counts",
    "decontaminate_fuzzy",
    "search_hybrid_rrf",
    "pack_tokenized",
    "ann_topk_pq",
    "ann_topk_ivfpq",
    "events_stream_join_outer",
    "warc_html_extract",
    "events_windowed",
    "sessionize",
    "media_decode",
    "media_frame_sample",
    "media_integrity",
    "media_orphans",
    "media_captions",
    "html_links",
    "page_directives",
    "robots_rules",
    "robots_gate",
    "robots_sitemaps",
    "sitemap_entries",
    "crawl_frontier",
    "crawl_diff",
    "stitch_pages",
    "feed_entries",
    "feed_links",
    "html_meta",
    "extract_ensemble",
    "html_justext_multi",
    "lang_mismatch",
    "html_spans",
    "feed_dates",
    "robots_delay",
    "frontier_schedule",
    "html_tables",
    "html_headings",
    "html_lists",
    "html_code_blocks",
    "page_lead_image",
    "html_sections",
    "html_markdown",
    "jsonld_blocks",
    "url_canonical",
    "host_graph",
    "anchor_texts",
    "compress_ratio",
    "langid_model",
    "host_stats",
    "ccnet_tiers",
    "sentences",
    "sentence_windows",
    "decontaminate_sentences",
    "corpus_digest",
    "audio_chunks",
    "image_noise_stats",
    "image_features",
]


def materialize(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def stable_min(measure, tol: float = 1.25, max_passes: int = 4) -> float:
    """Repeat ``measure()`` until the two fastest passes agree within
    ``tol`` (then the min is reproducible, not a lucky gap in host steal),
    up to ``max_passes``. Host CPU steal only ever INFLATES a pass, so the
    min estimates the unloaded figure; requiring a second pass within tol
    of it is what makes back-to-back bench runs comparable (±20% was not
    achievable with a fixed best-of-2 on this VM — BENCH.md)."""
    times = [measure(), measure()]
    while len(times) < max_passes:
        s = sorted(times)
        if s[1] <= s[0] * tol:
            break
        times.append(measure())
    return min(times)


def build_and_materialize(fn, spark, sf_dir) -> float:
    """Time plan CONSTRUCTION + execution. Construction is not free for
    every query: iterative operators (connected components) run their
    distributed loop while the plan is being built, so timing only the
    final materialize would hide almost all of their cost. Operator-
    internal persisted side tables are released between measurements so
    repeated queries in one session don't accumulate pinned caches."""
    from ocr_spark.operators.dedup import release_feature_caches

    t0 = time.time()
    df = fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    dt = time.time() - t0
    release_feature_caches()
    return dt


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    scale = int(os.environ.get("SPARK_GRAFT_SCALE", "1"))
    only = os.environ.get("SPARK_GRAFT_QUERIES")
    if only == "none":
        names = []
    elif only:
        names = only.split(",")
    else:
        names = HEADLINE

    from pyspark.sql import functions as F

    from ocr_spark.pipeline import extract_documents
    from ocr_spark.plans import entry_queries as EQ
    from ocr_spark.plans.derived import span_corpus
    from ocr_spark.session import get_spark

    shuffle = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "0")) or max(cpus, 8)
    spark = get_spark(
        "ocr-spark-bench", master=f"local[{cpus}]", shuffle_partitions=shuffle
    )
    spark.sparkContext.setLogLevel("ERROR")

    from ocr_spark.plans.derived import load

    # The flagship measures EXTRACTION throughput over a parquet-backed
    # interleaved corpus (the engine's canonical input shape) — corpus
    # synthesis is input preparation and runs once, outside the timer.
    sf_tag = sf_dir.rstrip("/").split("/")[-1]
    corpus_path = os.environ.get(
        "SPARK_GRAFT_CORPUS_DIR", f"/tmp/ocr_bench_corpus_{sf_tag}_x{scale}"
    )
    if not os.path.exists(corpus_path + "/_SUCCESS"):
        docs = load(spark, sf_dir, "documents")
        if scale > 1:
            # replicate AFTER the repartition: each partition generates its
            # own replicas in parallel (a crossJoin on the raw 1-partition
            # scan would build the whole corpus on one core)
            reps = spark.range(scale).select(F.col("id").alias("rep"))
            n_docs_base = docs.count()
            docs = (
                docs.crossJoin(F.broadcast(reps))
                .withColumn("doc_id", F.col("doc_id") + F.col("rep") * n_docs_base)
                .drop("rep")
            )
        span_corpus(docs).repartition(64).write.mode("overwrite").parquet(corpus_path)

    # split the scan finely enough that every core gets work even though
    # the corpus files are small
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
    spark.conf.set("spark.sql.files.openCostInBytes", "65536")
    corpus = spark.read.parquet(corpus_path)

    n_docs = corpus.count()
    n_spans = corpus.select(F.sum(F.size("spans"))).collect()[0][0]
    # one full warm pass (high-thread-count runs need real JIT warm-up —
    # a limit(64) pass leaves the hot loops interpreted), then best-of-2
    flagship = extract_documents(corpus)
    materialize(flagship)
    flagship_sec = stable_min(lambda: materialize(flagship))

    per_query: dict[str, float] = {"flagship_extract": round(flagship_sec, 3)}
    for name in names:
        if name == "extract_documents" and scale > 1:
            continue  # already measured as flagship at scale
        fn = EQ.QUERIES[name]
        per_query[name] = round(
            stable_min(lambda: build_and_materialize(fn, spark, sf_dir)), 3
        )

    # ANN quality: recall@5 of the LSH path against the exact brute force
    # (bench instrumentation — the only place a collect belongs)
    ann_recall = None
    ivf_recall = None
    pq_recall = None
    ivfpq_recall = None
    if "ann_topk_bruteforce" in per_query and (
        "ann_topk_lsh" in per_query
        or "ann_topk_ivf" in per_query
        or "ann_topk_pq" in per_query
        or "ann_topk_ivfpq" in per_query
    ):
        bf = {
            (r["query_id"], r["neighbor_id"])
            for r in EQ.QUERIES["ann_topk_bruteforce"](spark, sf_dir).collect()
        }
        if "ann_topk_lsh" in per_query:
            ls = {
                (r["query_id"], r["neighbor_id"])
                for r in EQ.QUERIES["ann_topk_lsh"](spark, sf_dir).collect()
            }
            ann_recall = round(len(bf & ls) / max(len(bf), 1), 3)
        if "ann_topk_ivf" in per_query:
            iv = {
                (r["query_id"], r["neighbor_id"])
                for r in EQ.QUERIES["ann_topk_ivf"](spark, sf_dir).collect()
            }
            ivf_recall = round(len(bf & iv) / max(len(bf), 1), 3)
        if "ann_topk_pq" in per_query:
            pq = {
                (r["query_id"], r["neighbor_id"])
                for r in EQ.QUERIES["ann_topk_pq"](spark, sf_dir).collect()
            }
            pq_recall = round(len(bf & pq) / max(len(bf), 1), 3)
        if "ann_topk_ivfpq" in per_query:
            ip = {
                (r["query_id"], r["neighbor_id"])
                for r in EQ.QUERIES["ann_topk_ivfpq"](spark, sf_dir).collect()
            }
            ivfpq_recall = round(len(bf & ip) / max(len(bf), 1), 3)

    total = sum(per_query.values())
    sf = sf_dir.rstrip("/").split("sf")[-1]
    out = {
        "metric": "headline_queries_total_sec",
        "value": round(total, 3),
        "unit": "sec",
        "queries": per_query,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": cpus,
        "scale": scale,
        "ann_recall_at_5": ann_recall,
        "ann_recall_at_5_ivf": ivf_recall,
        "ann_recall_at_5_pq": pq_recall,
        "ann_recall_at_5_ivfpq": ivfpq_recall,
        "flagship": {
            "n_docs": n_docs,
            "n_spans": int(n_spans),
            "sec": round(flagship_sec, 3),
            "docs_per_sec": round(n_docs / flagship_sec, 1),
            "spans_per_sec": round(n_spans / flagship_sec, 1),
        },
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
