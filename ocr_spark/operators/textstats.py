"""Text analysis for large-scale training-data pipelines: language-ID,
quality scoring, token counting, document fingerprinting.

All pure Column expressions (whole-stage codegen); every op has an exact
DuckDB-SQL twin in __spark_entry__.oracle_sql() — hash math is md5-prefix /
integer-polynomial based specifically so both engines agree bit-for-bit.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, Window
from pyspark.sql import functions as F

from ocr_spark import config
from ocr_spark.functions.text import let, py_strip, text_quality_score  # noqa: F401  (re-export)
from ocr_spark.operators.spans import span_rank, span_rows

FNV_MOD = 1_000_000_007  # polynomial-hash modulus (fits all folds in int64)
CHAR_BASE = 131
WORD_BASE = 31


def seeded_hash48(value: Column, seed: str) -> Column:
    """48-bit seeded md5 hash of ``'{seed}:' || value`` as a BIGINT — the
    one deterministic-decision hash every sampling/sharding operator uses
    (split_assign, pack_sequences, temperature_sample, classifier
    buckets). Engine-neutral: DuckDB twins spell it
    ``('0x' || substr(md5('{seed}:' || v), 1, 12))::BIGINT``."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), value.cast("string"))), 1, 12),
        16,
        10,
    ).cast("long")


def words_of(text: Column) -> Column:
    """Whitespace tokens of the lowered text (empty array for blank)."""
    s = py_strip(F.lower(F.coalesce(text, F.lit(""))))
    return F.when(s == "", F.array().cast("array<string>")).otherwise(F.split(s, r"(?U)\s+"))


def language_id(text: Column) -> Column:
    """Stopword-profile language ID: the language whose function-word list
    hits the most tokens wins; ties break alphabetically ('und' when no
    profile hits at all). Deterministic, n-gram-free heuristic in the
    spirit of the reference's script-count detector (ocr_service.py:632)."""
    w = words_of(text)
    scores = []
    for lang in sorted(config.LANGID_STOPWORDS):
        sw = config.LANGID_STOPWORDS[lang]
        arr = F.array(*[F.lit(x) for x in sw])
        score = F.size(F.filter(w, lambda t: F.array_contains(arr, t)))
        scores.append(F.struct(score.alias("score"), F.lit(lang).alias("lang")))
    # array_max on struct = lexicographic (score, lang) max → highest score,
    # ties broken by LAST lang alphabetically; invert via reverse compare:
    best = F.array_max(
        F.array(
            *[
                F.struct(
                    s["score"].alias("score"),
                    # invert lang for tie-break: max on (score, -lang) ==
                    # alphabetically-first lang among ties. Simpler: since
                    # langs are distinct fixed strings, map each to a rank
                    # DESC so larger rank = earlier alphabetically.
                    F.lit(len(scores) - i).alias("rank"),
                    s["lang"].alias("lang"),
                )
                for i, s in enumerate(scores)
            ]
        )
    )
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def token_count_ws(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(words_of(text))


def token_count_bpe(text: Column) -> Column:
    """BPE-ish sub-token count: runs of word chars or single punctuation
    (the classic GPT-2-style pre-tokenizer shape, ASCII form)."""
    return F.size(
        F.regexp_extract_all(F.coalesce(text, F.lit("")), F.lit(r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"), 0)
    )


def char_hash(word: Column) -> Column:
    """Polynomial char hash: fold ascii codes, base 131 mod 1e9+7.
    Integer-exact in any engine."""
    chars = F.filter(F.split(word, ""), lambda c: c != "")
    return F.aggregate(
        chars, F.lit(0).cast("long"), lambda acc, c: (acc * CHAR_BASE + F.ascii(c)) % FNV_MOD
    )


def fingerprint(text: Column) -> Column:
    """Document fingerprint: rolling polynomial hash over word hashes
    (Karp–Rabin style), base 31 mod 1e9+7."""
    return F.aggregate(
        words_of(text),
        F.lit(0).cast("long"),
        lambda acc, w: (acc * WORD_BASE + char_hash(w)) % FNV_MOD,
    )


def quality_features(text: Column) -> dict[str, Column]:
    """Boilerpipe-ish quality features: length, word stats, punct/stopword
    ratios, plus the reference's composite score (T5)."""
    t = F.coalesce(text, F.lit(""))
    w = words_of(t)
    n_words = F.size(w)
    n_chars = F.length(t)
    punct = F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    en_sw = F.array(*[F.lit(x) for x in config.LANGID_STOPWORDS["en"]])
    stop = F.size(F.filter(w, lambda x: F.array_contains(en_sw, x)))
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "avg_word_len": F.when(n_words > 0, (F.aggregate(w, F.lit(0), lambda a, x: a + F.length(x))).cast("double") / n_words).otherwise(F.lit(0.0)),
        "punct_ratio": F.when(n_chars > 0, punct.cast("double") / n_chars).otherwise(F.lit(0.0)),
        "stopword_ratio": F.when(n_words > 0, stop.cast("double") / n_words).otherwise(F.lit(0.0)),
        "quality_score": text_quality_score(t),
    }


def gopher_quality(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_dup_line_char_frac: float = 0.3,
    max_top_2gram_char_frac: float = 0.20,
    max_top_3gram_char_frac: float = 0.18,
    max_top_4gram_char_frac: float = 0.16,
    max_bullet_line_frac: float = 0.90,
    max_ellipsis_line_frac: float = 0.30,
    min_alpha_word_frac: float = 0.80,
    min_stopwords_present: int = 2,
    lang_col: str | None = None,
):
    """Repetition-aware document quality gate in the style of the Gopher
    rules (Rae et al. 2021 §A.1.1, public thresholds): word-count and
    mean-word-length bounds, fraction of characters in duplicated LINES,
    and fraction of characters covered by the most frequent word 2-gram /
    3-gram / 4-gram. Complements :func:`quality_features` (which scores shape, not
    repetition) — repetition is the dominant failure mode of crawled
    training text.

    Definitions (shared with the DuckDB twin): words = lowered whitespace
    tokens; lines = trimmed non-empty '\\n' segments; char fractions count
    word characters (separators excluded), with the lexicographically
    smallest n-gram winning count ties. Plan shape: three doc_id-keyed
    aggregations (lines, 2-grams, 3-grams) joined back onto per-doc word
    stats — every shuffle is keyed on doc_id or (doc_id, gram), no
    corpus-wide hot key.

    Beyond the repetition rules, the published shape rules are applied
    too: ≤90% of lines may start with a bullet, ≤30% may end with an
    ellipsis, ≥80% of words must contain an alphabetic character, and at
    least 2 distinct English stop words must appear ({the, be, to, of,
    and, that, have, with} — the paper's list).

    The alpha-word ([A-Za-z]) and stop-word rules are ENGLISH-specific:
    applied unconditionally they would zero out a ru/de/fr/es corpus
    (the reference pipeline is ru+en, config.py OCR_LANGUAGES). Pass
    ``lang_col`` — a language-code column on ``docs`` (e.g. from
    :func:`language_id`) — and those two rules gate only rows whose
    language is ``'en'``; all language-neutral rules still apply to
    every row. Default ``None`` keeps the unconditional published
    behavior (the `gopher_quality` driver query / oracle twin).

    Returns (doc_id, n_words, mean_word_len, frac_dup_line_chars,
    frac_top_2gram, frac_top_3gram, frac_top_4gram, frac_bullet_lines,
    frac_ellipsis_lines, frac_alpha_words, n_stopwords_present,
    quality_pass)."""
    zero = F.lit(0).cast("long")
    # __is_en rides along the narrow doc-local projection (no extra
    # shuffle): rules gated on it only when lang_col was supplied.
    is_en = F.lit(True) if lang_col is None else (F.col(lang_col) == F.lit("en"))
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(F.col(text_col), F.lit("")).alias("t"),
        words_of(F.col(text_col)).alias("w"),
        is_en.alias("__is_en"),
    )
    word_chars = F.aggregate(F.col("w"), zero, lambda a, x: a + F.length(x))
    nb_lines = F.filter(
        F.transform(F.split(F.col("t"), "\n"), lambda x: F.trim(x)), lambda x: x != ""
    )
    n_lines = F.size(nb_lines)
    bullet = F.size(
        F.filter(
            nb_lines,
            lambda x: x.startswith("•") | x.startswith("-") | x.startswith("*"),
        )
    )
    ellipsis = F.size(
        F.filter(nb_lines, lambda x: x.endswith("...") | x.endswith("…"))
    )
    alpha = F.size(F.filter(F.col("w"), lambda x: x.rlike("[A-Za-z]")))
    stoplist = F.array(
        *[F.lit(x) for x in ("the", "be", "to", "of", "and", "that", "have", "with")]
    )
    n_stop = F.size(F.array_intersect(F.array_distinct(F.col("w")), stoplist))
    wordstats = base.select(
        "doc_id",
        "t",
        "w",
        "__is_en",
        F.size("w").alias("n_words"),
        word_chars.alias("word_chars"),
        F.round(
            F.when(
                F.size("w") > 0, word_chars.cast("double") / F.size("w")
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("mean_word_len"),
        F.round(
            F.when(n_lines > 0, bullet.cast("double") / n_lines).otherwise(F.lit(0.0)), 6
        ).alias("frac_bullet_lines"),
        F.round(
            F.when(n_lines > 0, ellipsis.cast("double") / n_lines).otherwise(F.lit(0.0)), 6
        ).alias("frac_ellipsis_lines"),
        F.round(
            F.when(F.size("w") > 0, alpha.cast("double") / F.size("w")).otherwise(F.lit(0.0)),
            6,
        ).alias("frac_alpha_words"),
        n_stop.cast("long").alias("n_stopwords_present"),
    )

    lines = wordstats.select(
        "doc_id",
        F.explode(
            F.filter(
                F.transform(F.split(F.col("t"), "\n"), lambda x: F.trim(x)),
                lambda x: x != "",
            )
        ).alias("line"),
    )
    linestats = (
        lines.groupBy("doc_id", "line")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("cnt") * F.length("line")).alias("line_chars"),
            F.sum(
                F.when(F.col("cnt") > 1, F.col("cnt") * F.length("line")).otherwise(0)
            ).alias("dup_line_chars"),
        )
    )

    def top_gram_frac(n: int, out_col: str):
        grams = wordstats.filter(F.size("w") >= n).select(
            "doc_id",
            "word_chars",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("w") - n + 1),
                    lambda i: F.concat_ws(" ", F.slice(F.col("w"), i, n)),
                )
            ).alias("gram"),
        )
        counts = grams.groupBy("doc_id", "word_chars", "gram").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        win = Window.partitionBy("doc_id").orderBy(
            F.col("cnt").desc(), F.col("gram").asc()
        )
        return (
            counts.withColumn("rn", F.row_number().over(win))
            .filter(F.col("rn") == 1)
            .select(
                "doc_id",
                F.round(
                    F.when(
                        F.col("word_chars") > 0,
                        (
                            F.col("cnt")
                            * F.length(F.regexp_replace(F.col("gram"), " ", ""))
                        ).cast("double")
                        / F.col("word_chars"),
                    ).otherwise(F.lit(0.0)),
                    6,
                ).alias(out_col),
            )
        )

    out = (
        wordstats.select(
            "doc_id", "n_words", "mean_word_len", "frac_bullet_lines",
            "frac_ellipsis_lines", "frac_alpha_words", "n_stopwords_present",
            "__is_en",
        )
        .join(
            linestats.select(
                "doc_id",
                F.round(
                    F.when(
                        F.col("line_chars") > 0,
                        F.col("dup_line_chars").cast("double") / F.col("line_chars"),
                    ).otherwise(F.lit(0.0)),
                    6,
                ).alias("frac_dup_line_chars"),
            ),
            "doc_id",
            "left",
        )
        .join(top_gram_frac(2, "frac_top_2gram"), "doc_id", "left")
        .join(top_gram_frac(3, "frac_top_3gram"), "doc_id", "left")
        .join(top_gram_frac(4, "frac_top_4gram"), "doc_id", "left")
        .na.fill(
            {
                "frac_dup_line_chars": 0.0,
                "frac_top_2gram": 0.0,
                "frac_top_3gram": 0.0,
                "frac_top_4gram": 0.0,
            }
        )
    )
    return out.withColumn(
        "quality_pass",
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len)
        & (F.col("frac_dup_line_chars") <= max_dup_line_char_frac)
        & (F.col("frac_top_2gram") <= max_top_2gram_char_frac)
        & (F.col("frac_top_3gram") <= max_top_3gram_char_frac)
        & (F.col("frac_top_4gram") <= max_top_4gram_char_frac)
        & (F.col("frac_bullet_lines") <= max_bullet_line_frac)
        & (F.col("frac_ellipsis_lines") <= max_ellipsis_line_frac)
        & (
            ~F.col("__is_en")
            | (
                (F.col("frac_alpha_words") >= min_alpha_word_frac)
                & (F.col("n_stopwords_present") >= min_stopwords_present)
            )
        ),
    ).drop("__is_en")


# Redaction patterns — restricted to syntax with identical semantics in
# Java regex (Spark) and RE2 (DuckDB): no lookaround, no backrefs, ASCII
# classes only. Order matters: URLs first (they contain email/IP lookalikes),
# then emails, IPs, phones — each stage counts on ITS input, so a pattern
# swallowed by an earlier stage is never double-counted.
# ONE definition of "a URL" shared by pii_scrub and the domain gate (the
# curation job filters on raw text precisely because both must agree).
# \r excluded too: on CRLF corpora a line-final URL must not capture the
# carriage return (a host with a trailing \r escapes every domain match).
URL_RE = r"https?://[^ \t\r\n]+"
# Host of a URL: optional userinfo dropped (user:pass@host — otherwise
# "https://x@blocked.com" hides the host), then everything up to the
# first port/path/query/fragment delimiter. RE2/Java-identical syntax.
HOST_RE = r"^https?://(?:[^/?#]*@)?([^/:?#]+)"

PII_PATTERNS = (
    ("url", URL_RE, "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\+[0-9]{1,3}[- ]?\(?[0-9]{2,4}\)?[- ]?[0-9]{2,4}[- ]?[0-9]{2,4}", "<PHONE>"),
)


def pii_scrub(text: Column) -> dict[str, Column]:
    """PII / link redaction for training corpora: replaces URLs, emails,
    IPv4s and international-format phone numbers with typed tokens and
    counts each kind. Pure regexp expressions (whole-stage codegen), with
    per-stage sequential semantics shared with the DuckDB twin."""
    t = F.coalesce(text, F.lit(""))
    out: dict[str, Column] = {}
    for name, pat, token in PII_PATTERNS:
        out[f"n_{name}"] = F.regexp_count(t, F.lit(pat)).cast("long")
        t = F.regexp_replace(t, pat, token)
    out["redacted"] = t
    return out


def pii_scrub_spans(
    docs: DataFrame, id_col: str = "doc_id", spans_col: str = "spans"
) -> DataFrame:
    """PII redaction over the interleaved span shape: text spans are
    scrubbed IN PLACE (same sequential regexp chain as :func:`pii_scrub`),
    media spans pass through untouched, and the (kind, media_ref, offset)
    interleaving is preserved — so extraction output stays interleaved
    through curation instead of being flattened to text and losing its
    media alignment. Pure expressions inside one ``transform`` plus one
    ``aggregate`` per counter — no shuffle, no explode; whole-stage
    codegen end to end. Returns the input columns with ``spans`` redacted
    plus per-document counts (n_url, n_email, n_ip, n_phone)."""

    def redact(t: Column) -> Column:
        x = F.coalesce(t, F.lit(""))
        for _name, pat, token in PII_PATTERNS:
            x = F.regexp_replace(x, pat, token)
        return x

    def scrub_span(s: Column) -> Column:
        return F.struct(
            s["kind"].alias("kind"),
            F.when(s["kind"] == "media", s["text"])
            .otherwise(redact(s["text"]))
            .alias("text"),
            s["media_ref"].alias("media_ref"),
            s["offset"].alias("offset"),
        )

    def count_kind(pat: str) -> Column:
        # sequential-chain semantics: each pattern counts on the text with
        # all PRIOR patterns already replaced, matching pii_scrub exactly
        return F.aggregate(
            F.col(spans_col),
            F.lit(0).cast("long"),
            lambda acc, s: acc
            + F.when(
                s["kind"] != "media",
                F.regexp_count(_pii_prior(s["text"], pat), F.lit(pat)),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )

    def _pii_prior(t: Column, upto_pat: str) -> Column:
        x = F.coalesce(t, F.lit(""))
        for _name, pat, token in PII_PATTERNS:
            if pat == upto_pat:
                break
            x = F.regexp_replace(x, pat, token)
        return x

    out = docs.withColumn(
        "_scrubbed", F.transform(F.col(spans_col), scrub_span)
    )
    for name, pat, _tok in PII_PATTERNS:
        out = out.withColumn(f"n_{name}", count_kind(pat))
    return out.drop(spans_col).withColumnRenamed("_scrubbed", spans_col)


def top_terms(docs, k: int = 3, id_col: str = "doc_id", text_col: str = "text"):
    """Per-document salient terms: TF × linear rarity weight.

    score = tf * (N + 1) / (df + 1) — the TF-IDF family with a LINEAR
    inverse-document-frequency instead of the logarithmic one, chosen
    deliberately: ln() is libm-dependent (measured 369/5000 one-ulp
    mismatches between the JVM and DuckDB on this exact value domain), so
    a log-idf score cannot be hash-verified across engines, while the
    linear form is one integer-exact division + multiply (bit-identical
    IEEE ops everywhere). Ranking keeps the same "frequent here, rare
    overall" semantics; callers wanting textbook log-idf can recompute it
    from the emitted (tf, df, n_docs are exact ints).

    Plan: one (doc_id, term) count aggregation feeds BOTH term frequency
    and document frequency (df aggregates the same table again by term),
    joined back keyed on term — no corpus-wide hot key beyond natural
    stopword skew, which the partial (map-side) count aggregation absorbs.
    Returns (doc_id, term, tf, df, score, rank), rank 1..k per doc by
    (score desc, term asc)."""
    base = docs.select(F.col(id_col).alias("doc_id"), words_of(F.col(text_col)).alias("w"))
    n_docs = base.agg(F.count(F.lit(1)).alias("n_docs"))
    tf = (
        base.select("doc_id", F.explode("w").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            (
                F.col("tf").cast("double")
                * (F.col("n_docs") + 1).cast("double")
                / (F.col("df") + 1).cast("double")
            ).alias("score"),
        )
    )
    win = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "df", "score", F.col("rank").cast("long").alias("rank"))
    )


def split_assign(
    id_c: Column,
    ratios: dict[str, float] | None = None,
    seed: str = "split-v1",
) -> Column:
    """Deterministic dataset-split assignment for corpus prep: hash the id
    with a named seed into [0, 1) and map to labeled ratio bands. Stable
    across runs, engines and cluster sizes (md5 arithmetic, no RNG), so a
    document never migrates between train and eval when the corpus is
    re-processed — the property a Spark ``randomSplit`` (partition-index
    dependent) does not give you. Band edges are exact integer thresholds
    on the 48-bit hash, so the twin SQL agrees bit-for-bit."""
    ratios = ratios or {"train": 0.98, "val": 0.01, "test": 0.01}
    h = seeded_hash48(id_c, seed)
    space = 1 << 48
    expr = None
    acc = 0.0
    items = list(ratios.items())
    for name, r in items[:-1]:
        acc += r
        cond = h < int(acc * space)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = items[-1][0]
    return (expr.otherwise(F.lit(last)) if expr is not None else F.lit(last))


def shuffle_shards(
    docs,
    n_shards: int = 64,
    id_col: str = "doc_id",
    seed: str = "shuffle-v1",
):
    """Deterministic global training shuffle + shard layout: the trainer
    handoff after curate → mix → pack.  Every document gets a seeded
    48-bit hash rank; its shard is ``rank % n_shards`` and its position
    inside the shard is the rank order — so the (shard, position)
    assignment is a pure function of (id, seed), identical across runs,
    engines, and cluster sizes, and re-shuffling for a new epoch is just
    a new seed string (no RNG state, no randomSplit partition-index
    dependence).

    Plan shape at 10^12 docs: ONE hash-partitioned shuffle on shard
    (uniform by construction — the hash is uniform, so shards are
    balanced with no hot key), and the intra-shard sort is per-partition
    via repartition + sortWithinPartitions when writing; here the
    position is emitted as an explicit window rank per shard so the
    layout is data, not partition order (the same discipline as span
    assembly).  Ties are impossible below ~2^24 docs per shard and
    broken by id above (rank, id) — still deterministic."""
    from pyspark.sql import Window

    h = seeded_hash48(F.col(id_col), seed)
    w = Window.partitionBy("shard").orderBy("rank", id_col)
    return (
        docs.withColumn("rank", h)
        .withColumn("shard", (F.col("rank") % n_shards).cast("int"))
        .withColumn("position", F.row_number().over(w).cast("long") - 1)
    )


def split_by_cluster(
    docs,
    clusters,
    id_col: str = "doc_id",
    ratios: dict[str, float] | None = None,
    seed: str = "split-v1",
):
    """Leakage-safe dataset splits: assign train/val/test by the near-dup
    CLUSTER representative, not the document id, so two near-duplicate
    documents can never land on opposite sides of a train/eval boundary
    (the contamination mode a plain per-doc hash split silently permits —
    the doc-level complement of eval-set ``decontaminate``).

    ``clusters`` is ``connected_components`` output ``(id, cluster_id,
    is_canonical)`` over the near-dup pair graph. Documents outside any
    cluster hash on their own id with the SAME seed, so their assignment
    is identical to ``split_assign`` — adopting leakage-safe splits
    re-shuffles only the clustered minority of the corpus.

    Scale: one equi-join on the id; the cluster table holds only docs that
    appear in a near-dup pair (a small fraction of the corpus), so AQE
    broadcasts it when it fits and shuffle-joins otherwise — no new wide
    dependency beyond what the dedup pass already computed.
    """
    reps = clusters.select(F.col("id").alias(id_col), "cluster_id")
    rep = F.coalesce(F.col("cluster_id"), F.col(id_col))
    return (
        docs.join(reps, id_col, "left")
        .select(
            F.col(id_col),
            rep.alias("split_key"),
            split_assign(rep, ratios, seed).alias("split"),
        )
    )


def ngrams_of(text: Column, n: int) -> Column:
    """Sliding word n-grams of the lowered text, space-joined (empty
    array when the document has fewer than n words). The word array is
    bound once with :func:`~ocr_spark.functions.text.let`, so the split
    never re-runs per gram."""
    return let(
        words_of(text),
        lambda w: F.when(
            F.size(w) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(w) - (n - 1)),
                lambda i: F.array_join(F.slice(w, i, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


def decontaminate(
    train,
    eval_docs,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Eval-set decontamination (the GPT-3 appendix-C / PaLM shape): flag
    every training document that shares at least one word n-gram with any
    benchmark/eval document, so evaluation text can be excluded from the
    training corpus before a leak inflates the metric.

    Plan: the eval side — benchmarks are small relative to a training
    corpus — collapses to DISTINCT grams and is BROADCAST; the training
    corpus explodes its per-document distinct grams and probes the
    broadcast map-side (no shuffle of corpus data for the join), then the
    per-doc overlap count partial-aggregates before its one keyed
    shuffle. At 10^12 training docs the corpus is touched in a single
    narrow pass; only (doc_id, count) rows ever move. If the eval side
    outgrows broadcast (~10s of GiB of grams), drop the broadcast hint
    and the same plan becomes a shuffle hash join keyed on the gram —
    no other change.

    Returns one row per TRAINING doc: (doc_id, n_contaminated_grams —
    distinct overlapping n-grams, contaminated)."""
    def grams(df):
        return df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.array_distinct(ngrams_of(F.col(text_col), n))).alias("gram"),
        )

    eval_grams = grams(eval_docs).select("gram").distinct()
    hits = (
        grams(train)
        .join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        train.select(F.col(id_col).alias("doc_id"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_contaminated_grams"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def decontaminate_spans(
    docs,
    eval_docs,
    n: int = 5,
    id_col: str = "doc_id",
    spans_col: str = "spans",
    text_col: str = "text",
):
    """Eval-set decontamination lifted to the interleaved span shape: only
    the TEXT SPANS sharing at least one word n-gram with the eval set are
    dropped — media spans and clean text spans survive with order
    re-ranked dense — so a single leaked quote costs one span, not the
    whole multimodal document (:func:`decontaminate` is the doc-level
    kill switch; this is the surgical variant, the same doc-vs-span split
    as pii_scrub vs pii_scrub_spans and dedup_lines vs dedup_spans).

    Plan: eval grams collapse to DISTINCT and broadcast (decontaminate's
    eval-side economics); the corpus explodes to span rows ONCE, text
    spans probe the broadcast map-side, and the contaminated
    (doc_id, offset) key set anti-joins back onto the span rows keyed
    (doc_id, offset, kind) — kind in the key keeps a media span safe even
    if it shares an offset with a contaminated text span. One keyed
    shuffle for the anti-join, one window for the dense re-rank in
    canonical span order (``operators/spans``), both on doc keys.

    Returns exploded kept spans (doc_id, kind, text, media_ref, ord)."""
    eval_grams = (
        eval_docs.select(
            F.explode(F.array_distinct(ngrams_of(F.col(text_col), n))).alias("gram")
        )
        .distinct()
    )
    rows = span_rows(docs, id_col, spans_col)
    bad = (
        rows.filter(F.col("kind") == "text")
        .select(
            "doc_id",
            "offset",
            F.explode(F.array_distinct(ngrams_of(F.col("text"), n))).alias("gram"),
        )
        .join(F.broadcast(eval_grams), "gram")
        .select("doc_id", "offset", F.lit("text").alias("kind"))
        .distinct()
    )
    kept = rows.join(bad, ["doc_id", "offset", "kind"], "left_anti")
    return kept.select("doc_id", "kind", "text", "media_ref", span_rank().alias("ord"))


def pack_sequences(
    docs,
    seq_len: int = 2048,
    num_shards: int = 8,
    seed: str = "pack-v1",
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Concat-and-chunk sequence-packing plan (the GPT pretraining data
    layout): documents are concatenated token-wise within a shard and cut
    every ``seq_len`` tokens; each document learns which training
    sequences it lands in and whether it straddles a cut.

    Sharding is a seeded md5 hash of the id (engine-neutral, no RNG), so
    the layout is stable across runs and cluster sizes. The cumulative
    position is a window sum PARTITIONED BY SHARD — at 10^12 docs you
    raise ``num_shards`` so each window partition stays executor-sized;
    packing is then embarrassingly parallel, which is exactly how
    production pipelines shard this job. Token positions use integer
    ``div`` (never double division), so offsets stay exact past 2^53.

    Returns (doc_id, shard, n_tokens, tok_start, seq_start, seq_end,
    crosses_boundary); empty docs occupy zero tokens at their boundary."""
    h = seeded_hash48(F.col(id_col), seed)
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        (h % num_shards).cast("long").alias("shard"),
        token_count_bpe(F.col(text_col)).cast("long").alias("n_tokens"),
    )
    return _pack_layout(base, seq_len)


def pack_sequences_tokenized(
    docs,
    num_merges: int = 64,
    seq_len: int = 2048,
    num_shards: int = 8,
    seed: str = "pack-v1",
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Sequence packing with TRAINED-tokenizer counts: identical layout
    math to :func:`pack_sequences`, but ``n_tokens`` comes from the
    corpus-trained BPE vocabulary (``operators/bpe.bpe_token_stats`` —
    the count the trainer actually sees at its context window) instead
    of the regex approximation.  The gap matters: packing to 2048
    regex-tokens can overflow or underfill the real context by the
    subword inflation factor, which is corpus- and language-dependent.
    Plan shape adds one corpus-vs-vocab equi-join; the packing window
    stays per-shard."""
    from ocr_spark.operators.bpe import bpe_token_stats

    counts = bpe_token_stats(docs, num_merges, id_col=id_col, text_col=text_col)
    h = seeded_hash48(F.col("doc_id"), seed)
    base = counts.select(
        "doc_id",
        (h % num_shards).cast("long").alias("shard"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )
    return _pack_layout(base, seq_len)


def _pack_layout(base, seq_len: int):
    """Shared packing layout math over (doc_id, shard, n_tokens)."""
    win = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = base.withColumn("tok_end", F.sum("n_tokens").over(win)).withColumn(
        "tok_start", F.col("tok_end") - F.col("n_tokens")
    )
    seq_start = F.expr(f"tok_start div {seq_len}")
    seq_end = F.when(
        F.col("n_tokens") > 0, F.expr(f"(tok_end - 1) div {seq_len}")
    ).otherwise(seq_start)
    return c.select(
        "doc_id",
        "shard",
        "n_tokens",
        "tok_start",
        seq_start.alias("seq_start"),
        seq_end.alias("seq_end"),
        (seq_end > seq_start).alias("crosses_boundary"),
    )


def pack_interleaved(
    corpus,
    seq_len: int = 2048,
    num_shards: int = 8,
    media_tokens: int = 256,
    seed: str = "pack-v1",
    id_col: str = "doc_id",
    spans_col: str = "spans",
):
    """Sequence packing over the CANONICAL INTERLEAVED input shape
    (doc_id, spans array<struct<kind, text, media_ref, offset>>) — the
    multimodal-pretraining layout: text spans contribute their BPE-ish
    sub-token count, every media span a fixed ``media_tokens`` budget
    (the vision-token placeholder convention — an image patch grid costs
    a constant number of sequence positions regardless of pixels).
    Per-doc counting is one higher-order expression over the spans array
    (no explode, no shuffle before the layout window); the layout math is
    byte-identical to :func:`pack_sequences`."""
    tok = F.aggregate(
        F.col(spans_col),
        F.lit(0).cast("long"),
        lambda acc, sp: acc
        + F.when(
            sp["kind"] == "text", token_count_bpe(sp["text"]).cast("long")
        ).otherwise(F.lit(int(media_tokens)).cast("long")),
    )
    h = seeded_hash48(F.col(id_col), seed)
    base = corpus.select(
        F.col(id_col).alias("doc_id"),
        (h % num_shards).cast("long").alias("shard"),
        tok.alias("n_tokens"),
    )
    return _pack_layout(base, seq_len)


# Neutral demo blocklist — real deployments pass their own list (the
# C4-style badword filter is list-driven; the operator is the product).
DEFAULT_BLOCKLIST = ("viagra", "casino", "xxx", "clickbait", "free-money")


def blocklist_flag(text: Column, terms: tuple[str, ...] = DEFAULT_BLOCKLIST) -> dict[str, Column]:
    """List-driven document filter (the C4 badword-gate shape): counts
    whole-word (lowered) occurrences of blocklist terms and flags the doc.
    Pure expressions — the literal term array folds into the plan, so a
    10^5-term list is a broadcast-free constant on every executor."""
    arr = F.array(*[F.lit(t) for t in terms])
    n = F.size(F.filter(words_of(text), lambda w: F.array_contains(arr, w)))
    return {"n_blocked_terms": n.cast("long"), "blocked": n > 0}


# Neutral demo domain blocklist — like DEFAULT_BLOCKLIST, the LIST is the
# deployment's; the operator (C4-style domain gate over in-text URLs) is
# the product.
DEFAULT_DOMAIN_BLOCKLIST = ("spamsite.com", "casino-hub.net", "tracker.io")


def url_domains(text: Column) -> Column:
    """Hosts of every http(s) URL in ``text``: lowered, port/path stripped,
    leading ``www.`` removed. Pure expressions (regexp_extract_all +
    transform) — no UDF, whole-stage codegen."""
    urls = F.regexp_extract_all(
        F.coalesce(text, F.lit("")), F.lit(URL_RE), F.lit(0)
    )
    return F.transform(
        urls,
        lambda u: F.regexp_replace(
            F.lower(F.regexp_extract(u, HOST_RE, 1)),
            r"^www\.",
            "",
        ),
    )


def _bits(n: Column) -> Column:
    """Binary digit count of a positive integer — ``floor(log2(n)) + 1`` —
    computed WITHOUT libm (length of the base-2 string), so Spark and
    DuckDB agree bit-for-bit. ln()/log2() are libm-dependent (measured
    one-ulp JVM/DuckDB mismatches on this value domain, see top_terms);
    integer bit length is the hash-verifiable stand-in."""
    return F.length(F.conv(n.cast("string"), 10, 2)).cast("long")


def lm_surprisal(docs, model_docs=None, id_col: str = "doc_id", text_col: str = "text"):
    """CCNet-style language-model quality score (Wenzek et al. 2020): score
    every document by the average surprisal of its word bigrams under a
    count-based bigram model, so high-perplexity junk (gibberish, OCR
    noise, keyword stuffing) can be filtered or bucketed head/middle/tail.

    The model is trained on ``model_docs`` (default: the corpus itself —
    the self-trained analog; production swaps in a curated reference
    corpus exactly like CCNet's Wikipedia-trained KenLM by passing a
    different DataFrame — the plan is identical). Surprisal uses
    INTEGER-BIT arithmetic instead of -log2 p: for a bigram (w1,w2) with
    context count C = count(w1 as a left word) and pair count B =
    count(w1,w2), surprisal = bits(C) - bits(B) where bits(n) is the
    binary digit count. That is floor-log2 surprisal within 1 bit of the
    true value — rank-equivalent for filtering — and every step is exact
    integer math, so the DuckDB twin hash-matches (a float log cannot,
    see :func:`top_terms`).

    Plan shape (and the 10^12-doc posture):
      1. one corpus pass explodes per-doc bigrams (narrow),
      2. the MODEL is a (gram → count) hash aggregation — partial
         (map-side) combine absorbs the Zipf head before the shuffle;
         the context table derives from the model by a second, far
         smaller aggregation (first word of the gram), never from a
         second corpus pass,
      3. scoring joins doc-grams to the model keyed on gram. The Zipf
         head ("of the") makes this the classic skew join — AQE
         skew-split handles it (the build side is counts, one row per
         distinct gram, so no pair blowup is possible),
      4. per-doc sum/count partial-aggregates before its doc_id shuffle.
    Docs with <2 words score 0 bits over 0 bigrams (left join keeps them).

    Self-trained scoring never sees an unknown bigram (every scored gram
    is in the model by construction). With an external ``model_docs``,
    unseen grams take a flat out-of-vocabulary penalty of 20 bits (a
    ~1-in-10^6 event under the model), so junk the model has never seen
    scores high instead of crashing the join. Known self-trained
    artifact (and the reason CCNet trains on a curated corpus): a
    bigram whose context appears exactly once scores 0 bits — hapax
    gibberish looks "predictable" to a model that only ever saw it
    once. Filtering decisions on a self-trained model should therefore
    weight by n_bigrams or corpus df; the external-model path has no
    such blind spot.

    Returns (doc_id, n_bigrams, total_bits, avg_bits)."""
    _OOV_BITS = 20
    self_trained = model_docs is None
    model_docs = docs if self_trained else model_docs

    def grams(df):
        return df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(ngrams_of(F.col(text_col), 2)).alias("gram"),
        )

    probe = grams(docs)
    if self_trained:
        # model and probe read the SAME explode — persist it so the corpus
        # pays one tokenize/explode pass, not two (registered in the shared
        # cache registry; callers release via dedup.release_feature_caches)
        from pyspark import StorageLevel

        from ocr_spark.operators.dedup import _register_cache

        probe = _register_cache(probe.persist(StorageLevel.MEMORY_AND_DISK))
    model = (probe if self_trained else grams(model_docs)).groupBy("gram").agg(
        F.count(F.lit(1)).alias("b_cnt")
    )
    ctx = (
        model.select(F.split(F.col("gram"), " ")[0].alias("ctx"), "b_cnt")
        .groupBy("ctx")
        .agg(F.sum("b_cnt").alias("c_cnt"))
    )
    # per-gram surprisal computed ONCE on the distinct-gram model table
    # (model-sized join), so the corpus-sized probe pays a single keyed
    # join attaching one small int — not two joins per occurrence
    gram_bits = (
        model.join(ctx, F.split(F.col("gram"), " ")[0] == F.col("ctx"))
        .select("gram", (_bits(F.col("c_cnt")) - _bits(F.col("b_cnt"))).alias("gbits"))
    )
    scored = (
        probe.join(gram_bits, "gram", "left")
        .select("doc_id", F.coalesce(F.col("gbits"), F.lit(_OOV_BITS)).alias("bits"))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"), F.sum("bits").alias("total_bits")
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("total_bits", F.lit(0)).cast("long").alias("total_bits"),
            F.round(
                F.when(
                    F.coalesce("n_bigrams", F.lit(0)) > 0,
                    F.col("total_bits").cast("double") / F.col("n_bigrams"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("avg_bits"),
        )
    )


def dedup_paragraphs(text: Column) -> dict[str, Column]:
    """WITHIN-document repetition removal: drop repeated lines/paragraphs
    keeping the FIRST occurrence in reading order (navigation bars,
    repeated footers and OCR stutter inside one document — the intra-doc
    complement of the cross-doc ``dedup_lines`` operator). Pure array
    expressions over the '\\n' segmentation; ``array_distinct`` preserves
    first-occurrence order by contract, which the DuckDB twin reproduces
    with an index-lambda filter. Blank segments are dropped (consistent
    with gopher_quality's line definition)."""
    segs = F.filter(
        F.transform(F.split(F.coalesce(text, F.lit("")), "\n"), lambda x: F.trim(x)),
        lambda x: x != "",
    )
    deduped = F.array_distinct(segs)
    return {
        "n_lines": F.size(segs).cast("long"),
        "n_unique": F.size(deduped).cast("long"),
        "n_removed": (F.size(segs) - F.size(deduped)).cast("long"),
        "dedup_text": F.array_join(deduped, "\n"),
    }


def c4_line_filters(text: Column) -> dict[str, Column]:
    """C4 line-shape cleanup (Raffel et al. 2020 §2.2 — the published
    heuristics behind the C4 corpus): keep only lines that end in a
    terminal punctuation mark ('.', '!', '?' or a closing double quote),
    contain at least 3 whitespace words, and do not mention "javascript";
    then gate the PAGE on what survives — at least 5 sentences, no
    "lorem ipsum", no curly bracket. One narrow pass of array expressions
    over the same '\\n' line definition as :func:`gopher_quality` /
    :func:`dedup_paragraphs`; the dirty-word page rule is
    :func:`blocklist_flag` composed upstream, not duplicated here.

    Sentences are counted as maximal terminator runs (``[.!?]+``) in the
    KEPT text — the operator's cross-engine definition: every kept line
    already ends with terminal punctuation, so runs track sentences
    without paying the abbreviation-aware splitter on a gate that only
    needs a count. ``has_lorem`` / ``has_brace`` inspect the ORIGINAL
    page (the paper removes such pages outright, pre-cleanup).

    Returns (n_lines, n_kept_lines, n_sentences, has_lorem, has_brace,
    clean_text, c4_pass)."""
    t = F.coalesce(text, F.lit(""))
    lines = F.filter(
        F.transform(F.split(t, "\n"), lambda x: py_strip(x)), lambda x: x != ""
    )
    kept = F.filter(
        lines,
        lambda x: x.rlike('[.!?"]$')
        & (F.size(words_of(x)) >= 3)
        & ~F.lower(x).contains("javascript"),
    )
    clean = F.array_join(kept, "\n")
    n_sent = F.regexp_count(clean, F.lit(r"[.!?]+")).cast("long")
    has_lorem = F.lower(t).contains("lorem ipsum")
    has_brace = t.contains("{")
    return {
        "n_lines": F.size(lines).cast("long"),
        "n_kept_lines": F.size(kept).cast("long"),
        "n_sentences": n_sent,
        "has_lorem": has_lorem,
        "has_brace": has_brace,
        "clean_text": clean,
        "c4_pass": (n_sent >= 5) & ~has_lorem & ~has_brace,
    }


# Tracking query parameters stripped by canonical_url (the URL-dedup
# normalizer): the standard analytics/click-id families. The LIST is a
# deployment choice; the operator is the product. Scoped-case-insensitive
# (?i:...) — real crawls carry UTM_SOURCE from email templates — spelled
# as a scoped group because Java, RE2 AND Python 3.11+ all accept it
# mid-pattern (a bare mid-pattern (?i) is a Python error).
TRACKING_PARAM_RE = r"(?i:utm_[a-z0-9_]*|fbclid|gclid|msclkid|mc_eid|ref_src)"


def domain_report(
    docs,
    url_col: str = "url",
    text_col: str = "text",
):
    """Domain-level curation signals (the RefinedWeb shape: filter or cap
    DOMAINS, not just documents): per canonical host — document count,
    distinct-text count, total characters, and the intra-domain
    duplication factor n_docs / n_distinct_texts (mirror/boilerplate farms
    score ≫ 1 and become blocklist candidates).

    Two-phase aggregation for skew: the first groupBy keys on
    (host, md5(text)) — well-spread even when one megasite owns half the
    crawl — and the second reduces the already-tiny per-domain distinct
    sets. A single-phase ``countDistinct`` per host would put a whole hot
    domain in one task. The only float is ONE division of two exact
    BIGINTs, so the result is bit-equal cross-engine.
    """
    host = F.regexp_replace(
        F.lower(F.regexp_extract(F.col(url_col), HOST_RE, 1)), r"^www\.", ""
    )
    t = F.coalesce(F.col(text_col), F.lit(""))
    per_text = (
        docs.select(
            host.alias("host"),
            F.md5(t.cast("binary")).alias("text_md5"),
            F.length(t).alias("n_chars"),
        )
        .groupBy("host", "text_md5")
        .agg(F.count("*").alias("n"), F.first("n_chars").alias("n_chars"))
    )
    return (
        per_text.groupBy("host")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_distinct_texts"),
            F.sum(F.col("n") * F.col("n_chars")).cast("long").alias("total_chars"),
        )
        .withColumn(
            "dup_factor",
            F.col("n_docs").cast("double") / F.col("n_distinct_texts").cast("double"),
        )
    )


def canonical_url(url: Column) -> Column:
    """Canonical form of an http(s) URL for URL-level dedup (the crawl
    frontier / re-crawl dedup normalizer): lowercase scheme and host,
    strip userinfo, the scheme's default port (:80 http / :443 https),
    fragments, tracking query parameters (utm_*, fbclid, gclid, ...) and
    their emptied '?', a leading 'www.', and one URL-final '/'.

    Two spellings of the same page ("http://WWW.X.com:80/a?utm_s=1#top"
    and "http://x.com/a") canonicalize equal, so an exact groupBy on the
    result IS url-dedup — at crawl scale that replaces a fuzzy join.
    Pure sequential regexp passes restricted to syntax with identical
    Java/RE2 semantics (no lookaround, no backrefs in patterns; inline
    (?i) only), so the DuckDB twin applies the same passes verbatim.
    Non-http(s) input canonicalizes to '' (caller filters)."""
    u = F.coalesce(url, F.lit(""))
    u = F.regexp_replace(u, r"#.*$", "")  # fragment
    # tracking params: non-leading ones drop with their '&'; a leading one
    # either hands '?' to the next param or drops it when it was the last;
    # then any dangling '?'/'&' run left at the END is itself non-canonical
    # ('page?' ≡ 'page') and would otherwise split a dedup group
    u = F.regexp_replace(u, r"&" + TRACKING_PARAM_RE + r"=[^&]*", "")
    u = F.regexp_replace(u, r"\?" + TRACKING_PARAM_RE + r"=[^&]*&", "?")
    u = F.regexp_replace(u, r"\?" + TRACKING_PARAM_RE + r"=[^&]*$", "")
    u = F.regexp_replace(u, r"[?&]+$", "")
    scheme = F.lower(F.regexp_extract(u, r"^(?i)(https?)://", 1))
    hostport = F.regexp_replace(
        F.lower(F.regexp_extract(u, r"^(?i)https?://(?:[^/?#]*@)?([^/?#]*)", 1)),
        r"^www\.",
        "",
    )
    hostport = (
        F.when(scheme == "http", F.regexp_replace(hostport, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(hostport, r":443$", ""))
        .otherwise(hostport)
    )
    tail = F.regexp_replace(
        F.regexp_extract(u, r"^(?i)https?://[^/?#]*(.*)$", 1), r"/$", ""
    )
    return F.when(scheme == "", F.lit("")).otherwise(
        F.concat(scheme, F.lit("://"), hostport, tail)
    )


def temperature_sample(
    docs,
    bucket_col: str,
    cap: int = 10_000,
    seed: str = "mix-v1",
    id_col: str = "doc_id",
):
    """Temperature-based corpus mixing (the multilingual-pretraining
    exponent-smoothing shape, τ = 0.5): per-bucket deterministic
    downsampling at rate min(1, sqrt(cap / N_bucket)), so buckets below
    ``cap`` docs are kept whole and a 100×-larger bucket is kept at 10×
    the rate — flattening the head languages/domains without upsampling.

    Every arithmetic step is a single correctly-rounded IEEE op (one
    divide, one sqrt, one multiply) — sqrt is exactly rounded by IEEE
    754 in both the JVM and libm, so the keep/drop decision is
    bit-reproducible across engines and cluster sizes; the document hash
    is the same seeded md5-48bit used by split_assign (no RNG, no
    partition-order dependence). Plan: one count aggregation per bucket
    (tiny result, broadcast back), then a narrow per-row decision — the
    corpus is never shuffled.

    Returns (doc_id, bucket, n_bucket, rate, kept)."""
    b = F.col(bucket_col)
    counts = docs.groupBy(b.alias("__cb")).agg(F.count(F.lit(1)).alias("n_bucket"))
    h = seeded_hash48(F.col(id_col), seed)
    rate = F.least(F.lit(1.0), F.sqrt(F.lit(float(cap)) / F.col("n_bucket")))
    left = docs.select(F.col(id_col).alias("doc_id"), b.alias("bucket"), h.alias("__h"))
    return (
        # null-SAFE join: a NULL bucket is its own group and must still get
        # a keep/drop decision — an equi-join would silently drop those
        # rows from the output, and a caller treating the result as total
        # over the corpus (the curate mix stage does) would lose them
        left.join(F.broadcast(counts), left["bucket"].eqNullSafe(F.col("__cb")))
        .select(
            "doc_id",
            "bucket",
            F.col("n_bucket").cast("long").alias("n_bucket"),
            F.round(rate, 6).alias("rate"),
            (F.col("__h").cast("double") < rate * F.lit(float(1 << 48))).alias("kept"),
        )
    )


def budget_sample(
    docs,
    budgets: dict[str, int],
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: str = "budget-v1",
    bucket_bits: int = 12,
):
    """Per-source TOKEN-budget selection — the data-mixture stage where the
    trainer says "300B tokens of web, 50B of code, 20B of books" rather
    than per-document rates (:func:`temperature_sample` is the rate
    shape). Documents are taken in seeded-hash order until the source's
    budget is exactly exhausted: a doc is kept iff the running token total
    through it (hash order, ties by doc_id) stays ≤ the budget, so the
    selection is deterministic, order/partition independent, and stable
    under re-runs — re-crawling extra docs never evicts an already-chosen
    doc with a smaller hash? It can (hash order is global, not arrival
    order); for an APPEND-stable frontier use the incremental-dedup index
    shape instead. Sources absent from ``budgets`` get budget 0 (drop) —
    an explicit mixture is the contract.

    Scale shape (the ccnet_tiers rank-statistic pattern): a naive
    per-source ``sum() OVER (ORDER BY hash)`` window sorts a whole
    mega-source on one reducer. Instead the 48-bit hash's top
    ``bucket_bits`` split each source into 2^bits ordered slices; one
    (source, slice) aggregation + a window over that TINY table finds the
    straddling slice, slices wholly under / over the budget decide
    map-side via a broadcast join, and only the ~n/2^bits boundary-slice
    rows pay an exact per-row cumsum. The corpus shuffles once (the slice
    aggregation is map-side combined; the boundary window moves a
    4096th of one source).

    Returns (doc_id, source, n_tokens, kept) — one row per input doc."""
    if bucket_bits < 1 or bucket_bits > 40:
        raise ValueError("bucket_bits must be in [1, 40]")
    spark = docs.sparkSession
    bdf = spark.createDataFrame(
        [(str(s), int(b)) for s, b in sorted(budgets.items())] or [("", 0)],
        "source string, budget long",
    )
    shift = 1 << (48 - bucket_bits)
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(F.col(source_col), F.lit("")).alias("source"),
        token_count_ws(F.col(text_col)).alias("n_tokens"),
        seeded_hash48(F.col(id_col), seed).alias("__h"),
    ).withColumn("__slice", (F.col("__h") / F.lit(shift)).cast("long"))
    sliced = base.groupBy("source", "__slice").agg(
        F.sum("n_tokens").alias("__slice_toks")
    )
    w = Window.partitionBy("source").orderBy("__slice")
    cum = (
        sliced.withColumn(
            "__cum_before",
            F.coalesce(
                F.sum("__slice_toks").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0).cast("long"),
            ),
        )
        .join(F.broadcast(bdf), "source", "left")
        .withColumn("__budget", F.coalesce(F.col("budget"), F.lit(0).cast("long")))
    )
    # slice verdicts: wholly inside the budget / wholly outside / boundary
    verdict = cum.select(
        "source",
        "__slice",
        "__cum_before",
        "__budget",
        F.when(F.col("__cum_before") + F.col("__slice_toks") <= F.col("__budget"), F.lit("keep"))
        .when(F.col("__cum_before") >= F.col("__budget"), F.lit("drop"))
        .otherwise(F.lit("boundary"))
        .alias("__verdict"),
    )
    joined = base.join(F.broadcast(verdict), ["source", "__slice"], "left")
    decided = joined.filter(F.col("__verdict") != "boundary").select(
        "doc_id", "source", "n_tokens", (F.col("__verdict") == "keep").alias("kept")
    )
    bw = Window.partitionBy("source").orderBy("__h", "doc_id")
    boundary = (
        joined.filter(F.col("__verdict") == "boundary")
        .withColumn(
            "__cum_in",
            F.sum("n_tokens").over(bw.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .select(
            "doc_id",
            "source",
            "n_tokens",
            (F.col("__cum_before") + F.col("__cum_in") <= F.col("__budget")).alias(
                "kept"
            ),
        )
    )
    return decided.unionByName(boundary)


# Hashed-feature linear classifier (the model-based quality-filter shape:
# a fasttext/logistic scorer over hashed bag-of-words features). Buckets
# and weights are engine-neutral integers; the DEMO weight formula below
# stands in for trained weights — production swaps in a (bucket, weight)
# table with `weights` and the plan is identical.
CLS_BUCKETS = 1 << 18
CLS_WEIGHT_A = 2654435761  # Knuth multiplicative constant
CLS_WEIGHT_M = 1 << 20


def _cls_bucket(word: Column, seed: str) -> Column:
    return seeded_hash48(word, seed) % CLS_BUCKETS


def _demo_weight(bucket: Column) -> Column:
    # deterministic integer weight in [-M/2, M/2): multiplicative hash of
    # the bucket id — integer ops only, bit-identical in any engine
    return (bucket * CLS_WEIGHT_A) % CLS_WEIGHT_M - CLS_WEIGHT_M // 2


def classifier_score(
    docs,
    weights=None,
    seed: str = "cls-v1",
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Model-based quality scoring via the hashing trick (the
    FineWeb-Edu / DCLM classifier-filter shape): every token hashes to one
    of 2^18 buckets, the document's score is the mean bucket weight in
    exact micro-units — a linear text classifier evaluated as a pure
    Spark plan.

    ``weights`` is an optional (bucket:long, weight:long) DataFrame of
    TRAINED integer weights (export float weights × 2^20 and round);
    it is broadcast and the corpus pays one narrow pass + one broadcast
    join — at 10^12 docs nothing shuffles but per-doc partial sums. With
    ``weights=None`` a deterministic multiplicative-hash demo weight
    stands in (the operator/plumbing is the product, the weight table is
    the deployment's). Integer weight sums are order-independent, so the
    DuckDB twin hash-matches — a float dot product cannot (see
    :func:`top_terms` on libm).

    Returns (doc_id, n_tokens, score_units — Σ integer weights,
    score — score_units / (n_tokens · 2^20), one exact division)."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(words_of(F.col(text_col))).alias("w")
    ).select("doc_id", _cls_bucket(F.col("w"), seed).alias("bucket"))
    if weights is not None:
        # normalize to one row per bucket (duplicates SUM — a re-appended
        # export must not fan out the probe join and corrupt n_tokens)
        weights = weights.groupBy("bucket").agg(
            F.sum("weight").cast("long").alias("weight")
        )
        toks = toks.join(F.broadcast(weights), "bucket", "left").select(
            "doc_id", F.coalesce(F.col("weight"), F.lit(0)).cast("long").alias("wt")
        )
    else:
        toks = toks.select("doc_id", _demo_weight(F.col("bucket")).alias("wt"))
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"), F.sum("wt").alias("score_units")
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("score_units", F.lit(0)).cast("long").alias("score_units"),
            F.round(
                F.when(
                    F.coalesce("n_tokens", F.lit(0)) > 0,
                    F.col("score_units").cast("double")
                    / (F.col("n_tokens") * F.lit(CLS_WEIGHT_M)).cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("score"),
        )
    )


# --- DSIR importance resampling (Xie et al. 2023) ----------------------------

DSIR_BUCKETS = 16_384  # 2^14 hashed unigram+bigram feature buckets (paper: 10^4)


def _dsir_features(docs, id_col: str, text_col: str, seed: str):
    """Per-occurrence hashed feature stream (doc_id, bucket): unigrams and
    word bigrams of the lowered whitespace tokens, hashed into
    ``DSIR_BUCKETS`` with the engine-neutral seeded 48-bit md5 hash."""
    feats = F.concat(words_of(F.col(text_col)), ngrams_of(F.col(text_col), 2))
    return docs.select(
        F.col(id_col).alias("doc_id"), F.explode(feats).alias("f")
    ).select(
        "doc_id", (seeded_hash48(F.col("f"), seed) % DSIR_BUCKETS).alias("bucket")
    )


def dsir_importance(
    docs,
    target_docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: str = "dsir-v1",
):
    """DSIR — Data Selection with Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169): score every raw document by how much more likely its
    hashed n-gram features are under a TARGET distribution (the curated
    corpus you want more of) than under the raw corpus's own distribution.
    This is the standard "make the crawl look like Wikipedia/books" step
    of LLM pretraining pipelines, between quality gates and dedup.

    Both distributions are Laplace-smoothed categorical models over
    ``DSIR_BUCKETS`` hashed unigram+bigram buckets. The per-feature log
    ratio uses INTEGER-BIT arithmetic — bits(p_b+1) − bits(p_tot+B) minus
    the same under q, where bits(n) is the binary digit count — i.e.
    floor-log2 of the smoothed probability ratio within ±2 bits:
    rank-equivalent for selection, and every step exact integer math so
    the DuckDB twin hash-matches (a float log cannot; see
    :func:`top_terms` on libm).

    Plan shape at 10^12 docs: the raw feature stream is ONE narrow
    explode, persisted and reused for both the q-model aggregation and the
    scoring probe (the corpus tokenizes once); the target corpus pays one
    explode into a B-row aggregation; the weight table is dense
    ``DSIR_BUCKETS`` rows joined BROADCAST, so scoring is a map-side pass
    plus one per-doc partial aggregation. Nothing corpus-sized shuffles
    except the per-doc sum.

    Returns (doc_id, n_feats, logw_bits — Σ per-occurrence integer-bit
    log ratios (negative = raw-like, positive = target-like), avg_bits —
    logw_bits/n_feats, the length-normalized form). Note the paper
    resamples by the UNNORMALIZED weight (Gumbel-noised); the
    deterministic engine-neutral analog is :func:`dsir_select`."""
    from pyspark import StorageLevel

    from ocr_spark.operators.dedup import _register_cache

    spark = docs.sparkSession
    raw = _register_cache(
        _dsir_features(docs, id_col, text_col, seed).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    )
    tgt = _dsir_features(target_docs, id_col, text_col, seed)
    qm = raw.groupBy("bucket").agg(F.count(F.lit(1)).alias("qc"))
    pm = tgt.groupBy("bucket").agg(F.count(F.lit(1)).alias("pc"))
    dense = spark.range(DSIR_BUCKETS).select(F.col("id").alias("bucket"))
    model = (
        dense.join(qm, "bucket", "left")
        .join(pm, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("qc", F.lit(0)).cast("long").alias("qc"),
            F.coalesce("pc", F.lit(0)).cast("long").alias("pc"),
        )
    )
    # totals are ONE row attached by a bounded B×1 broadcast crossJoin
    tot = model.agg(
        F.sum("qc").cast("long").alias("qt"), F.sum("pc").cast("long").alias("pt")
    )
    b = F.lit(DSIR_BUCKETS)
    wt = model.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (
            (_bits(F.col("pc") + 1) - _bits(F.col("pt") + b))
            - (_bits(F.col("qc") + 1) - _bits(F.col("qt") + b))
        ).cast("long").alias("wbits"),
    )
    per_doc = raw.join(F.broadcast(wt), "bucket").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_feats"), F.sum("wbits").alias("logw_bits")
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_feats", F.lit(0)).cast("long").alias("n_feats"),
            F.coalesce("logw_bits", F.lit(0)).cast("long").alias("logw_bits"),
            F.round(
                F.when(
                    F.coalesce("n_feats", F.lit(0)) > 0,
                    F.col("logw_bits").cast("double") / F.col("n_feats"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("avg_bits"),
        )
    )


def dsir_select(
    docs,
    target_docs,
    k: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: str = "dsir-v1",
):
    """Deterministic DSIR selection: the k raw docs with the highest
    importance weight (logw_bits DESC, doc_id ASC — a total order on exact
    integers). The paper's sampled variant adds Gumbel noise to log w
    before the top-k; that needs ln(), whose libm rounding is
    engine-specific, so the reproducible analog selects by the weight
    itself (the paper's own "top-k selection" baseline). orderBy+limit
    executes as TakeOrdered (per-partition heaps + a k-row driver merge),
    never a single-reducer sort; the rank window runs over k rows only.

    Returns (rank, doc_id, n_feats, logw_bits)."""
    scored = dsir_importance(
        docs, target_docs, id_col=id_col, text_col=text_col, seed=seed
    )
    order = [F.col("logw_bits").desc(), F.col("doc_id").asc()]
    top = scored.orderBy(*order).limit(k)
    w = Window.orderBy(*order)
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "rank", "doc_id", "n_feats", "logw_bits"
    )


def dedup_substrings(
    docs,
    k: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Exact repeated-substring removal (the ExactSubstr dedup of Lee et
    al. 2021, "Deduplicating Training Data Makes Language Models Better"):
    every K-token window that occurs more than once ANYWHERE in the corpus
    (across documents or within one) is deleted from every occurrence
    except the globally canonical one — the smallest (doc_id, position).
    Document-level dedup misses this entirely: two long articles quoting
    the same boilerplate paragraph are not near-dups, yet the paragraph is
    still memorization fuel.

    The paper builds a suffix array; the Spark-native equivalent is a
    window-hash join, exact for ≥K-token repeats (a repeat of length
    L ≥ K is covered by its L-K+1 duplicated K-windows, so the whole span
    is removed; repeats shorter than K are below the dedup threshold by
    definition). Plan shape at 10^12 docs:
      1. one narrow pass explodes (doc, pos, md5(window)) rows,
      2. per-hash canonical = min (doc, pos) — a hash-keyed aggregation
         whose map-side partials absorb the Zipf head; only hashes with
         count > 1 survive the filter,
      3. non-canonical occurrences aggregate back to (doc, [positions]) —
         doc-keyed, tiny rows — and join the corpus (left: docs with no
         repeats pay nothing but the probe),
      4. token deletion is a per-doc array expression (no shuffle):
         token j survives unless some marked window start p covers it
         (p ≤ j < p+K).

    Window hashes are full md5 hex strings — no truncation, so collisions
    are cryptographically negligible and the result is exact. Returns
    (doc_id, n_tokens, n_removed, clean_text) — clean_text joins the
    surviving (lowered) tokens with single spaces, the same token stream
    every other textstats operator sees.

    Split into :func:`substr_marks` (the corpus-wide decision — in a
    checkpointed job it materializes once like the loser set) and
    :func:`apply_substr_dedup` (bucket-local token deletion)."""
    base = docs.select(
        F.col(id_col).alias("doc_id"), words_of(F.col(text_col)).alias("w")
    )
    joined = base.join(substr_marks(docs, k, id_col, text_col), "doc_id", "left").select(
        "doc_id",
        "w",
        F.coalesce(F.col("marks"), F.array().cast("array<long>")).alias("marks"),
    )
    kept_tokens = _kept_tokens(F.col("w"), F.col("marks"), k)
    return joined.select(
        "doc_id",
        F.size("w").cast("long").alias("n_tokens"),
        (F.size("w") - F.size(kept_tokens)).cast("long").alias("n_removed"),
        F.array_join(kept_tokens, " ").alias("clean_text"),
    )


def substr_marks(docs, k: int = 50, id_col: str = "doc_id", text_col: str = "text"):
    """The global half of :func:`dedup_substrings`: per doc, the sorted
    0-based token positions of every non-canonical duplicated K-window
    (docs with no repeats emit no row). This is the table a checkpointed
    job materializes once."""
    w = words_of(F.col(text_col))
    base = docs.select(F.col(id_col).alias("doc_id"), w.alias("w"))
    wins = base.filter(F.size("w") >= k).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - (k - 1)),
                lambda i: F.struct(
                    (i - 1).cast("long").alias("pos"),
                    F.md5(F.array_join(F.slice(F.col("w"), i, k), " ").cast("binary")).alias("h"),
                ),
            )
        ).alias("win"),
    ).select("doc_id", F.col("win.pos").alias("pos"), F.col("win.h").alias("h"))
    per_hash = wins.groupBy("h").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min(F.struct("doc_id", "pos")).alias("canon"),
    )
    return (
        wins.join(per_hash.filter(F.col("cnt") > 1), "h")
        .filter(
            (F.col("doc_id") != F.col("canon.doc_id"))
            | (F.col("pos") != F.col("canon.pos"))
        )
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("pos")).alias("marks"))
    )


def _kept_tokens(w: Column, marks: Column, k: int) -> Column:
    # token j (0-based) survives unless a marked window start covers it
    keep = F.filter(
        F.transform(
            F.sequence(F.lit(1), F.size(w)),
            lambda i: F.struct(
                w[i - 1].alias("t"),
                (~F.exists(marks, lambda p: (p <= i - 1) & (i - 1 < p + k))).alias(
                    "keep"
                ),
            ),
        ),
        lambda s: s["keep"],
    )
    return F.when(F.size(w) > 0, F.transform(keep, lambda s: s["t"])).otherwise(
        F.array().cast("array<string>")
    )


def apply_substr_dedup(part, marks_df, k: int = 50, text_col: str = "text"):
    """Bucket-local half of :func:`dedup_substrings`: rewrite ``text_col``
    with the duplicated windows deleted, using a materialized
    :func:`substr_marks` table. Documents without marks pass through
    byte-identical (NOT re-tokenized — only marked docs are rewritten, so
    the stage is a no-op for the clean majority).

    The rewrite is an Arrow-batched pandas UDF doing linear interval
    stamping (cumsum over +1/-1 at mark boundaries), NOT the per-token
    exists() expression :func:`dedup_substrings` uses for its oracle twin:
    on a boilerplate-heavy corpus where most docs carry many marks the
    expression form is O(tokens × marks) per doc and measured 95 s where
    this pass takes seconds (tokenization matches words_of — lower, strip,
    Unicode-\\s split — pinned by the fuzz parity suite)."""
    import re as _re

    import numpy as np

    @F.pandas_udf("string")
    def _rewrite(text: "pd.Series", marks: "pd.Series") -> "pd.Series":
        out = []
        for t, m in zip(text, marks):
            if m is None or len(m) == 0:
                out.append(t)
                continue
            s = (t or "").lower().strip()
            toks = _re.split(r"\s+", s) if s else []
            n = len(toks)
            cover = np.zeros(n + 1, dtype=np.int64)
            for p in m:
                if p < n:
                    cover[p] += 1
                    cover[min(p + k, n)] -= 1
            keep = np.cumsum(cover[:n]) == 0
            out.append(" ".join(tok for tok, kp in zip(toks, keep) if kp))
        return pd.Series(out)

    joined = part.join(marks_df, "doc_id", "left")
    return joined.withColumn(text_col, _rewrite(F.col(text_col), F.col("marks"))).drop(
        "marks"
    )


# License / copyright boilerplate detection (the license-filtering stage
# of corpus prep). Two pattern classes, both Java/RE2-identical with an
# inline (?i): ownership marks and named license phrases. Word-boundary
# anchored (\b works identically in Java and RE2) so substrings of
# ordinary prose — 'subMIT LICENSE forms', 'traffic aCC BY the bridge' —
# never false-flag; '©' and '(c)' start with non-word chars and need none.
COPYRIGHT_RE = (
    r"(?i)(©|\(c\)\s*(19|20)[0-9]{2}|\bcopyright\s+(19|20)[0-9]{2}"
    r"|\ball rights reserved\b)"
)
LICENSE_RE = (
    r"(?i)\b(creative commons|cc[- ]by(-[a-z]{2})*|gnu general public license"
    r"|gpl-?[23]|mit license|apache license|bsd license|public domain)\b"
)


def license_flag(text: Column) -> dict[str, Column]:
    """Flag documents carrying copyright marks or named license phrases,
    so a corpus can route them to a rights-review split (or drop them)
    before training. Counts the two classes separately — a single ©
    footer is a weaker signal than an embedded license block. Pure
    regexp expressions; the literal patterns fold into codegen."""
    t = F.coalesce(text, F.lit(""))
    n_c = F.size(F.regexp_extract_all(t, F.lit(COPYRIGHT_RE), F.lit(0)))
    n_l = F.size(F.regexp_extract_all(t, F.lit(LICENSE_RE), F.lit(0)))
    return {
        "n_copyright_marks": n_c.cast("long"),
        "n_license_phrases": n_l.cast("long"),
        "flagged": (n_c + n_l) > 0,
    }


# fix_text's 1:1 character normalizations (translate() in both engines):
# curly/low-9 quotes -> ASCII, en/em-dash and minus -> '-', NBSP -> space.
FIX_FROM = "\u2018\u2019\u201a\u201c\u201d\u201e\u2013\u2014\u2212\u00a0"
FIX_TO = "'''\"\"\"--- "
# C0 control chars except \t\n\r, plus DEL — never legitimate in text
CONTROL_RE = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"


def fix_text(text: Column) -> dict[str, Column]:
    """ftfy-lite text normalization for crawled corpora: strip C0 control
    characters (except tab/newline/CR), map typographic quotes and dashes
    to ASCII, NBSP to space, the one-char ellipsis to '...', and collapse
    3+ blank-line runs to one blank line. Counts each class BEFORE
    repair so the pipeline can report how dirty the corpus was. Pure
    expressions (translate + regexp) with identical Java/RE2 semantics."""
    t = F.coalesce(text, F.lit(""))
    n_control = F.size(F.regexp_extract_all(t, F.lit(CONTROL_RE), F.lit(0)))
    n_quote = F.size(F.regexp_extract_all(t, F.lit("[‘’‚“”„]"), F.lit(0)))
    n_dash = F.size(F.regexp_extract_all(t, F.lit("[–—−]"), F.lit(0)))
    n_nbsp = F.length(t) - F.length(F.replace(t, F.lit("\u00a0"), F.lit("")))
    n_ellipsis = F.length(t) - F.length(F.replace(t, F.lit("…"), F.lit("")))
    fixed = F.translate(t, FIX_FROM, FIX_TO)
    fixed = F.replace(fixed, F.lit("…"), F.lit("..."))
    fixed = F.regexp_replace(fixed, CONTROL_RE, "")
    fixed = F.regexp_replace(fixed, r"\n{3,}", "\n\n")
    return {
        "n_control": n_control.cast("long"),
        "n_quote": n_quote.cast("long"),
        "n_dash": n_dash.cast("long"),
        "n_nbsp": n_nbsp.cast("long"),
        "n_ellipsis": n_ellipsis.cast("long"),
        "fixed": fixed,
    }


def chunk_documents(
    docs,
    size: int = 512,
    overlap: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Overlapping fixed-token chunk layout (the RAG / retrieval-indexing
    complement of :func:`pack_sequences`, which packs WITHOUT overlap for
    training): each document yields windows of ``size`` BPE-ish tokens
    advancing by ``size - overlap``, the last window clamped to the
    document end. Emits the layout (offsets), not the token text — at
    10^12 docs the layout is the shuffle-free narrow pass (one
    sequence+explode per doc, no Python, no join); slicing actual text
    happens where the tokens already live. Empty docs yield no rows.

    Returns (doc_id, chunk_id, tok_start, tok_end, n_tokens) where
    n_tokens is the document total."""
    if overlap >= size:
        raise ValueError(f"overlap {overlap} must be < size {size}")
    stride = size - overlap
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        token_count_bpe(F.col(text_col)).cast("long").alias("n_tokens"),
    )
    # windows cover [0, n): one window when n <= size, else enough stride
    # steps that the last window's end reaches n: 1 + ceil((n-size)/stride)
    n = F.col("n_tokens")
    n_chunks = F.when(n <= size, F.when(n > 0, F.lit(1)).otherwise(F.lit(0))).otherwise(
        F.lit(1) + F.expr(f"cast(ceil((n_tokens - {size}) / {float(stride)}) as bigint)")
    ).cast("long")
    # guard the empty case: sequence(1, 0) would DESCEND and fabricate
    # chunks [1, 0] — empty docs must explode an empty array instead
    ks = F.when(n_chunks > 0, F.sequence(F.lit(1).cast("long"), n_chunks)).otherwise(
        F.array().cast("array<long>")
    )
    c = base.select("doc_id", "n_tokens", F.explode(ks).alias("k"))
    start = (F.col("k") - 1) * stride
    return c.select(
        "doc_id",
        (F.col("k") - 1).cast("long").alias("chunk_id"),
        start.cast("long").alias("tok_start"),
        F.least(start + size, F.col("n_tokens")).cast("long").alias("tok_end"),
        "n_tokens",
    )


def corpus_report(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Per-(language, split) corpus inventory — the report a data team
    reads before training: document counts and exact token/char sums.
    Integer sums only (order-independent, engine-exact); one hash
    aggregation keyed on the tiny (lang, split) space with map-side
    partials absorbing the corpus."""
    return (
        docs.select(
            language_id(F.col(text_col)).alias("lang"),
            split_assign(F.col(id_col)).alias("split"),
            token_count_ws(F.col(text_col)).cast("long").alias("toks"),
            F.length(F.coalesce(F.col(text_col), F.lit(""))).cast("long").alias("chars"),
        )
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("toks").cast("long").alias("n_tokens"),
            F.sum("chars").cast("long").alias("n_chars"),
        )
    )


def domain_flag(
    text: Column, domains: tuple[str, ...] = DEFAULT_DOMAIN_BLOCKLIST
) -> dict[str, Column]:
    """Domain-blocklist gate (the C4/RefinedWeb URL-filter shape applied to
    in-text links): a document is flagged when any URL it contains points
    at a blocked registrable domain OR a subdomain of one
    (``ads.spamsite.com`` matches blocked ``spamsite.com``). The literal
    domain array folds into the plan like :func:`blocklist_flag`'s terms."""
    hosts = url_domains(text)
    arr = F.array(*[F.lit(d.lower()) for d in domains])
    blocked_host = lambda h: F.exists(  # noqa: E731
        arr, lambda b: (h == b) | h.endswith(F.concat(F.lit("."), b))
    )
    n = F.size(F.filter(hosts, blocked_host))
    return {
        "n_urls": F.size(hosts).cast("long"),
        "n_blocked_domains": n.cast("long"),
        "blocked": n > 0,
    }


def rrf_fuse(
    ranked_a,
    ranked_b,
    k_rrf: int = 60,
    top_k: int = 20,
    id_col: str = "doc_id",
):
    """Reciprocal Rank Fusion (Cormack & Clarke 2009) of two ranked
    retrieval lists: score(id) = Σ 1/(k + rank_list(id)) over the lists
    the id appears in — the standard hybrid-retrieval combiner (BM25 ⊕
    ANN in production; any two rankers with a ``rank`` column here).
    Rank-based, so the two scorers' incomparable score scales never
    touch; ids missing from one list simply take the other's term.

    Engine-neutral floats: each term is one division of identical
    integers and the sum is two such doubles added in a fixed order, so
    DuckDB reproduces the fusion bit-for-bit.  Plan shape: the inputs
    are already top-k-sized (their own TakeOrdered), so the outer join
    and the final ordered limit are driver-trivial — the heavy lifting
    stays inside the upstream rankers."""
    a = ranked_a.select(
        F.col(id_col),
        (F.lit(1.0) / (k_rrf + F.col("rank")).cast("double")).alias("__ra"),
    )
    b = ranked_b.select(
        F.col(id_col),
        (F.lit(1.0) / (k_rrf + F.col("rank")).cast("double")).alias("__rb"),
    )
    fused = (
        a.join(b, id_col, "full_outer")
        .select(
            F.col(id_col),
            (
                F.coalesce(F.col("__ra"), F.lit(0.0))
                + F.coalesce(F.col("__rb"), F.lit(0.0))
            ).alias("rrf_score"),
            F.col("__ra").isNotNull().alias("in_a"),
            F.col("__rb").isNotNull().alias("in_b"),
        )
        .orderBy(F.col("rrf_score").desc(), F.col(id_col))
        .limit(top_k)
    )
    w = Window.orderBy(F.col("rrf_score").desc(), F.col(id_col))
    return fused.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "rank", id_col, "rrf_score", "in_a", "in_b"
    )


def sample_per_group(
    docs,
    group_col: str,
    k: int,
    seed: str = "sample-v1",
    id_col: str = "doc_id",
):
    """Deterministic k-per-group sample (the corpus-inspection primitive:
    "show me 5 documents per language/domain/quality-tier"): rows rank by
    the seeded doc hash inside their group and the k smallest win. No
    RNG, no partition-order dependence — the same rows come back on every
    run, every cluster size, and in the DuckDB twin, so samples are
    citable in reports and stable across resumed jobs.

    Scale shape: a single per-group window would sort an entire group on
    one reducer — a mega-group (one language owning half the corpus) is
    exactly the case sampling exists for. So the selection is a SALTED
    two-phase top-k: rank within (group, hash-salt) sub-partitions first
    (bounded by group_size/S), keep each sub-partition's k best, then
    rank the ≤ S·k survivors per group — the second window is bounded by
    S·k rows regardless of group size. Both phases order by the same
    total key (hash, id), so the result is identical to the single-window
    form (the k global minima survive phase 1 by construction). Ties
    (hash collisions) break by id. Returns the input columns plus
    ``sample_rank`` (1..k)."""
    S = 32
    h = seeded_hash48(F.col(id_col), seed)
    salt = (h % S).cast("int")
    w1 = Window.partitionBy(group_col, salt).orderBy(h.asc(), F.col(id_col).asc())
    survivors = (
        docs.withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= k)
        .drop("__r1")
    )
    w2 = Window.partitionBy(group_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        survivors.withColumn("sample_rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("sample_rank") <= k)
    )


def search_topk(
    docs,
    terms: tuple[str, ...],
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Boolean keyword retrieval with integer-only ranking: the corpus-
    debugging primitive ("which documents talk about X?") as one explode +
    one per-doc aggregation + a global top-k. Score = (#distinct query
    terms present DESC, total query-term occurrences DESC, id ASC) — a
    total order on exact integers, so the ranking is reproducible
    everywhere; BM25-style idf/length weights need ln(), whose libm
    rounding is engine-specific, and this operator deliberately stays on
    the integer side of that line.

    Plan shape: words explode narrow, the term filter (a broadcast-size
    literal list) prunes before the shuffle, only matching (doc, term)
    rows aggregate, and the global top-k is orderBy+limit — Spark executes
    that as TakeOrdered (per-partition heaps + driver merge of k rows),
    never a single-reducer full sort. Returns (rank, id, n_matched,
    tf_sum) for docs matching at least one term."""
    qt = [t.lower() for t in terms]
    tok = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(words_of(F.col(text_col))).alias("w")
    ).filter(F.col("w").isin(qt))
    scored = tok.groupBy("doc_id").agg(
        F.count_distinct("w").cast("long").alias("n_matched"),
        F.count(F.lit(1)).cast("long").alias("tf_sum"),
    )
    top = scored.orderBy(
        F.col("n_matched").desc(), F.col("tf_sum").desc(), F.col("doc_id").asc()
    ).limit(k)
    w = Window.orderBy(
        F.col("n_matched").desc(), F.col("tf_sum").desc(), F.col("doc_id").asc()
    )
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "rank", F.col("doc_id").alias(id_col), "n_matched", "tf_sum"
    )


def length_quantiles(
    docs,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    text_col: str = "text",
):
    """Deterministic corpus length percentiles (the report line every
    curation run prints: p50/p90/p99 document length) via an EXACT
    rank-statistic read: one count aggregation per distinct length (far
    fewer rows than docs), a cumulative window over the sorted lengths,
    and for each q the smallest length whose cumulative count reaches
    ceil(q·N) — the classic "lower" quantile definition, all integers.
    No approx_percentile (engine-private sketch, not reproducible) and no
    interpolation (float division). Scale: the shuffle carries one row
    per DISTINCT length — bounded by the length domain, not the corpus.

    Returns one row per q: (q, n_chars) sorted by q."""
    n_chars = F.length(F.coalesce(F.col(text_col), F.lit("")))
    counts = docs.select(n_chars.alias("len")).groupBy("len").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.orderBy("len").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = counts.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "total", F.sum("cnt").over(Window.partitionBy())
    )
    picks = [
        cum.filter(F.col("cum") >= F.ceil(F.lit(q) * F.col("total")))
        .orderBy("len")
        .limit(1)
        .select(F.lit(q).alias("q"), F.col("len").cast("long").alias("n_chars"))
        for q in qs
    ]
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out


def search_bm25(
    docs,
    terms: tuple[str, ...],
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1_milli: int = 1200,
    b_milli: int = 750,
):
    """BM25 top-k retrieval in pure integer arithmetic — the ranked
    counterpart of :func:`search_topk` (whose docstring notes that real
    BM25 needs ln(), whose libm rounding is engine-specific; this
    operator crosses that line with the engine's integer-bit idiom
    instead of floats).

    Scaled Robertson/Spärck Jones BM25, everything exact int64:

    - idf_bits(t) = bit_length(N + 1) - bit_length(df_t)  — the same
      integer log2 approximation lm_surprisal and DSIR use.
    - tf part in milli-units with k1/b as milli constants
      (k1=1.2 → 1200, b=0.75 → 750):
        dln      = (dl * 10^6) div avgdl_milli
        K        = (k1 * (1000 - b + (b * dln) div 1000)) div 1000
        tf_part  = (tf * (k1 + 1000) * 1000) div (tf * 1000 + K)
    - score_units = Σ_t idf_bits(t) * tf_part(t); ranking by
      (score_units DESC, doc_id ASC).

    Plan shape: ONE corpus map pass computes (dl, tf per term) — the
    term list is a plan literal, no explode, no join; one single-row
    aggregation fetches the model scalars (N, Σdl, df per term) to the
    driver; scoring is a map-side expression over matching docs only and
    the top-k is TakeOrdered. The div-based arithmetic is identical in
    Spark (`div`) and DuckDB (`//`) on the non-negative operands used
    here, so the oracle is bit-exact."""
    qt = sorted({t.lower() for t in terms})
    w = words_of(F.col(text_col))

    def _tf(term: str):
        # NOTE: a single-parameter lambda is load-bearing — a second
        # parameter (even a default) makes F.filter pass the element
        # INDEX as the second argument
        return F.size(F.filter(w, lambda x: x == F.lit(term))).cast("long")

    per_doc = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(w).cast("long").alias("dl"),
        *[_tf(t).alias(f"tf_{i}") for i, t in enumerate(qt)],
    ).persist()
    g = per_doc.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").alias("sumdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(qt))
        ],
    ).collect()[0]
    n_docs, sumdl = int(g["n"]), int(g["sumdl"] or 0)
    empty = per_doc.limit(0).select(
        F.lit(0).cast("long").alias("rank"),
        "doc_id",
        F.lit(0).cast("long").alias("score_units"),
        F.lit(0).cast("long").alias("n_matched"),
    )
    if n_docs == 0 or sumdl == 0:
        return empty
    avgdl_milli = (1000 * sumdl) // n_docs
    idf = [
        (n_docs + 1).bit_length() - int(g[f"df_{i}"]).bit_length()
        for i in range(len(qt))
    ]
    k_expr = (
        f"(({k1_milli} * (1000 - {b_milli} "
        f"+ ({b_milli} * ((dl * 1000000) div {avgdl_milli})) div 1000)) div 1000)"
    )
    score = " + ".join(
        f"({idf[i]} * ((tf_{i} * {k1_milli + 1000} * 1000) "
        f"div (tf_{i} * 1000 + {k_expr})))"
        for i in range(len(qt))
    )
    matched = " + ".join(
        f"(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END)" for i in range(len(qt))
    )
    scored = (
        per_doc.filter(F.expr(" + ".join(f"tf_{i}" for i in range(len(qt))) + " > 0"))
        .withColumn("score_units", F.expr(score).cast("long"))
        .withColumn("n_matched", F.expr(matched).cast("long"))
    )
    top = scored.orderBy(F.desc("score_units"), F.asc("doc_id")).limit(k)
    w_rank = Window.orderBy(F.desc("score_units"), F.asc("doc_id"))
    return (
        top.withColumn("rank", F.row_number().over(w_rank).cast("long"))
        .select("rank", "doc_id", "score_units", "n_matched")
    )


# --- compression-ratio quality signal --------------------------------------------
# The "too compressible = template spam" filter of the RefinedWeb/DataTrove
# family: natural prose zlib-compresses to ~0.35-0.6 of its size, while
# templated/repeated content (nav spam, keyword stuffing, generation loops)
# collapses far below that. n-gram repetition gates (gopher_quality) catch
# EXACT repeats; the compressor additionally prices approximate and
# long-range structure with one pass and no vocabulary state.

COMPRESS_LEVEL = 6  # zlib default; fixed so outputs are reproducible
COMPRESS_MIN_RATIO_MICRO = 300_000  # flag below 0.30 (integer micro-units)


def compression_ratio(docs, id_col: str = "doc_id", text_col: str = "text"):
    """(doc_id, n_bytes, n_zlib_bytes, zlib_ratio_micro, too_repetitive) —
    UTF-8 byte length, zlib(level=6) compressed length, their ratio in
    integer micro-units ((zlib*10^6) div raw; empty text reports 10^6),
    and the repetition flag.

    Plan shape: one narrow Arrow-batched mapInPandas pass (zlib is not a
    Catalyst expression — this is the legitimate vectorized-UDF tier, like
    the image kernels); no shuffle, no driver involvement. Determinism:
    zlib output for a fixed (level, strategy) is stable in CPython's
    bundled zlib, and the committed golden (tools/make_compress_golden.py)
    is staleness-guarded by pytest so an environment change surfaces as a
    test failure, not a silent drift."""
    from collections.abc import Iterator as _It

    def proc(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import zlib

        for pdf in batches:
            texts = pdf[text_col].fillna("")
            raw = [t.encode("utf-8") for t in texts]
            nb = [len(b) for b in raw]
            nz = [len(zlib.compress(b, COMPRESS_LEVEL)) for b in raw]
            ratio = [
                (z * 1_000_000) // n if n else 1_000_000 for z, n in zip(nz, nb)
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "n_bytes": nb,
                    "n_zlib_bytes": nz,
                    "zlib_ratio_micro": ratio,
                    "too_repetitive": [
                        r < COMPRESS_MIN_RATIO_MICRO for r in ratio
                    ],
                }
            )

    return docs.select(F.col(id_col), F.col(text_col)).mapInPandas(
        proc,
        "doc_id long, n_bytes long, n_zlib_bytes long, "
        "zlib_ratio_micro long, too_repetitive boolean",
    )


def synth_compress_text(i: int) -> str:
    """Deterministic per-id text spanning the compressibility spectrum:
    class i%5 == 0 is high-entropy (distinct md5 hexes), classes 1-4 repeat
    a small base with growing multiplicity. Pure stdlib — the same function
    generates the corpus executor-side in the query and driver-side in the
    golden tool."""
    import hashlib

    rep = i % 5
    if rep == 0:
        return " ".join(
            hashlib.md5(f"cmp-{i}-{k}".encode()).hexdigest() for k in range(30)
        )
    base = " ".join(
        hashlib.md5(f"cmp-{i}".encode()).hexdigest()[j : j + 4] for j in range(0, 24, 4)
    )
    return (base + " ") * (3 + rep * 12)


def synth_compress_docs(spark, n: int = 400):
    """Distributed (doc_id, text) synthesis via :func:`synth_compress_text`."""
    from collections.abc import Iterator as _It

    def gen(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].tolist()
            yield pd.DataFrame(
                {"doc_id": ids, "text": [synth_compress_text(i) for i in ids]}
            )

    return (
        spark.range(n)
        .repartition(8)
        .mapInPandas(gen, "doc_id long, text string")
    )


# --- model-shaped language ID ------------------------------------------------------
# The fastText-langid SHAPE (hashed char-n-gram features → per-language
# linear scores → argmax), as pure expressions: where `language_id` is a
# fixed stopword heuristic, this one is a MODEL evaluation — swap the demo
# weight formula for a trained (bucket, lang, weight) table and the plan
# is identical. Char n-grams beat word features on short/noisy crawl text
# (no tokenization assumptions), which is why the fastText family uses them.

LANGID_MODEL_LANGS = ("de", "en", "es", "fr", "ru")  # alphabetical = tie order
LANGID_GRAM = 3
_LANGID_PRIME = 1_000_003


def _langid_demo_weight(bucket: Column, lang_rank: int) -> Column:
    # deterministic integer weight in [-M/2, M/2), mixing the language rank
    # into the bucket before the multiplicative hash — same discipline as
    # classifier_score's demo weights; production replaces this formula
    # with a trained weight table lookup
    return ((bucket + lang_rank * _LANGID_PRIME) * CLS_WEIGHT_A) % CLS_WEIGHT_M - (
        CLS_WEIGHT_M // 2
    )


def langid_model(
    docs, id_col: str = "doc_id", text_col: str = "text", keep_cols: tuple = ()
):
    """(doc_id, lang, score_units, n_grams) — argmax over
    ``LANGID_MODEL_LANGS`` of summed hashed char-trigram weights, ties
    broken alphabetically; 'und' with score 0 when the text yields no
    trigram.

    Plan shape: the trigram → bucket array materializes ONCE per row (one
    seeded_hash48 per gram); each language's score is then one integer
    fold over that bucket array (the array is the fold's ARGUMENT, never
    re-evaluated per element). No shuffle, no Python, no vocabulary state
    — the same scale profile as classifier_score."""
    # chars materialize as a COLUMN before the gram transform reads them:
    # an inline `norm` would re-run lower+regexp once per gram, and
    # `substr(i, 3)` walks UTF8 bytes from 0 to char i — either way
    # O(n²)/doc (the winnow lesson, tools/megadoc_fold_bench.py); array
    # slice indexes in O(1)
    norm = F.regexp_replace(
        F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"(?U)\s+", " "
    )
    d0 = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(norm, "").alias("__lc"),
        *[F.col(c) for c in keep_cols],
    )
    cc = F.col("__lc")
    n = F.size(cc)
    idx = F.when(n >= LANGID_GRAM, F.sequence(F.lit(1), n - (LANGID_GRAM - 1))).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(
        idx, lambda i: F.array_join(F.slice(cc, i, LANGID_GRAM), "")
    )
    buckets = F.transform(
        grams, lambda g: seeded_hash48(g, "langid-v1") % CLS_BUCKETS
    )
    df = d0.select(
        "doc_id",
        buckets.alias("__bs"),
        *[F.col(c) for c in keep_cols],
    )

    def _fold(rank: int):
        # closure factory, NOT a default param: PySpark counts a lambda's
        # parameters (defaults included) to bind higher-order-function
        # variables, so `lambda acc, b, r=rank` would bind as 3-arg
        return lambda acc, b: acc + _langid_demo_weight(b, rank)

    scored = []
    for rank, lang in enumerate(LANGID_MODEL_LANGS):
        s = F.aggregate(F.col("__bs"), F.lit(0).cast("long"), _fold(rank))
        scored.append(
            F.struct(
                s.alias("score"),
                # larger rank = alphabetically earlier → array_max's
                # lexicographic tie-break picks the FIRST language
                F.lit(len(LANGID_MODEL_LANGS) - rank).alias("rank"),
                F.lit(lang).alias("lang"),
            )
        )
    best = F.array_max(F.array(*scored))
    return df.select(
        "doc_id",
        F.when(F.size("__bs") == 0, F.lit("und")).otherwise(best["lang"]).alias("lang"),
        F.when(F.size("__bs") == 0, F.lit(0).cast("long"))
        .otherwise(best["score"])
        .alias("score_units"),
        F.size("__bs").cast("long").alias("n_grams"),
        *[F.col(c) for c in keep_cols],
    )


def ccnet_tiers(docs, model_docs=None, id_col: str = "doc_id", text_col: str = "text"):
    """CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2020
    §4.3): per language, the third of documents with the lowest LM
    surprisal is 'head', the next 'middle', the rest 'tail' — the
    standard quality-stratified sampling key for crawl corpora.

    Cutoffs are EXACT rank statistics over the (lang, milli_bits)
    histogram, the same discipline as length_quantiles: the shuffle
    carries one row per DISTINCT (lang, milli-bit) value — bounded by the
    score domain, not the corpus — so a mega-language never sorts on one
    reducer (the published pipeline likewise assigns by fixed per-language
    cutoffs, not by per-document ranking). milli_bits = (total_bits *
    1000) div n_bigrams, all integer; ties share a tier by construction.
    Docs with <2 words score 0 milli-bits and land in 'head' — CCNet
    drops those upstream (gopher length gates), documented here.

    Returns (doc_id, lang, milli_bits, tier)."""
    scored = lm_surprisal(docs, model_docs, id_col, text_col).select(
        "doc_id",
        F.expr("(total_bits * 1000) div greatest(n_bigrams, 1)")
        .cast("long")
        .alias("milli_bits"),
    )
    langs = docs.select(
        F.col(id_col).alias("doc_id"), language_id(F.col(text_col)).alias("lang")
    )
    j = scored.join(langs, "doc_id")

    hist = j.groupBy("lang", "milli_bits").agg(F.count(F.lit(1)).alias("cnt"))
    wcum = (
        Window.partitionBy("lang")
        .orderBy("milli_bits")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(wcum)).withColumn(
        "total", F.sum("cnt").over(Window.partitionBy("lang"))
    )
    cuts = cum.groupBy("lang").agg(
        F.min(
            F.when(
                F.col("cum") >= F.expr("(total + 2) div 3"), F.col("milli_bits")
            )
        ).alias("c1"),
        F.min(
            F.when(
                F.col("cum") >= F.expr("(2 * total + 2) div 3"), F.col("milli_bits")
            )
        ).alias("c2"),
    )
    return j.join(F.broadcast(cuts), "lang").select(
        "doc_id",
        "lang",
        "milli_bits",
        F.when(F.col("milli_bits") <= F.col("c1"), F.lit("head"))
        .when(F.col("milli_bits") <= F.col("c2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("tier"),
    )


# --- sentence segmentation -----------------------------------------------------
# Regex-level sentence splitting (the chunking primitive under embedding
# windows, caption cleanup, and sentence-level decontamination). The rule
# set is deliberately lookaround-free so the DuckDB twin (RE2: no
# lookbehind/lookahead) replays it exactly: protect known abbreviation
# dots with a sentinel, break after terminator runs followed by
# whitespace, restore, strip. A model-based splitter can replace the rule
# set without changing the plan (one narrow pass, explode at the end).

_SENT_ABBREV = "mr|mrs|ms|dr|prof|sr|jr|st|no|vs|etc|fig|vol|inc|ltd"
_SENT_BREAK = "\x00"
_SENT_DOT = "\x01"


def split_sentences_col(text: Column) -> Column:
    """Array of trimmed, non-empty sentences (document order)."""
    t = F.coalesce(text, F.lit(""))
    # two-letter dotted abbreviations first (e.g., i.e., u.s.)
    t = F.regexp_replace(
        t, r"(?i)\b([a-z])\.([a-z])\.", f"$1{_SENT_DOT}$2{_SENT_DOT}"
    )
    t = F.regexp_replace(t, rf"(?i)\b({_SENT_ABBREV})\.", f"$1{_SENT_DOT}")
    t = F.regexp_replace(t, r"([.!?]+)\s+", f"$1{_SENT_BREAK}")
    parts = F.split(t, _SENT_BREAK)
    return F.filter(
        F.transform(
            parts, lambda p: py_strip(F.regexp_replace(p, _SENT_DOT, "."))
        ),
        lambda s: s != "",
    )


def split_sentences(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Exploded sentence table: (doc_id, sent_idx, sentence, n_chars) with
    sent_idx 0-based in document order. One narrow pass, no shuffle."""
    sents = split_sentences_col(F.col(text_col))
    z = F.when(
        F.size(sents) > 0,
        F.zip_with(
            sents,
            F.sequence(F.lit(0), F.size(sents) - 1),
            lambda s, i: F.struct(s.alias("s"), i.alias("i")),
        ),
    ).otherwise(F.array().cast("array<struct<s:string,i:int>>"))
    return docs.select(F.col(id_col).alias("doc_id"), F.explode(z).alias("z")).select(
        "doc_id",
        F.col("z.i").cast("long").alias("sent_idx"),
        F.col("z.s").alias("sentence"),
        F.length("z.s").cast("long").alias("n_chars"),
    )


def corpus_digest(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Order-independent corpus content digest — the dataset-versioning
    primitive: two runs (any partitioning, any row order, any cluster
    size) produced byte-identical corpora iff their digests match, with
    no global sort and no driver-side content.

    digest = bit_xor over rows of a 60-bit md5 of 'digest-v1:<id>:<text>'
    (60 bits keeps the value positive int64 in every engine; XOR is
    commutative/associative, so map-side partials combine freely and the
    aggregation is one tiny shuffle). Collision posture: detecting an
    ACCIDENTAL difference (the versioning use case) at 2^-60 per pair;
    not an adversarial MAC. Returns one row (n_docs, n_chars, digest)."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("digest-v1:"), F.col(id_col).cast("string"), F.lit(":"), t
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return docs.select(h.alias("h"), F.length(t).alias("c")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("c").cast("long").alias("n_chars"),
        F.expr("bit_xor(h)").cast("long").alias("digest"),
    )


def sentence_windows(
    docs,
    window: int = 3,
    stride: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Sliding sentence windows (the retrieval/embedding chunker: fixed
    ``window`` sentences per chunk, ``stride`` sentences between chunk
    starts, so consecutive chunks overlap by window-stride sentences and
    no sentence is ever split mid-chunk). A document shorter than one
    window emits a single chunk with what it has; the final partial
    window is kept iff it starts before the text runs out.

    One narrow pass over the per-doc sentence array (no shuffle):
    chunk starts are a sequence, each chunk a slice+join. Returns
    (doc_id, win_idx, n_sents, n_chars, chunk)."""
    if window < 1 or stride < 1:
        raise ValueError("window and stride must be >= 1")
    sents = split_sentences_col(F.col(text_col))
    df = docs.select(F.col(id_col).alias("doc_id"), sents.alias("__sents"))
    n_wins = F.when(F.size("__sents") <= 0, F.lit(0)).otherwise(
        F.expr(f"1 + (greatest(size(__sents) - {window}, 0) + {stride} - 1) div {stride}")
    )
    df = df.withColumn("__nw", n_wins)
    wins = F.when(
        F.col("__nw") > 0, F.sequence(F.lit(0), F.col("__nw") - 1)
    ).otherwise(F.array().cast("array<int>"))
    z = F.transform(
        wins,
        lambda i: F.struct(
            i.alias("i"),
            F.slice(F.col("__sents"), i * stride + 1, window).alias("w"),
        ),
    )
    return df.select("doc_id", F.explode(z).alias("z")).select(
        "doc_id",
        F.col("z.i").cast("long").alias("win_idx"),
        F.size("z.w").cast("long").alias("n_sents"),
        F.length(F.array_join(F.col("z.w"), " ")).cast("long").alias("n_chars"),
        F.array_join(F.col("z.w"), " ").alias("chunk"),
    )


def decontaminate_sentences(
    train,
    eval_docs,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Sentence-level decontamination — the salvage tier above
    :func:`decontaminate`: instead of dropping a long document over one
    leaked benchmark passage, redact the contaminated SENTENCES (any
    sentence sharing a word n-gram with the eval set) and keep the rest.

    Plan: sentences explode once (narrow), per-sentence distinct grams
    probe the BROADCAST eval-gram set map-side, the contaminated
    (doc, sent_idx) keys dedup, and one doc_id aggregation rebuilds the
    cleaned text in sentence order (sort_array over (sent_idx, sentence)
    structs — no per-doc window). Same broadcast-outgrowth escape hatch
    as decontaminate: drop the hint and the probe becomes a gram-keyed
    shuffle join.

    Returns (doc_id, n_sentences, n_contaminated, clean_text) — one row
    per training doc; zero-sentence docs report (0, 0, '')."""
    sents = split_sentences(train, id_col, text_col)
    eval_grams = eval_docs.select(
        F.explode(F.array_distinct(ngrams_of(F.col(text_col), n))).alias("gram")
    ).distinct()
    sgrams = sents.select(
        "doc_id",
        "sent_idx",
        F.explode(F.array_distinct(ngrams_of(F.col("sentence"), n))).alias("gram"),
    )
    bad = (
        sgrams.join(F.broadcast(eval_grams), "gram")
        .select("doc_id", "sent_idx")
        .distinct()
        .withColumn("__bad", F.lit(True))
    )
    marked = sents.join(bad, ["doc_id", "sent_idx"], "left")
    agg = marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sentences"),
        F.sum(F.when(F.col("__bad"), F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_contaminated"),
        F.array_join(
            F.filter(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("sent_idx"),
                                F.when(F.col("__bad").isNull(), F.col("sentence")).alias(
                                    "s"
                                ),
                            )
                        )
                    ),
                    lambda x: x["s"],
                ),
                lambda s: s.isNotNull(),
            ),
            " ",
        ).alias("clean_text"),
    )
    return (
        train.select(F.col(id_col).alias("doc_id"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_sentences", F.lit(0)).cast("long").alias("n_sentences"),
            F.coalesce("n_contaminated", F.lit(0)).cast("long").alias("n_contaminated"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


# --- Gopher repetition battery (Rae et al. 2021 §A.1.1, the dup-ngram half) ---

# published thresholds: fraction of characters inside DUPLICATED n-grams
GOPHER_DUP_NGRAM_MAX_FRAC: tuple[tuple[int, float], ...] = (
    (5, 0.15), (6, 0.14), (7, 0.13), (8, 0.12), (9, 0.11), (10, 0.10),
)


def gopher_repetition(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dup_line_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
    max_dup_para_frac: float = 0.30,
    max_dup_para_char_frac: float = 0.20,
    dup_ngram_max_frac: tuple[tuple[int, float], ...] = GOPHER_DUP_NGRAM_MAX_FRAC,
):
    """The OTHER half of the Gopher repetition rules (Rae et al. 2021
    §A.1.1; :func:`gopher_quality` carries the top-2/3/4-gram and
    dup-line-char rules): duplicate LINE and PARAGRAPH fractions by count
    and by character, and for n = 5..10 the fraction of word characters
    covered by n-grams that occur more than once. Coverage is
    positional-union (DataTrove semantics): a word under three
    overlapping duplicated 5-grams counts once — computed exactly, not
    approximated, by expanding duplicated-gram start positions to covered
    word indexes and de-duplicating them.

    Definitions shared with the DuckDB twin: words = lowered whitespace
    tokens; lines = trimmed non-empty '\\n' segments; paragraphs = trimmed
    non-empty '\\n\\n' segments; duplicate-unit fractions count
    occurrences BEYOND the first (sum(c-1)/sum(c)); char denominators are
    unit chars (lines/paras) and word chars (n-grams).

    Plan shape (scale notes): ONE gram generation covers all six n values
    (explode of a flattened per-n struct array — no per-n corpus pass),
    then every shuffle is keyed on (doc_id[, n, gram]): gram counts
    partial-aggregate map-side, covered-index expansion is bounded by
    duplicated-occurrence volume × n, and the per-doc covered-index sets
    join back doc-keyed. No corpus-wide hot key anywhere.

    Returns (doc_id, frac_dup_lines, frac_dup_line_chars, frac_dup_paras,
    frac_dup_para_chars, frac_dup_{5..10}gram_chars, repetition_pass)."""
    ns = [n for n, _ in dup_ngram_max_frac]
    zero = F.lit(0).cast("long")
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(F.col(text_col), F.lit("")).alias("t"),
        words_of(F.col(text_col)).alias("w"),
    ).withColumn("word_chars", F.aggregate(F.col("w"), zero, lambda a, x: a + F.length(x)))

    def unit_fracs(sep: str, cnt_col: str, chr_col: str):
        units = F.filter(
            F.transform(F.split(F.col("t"), sep), lambda x: F.trim(x)),
            lambda x: x != "",
        )
        per = (
            base.select("doc_id", F.explode(units).alias("u"))
            .groupBy("doc_id", "u")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        return per.groupBy("doc_id").agg(
            F.round(
                F.sum(F.col("c") - 1).cast("double") / F.sum("c").cast("double"), 6
            ).alias(cnt_col),
            F.round(
                F.sum((F.col("c") - 1) * F.length("u")).cast("double")
                / F.sum(F.col("c") * F.length("u")).cast("double"),
                6,
            ).alias(chr_col),
        )

    lines = unit_fracs("\n", "frac_dup_lines", "frac_dup_line_chars")
    paras = unit_fracs("\n\n", "frac_dup_paras", "frac_dup_para_chars")

    # one generation pass for ALL n: struct<n, i, gram>
    def grams_for(n: int) -> Column:
        m = F.size("w")
        return F.when(
            m >= n,
            F.transform(
                F.sequence(F.lit(1), m - n + 1),
                lambda i: F.struct(
                    F.lit(n).cast("int").alias("n"),
                    i.cast("int").alias("i"),
                    F.concat_ws(" ", F.slice(F.col("w"), i, n)).alias("gram"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<n:int,i:int,gram:string>>"))

    grams = base.select(
        "doc_id", F.explode(F.flatten(F.array(*[grams_for(n) for n in ns]))).alias("g")
    ).select("doc_id", F.col("g.n").alias("n"), F.col("g.i").alias("i"), F.col("g.gram").alias("gram"))
    dup_starts = (
        grams.groupBy("doc_id", "n", "gram")
        .agg(F.count(F.lit(1)).alias("c"), F.collect_list("i").alias("starts"))
        .filter(F.col("c") > 1)
    )
    covered = (
        dup_starts.select("doc_id", "n", F.explode("starts").alias("s"))
        .select("doc_id", "n", F.explode(F.sequence(F.col("s"), F.col("s") + F.col("n") - 1)).alias("widx"))
        .distinct()
    )
    sets = covered.groupBy("doc_id").agg(
        *[
            F.collect_set(F.when(F.col("n") == n, F.col("widx"))).alias(f"_cov{n}")
            for n in ns
        ]
    )

    out = (
        base.join(lines, "doc_id", "left")
        .join(paras, "doc_id", "left")
        .join(sets, "doc_id", "left")
    )
    w = F.col("w")
    for n in ns:
        cov = F.coalesce(F.col(f"_cov{n}"), F.array().cast("array<int>"))
        cov_chars = F.aggregate(cov, zero, lambda a, j: a + F.length(F.element_at(w, j)))
        out = out.withColumn(
            f"frac_dup_{n}gram_chars",
            F.round(
                F.when(
                    F.col("word_chars") > 0,
                    cov_chars.cast("double") / F.col("word_chars").cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ),
        )
    out = out.na.fill(
        {
            c: 0.0
            for c in (
                "frac_dup_lines", "frac_dup_line_chars",
                "frac_dup_paras", "frac_dup_para_chars",
            )
        }
    )
    gate = (
        (F.col("frac_dup_lines") <= max_dup_line_frac)
        & (F.col("frac_dup_line_chars") <= max_dup_line_char_frac)
        & (F.col("frac_dup_paras") <= max_dup_para_frac)
        & (F.col("frac_dup_para_chars") <= max_dup_para_char_frac)
    )
    for n, thr in dup_ngram_max_frac:
        gate = gate & (F.col(f"frac_dup_{n}gram_chars") <= thr)
    return out.select(
        "doc_id",
        "frac_dup_lines", "frac_dup_line_chars",
        "frac_dup_paras", "frac_dup_para_chars",
        *[f"frac_dup_{n}gram_chars" for n in ns],
        gate.alias("repetition_pass"),
    )


# --- readability (Flesch) --------------------------------------------------------
# Flesch Reading Ease and Flesch-Kincaid grade (Kincaid et al. 1975), the
# classic corpus-quality features, in EXACT milli-units: each fractional
# term floors independently (a documented deterministic variant), so both
# engines hash identically. Syllables are the standard heuristic — vowel
# GROUP runs (latin incl. y, plus cyrillic vowels) minus a silent trailing
# consonant+e, floor one per word.

_VOWEL_RUN_RE = "[aeiouyаеёиоуыэюя]+"


def syllable_count(word: Column) -> Column:
    """Heuristic syllables of one (already lowered) word."""
    runs = F.size(F.regexp_extract_all(word, F.lit(_VOWEL_RUN_RE), 0))
    silent = word.rlike("[^aeiouy]e$") & (runs >= 2)
    return F.greatest(runs - silent.cast("int"), F.lit(1))


def readability_scores(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Per-document readability: (doc_id, n_words, n_sentences,
    n_syllables, fre_milli, fk_grade_milli).

    fre_milli  = 206835 - 1015*W//S - 84600*Syl//W   (Flesch Reading Ease)
    fk_milli   = 390*W//S + 11800*Syl//W - 15590     (Flesch-Kincaid grade)

    with S floored at 1 and metrics NULL for word-less documents. One
    narrow pass: the word array materializes once, syllable counting is a
    linear transform+fold over that attribute. No shuffle."""
    d1 = docs.select(
        F.col(id_col).alias("doc_id"),
        words_of(F.col(text_col)).alias("ws"),
        F.size(split_sentences_col(F.col(text_col))).cast("long").alias("n_sentences"),
    )
    syl = F.aggregate(
        F.transform(F.col("ws"), syllable_count),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    d2 = d1.select(
        "doc_id",
        F.size(F.col("ws")).cast("long").alias("n_words"),
        "n_sentences",
        syl.alias("n_syllables"),
    )
    w = F.col("n_words")
    s = F.greatest(F.col("n_sentences"), F.lit(1).cast("long"))
    y = F.col("n_syllables")
    wps = F.floor(w * 1015 / s).cast("long")
    spw = F.floor(y * 84600 / F.greatest(w, F.lit(1).cast("long"))).cast("long")
    fk_wps = F.floor(w * 390 / s).cast("long")
    fk_spw = F.floor(y * 11800 / F.greatest(w, F.lit(1).cast("long"))).cast("long")
    return d2.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.when(w > 0, F.lit(206835).cast("long") - wps - spw).alias("fre_milli"),
        F.when(w > 0, fk_wps + fk_spw - F.lit(15590).cast("long")).alias(
            "fk_grade_milli"
        ),
    )


# --- Stupid Backoff trigram LM -----------------------------------------------
# Brants et al. 2007 ("Large Language Models in Machine Translation"): the
# web-scale smoothing — no discounting, no normalization, just relative
# frequencies with a fixed 0.4 multiplier per backoff level. The published
# choice for trillion-token count models precisely BECAUSE it needs only
# mergeable count aggregations, which is why it fits the 10^12-doc posture
# here: every model table is a hash agg derived from ONE trigram explode.

#: milli-bits added per backoff level: -1000*log2(0.4) = 1321.9... -> 1322.
BACKOFF_MILLIBITS = 1322
#: flat unigram-OOV penalty (same 20-bit convention as lm_surprisal).
OOV_MILLIBITS = 20_000


def lm_stupid_backoff(
    docs, model_docs=None, id_col: str = "doc_id", text_col: str = "text"
):
    """Stupid-Backoff trigram surprisal (Brants et al. 2007) in EXACT
    milli-bit integer arithmetic: score every document by the average
    surprisal of its word trigrams, backing off trigram -> bigram ->
    unigram with the paper's fixed alpha = 0.4 per level (1322 milli-bits,
    the integer -1000*log2(0.4)), so an external curated model can score
    crawl text whose exact trigrams it has never seen — the depth-3
    generalization of :func:`lm_surprisal`'s flat-OOV bigram model.

    Every count table derives from ONE trigram explode of the model
    corpus by successive aggregation (each one model-sized, mergeable,
    map-side-combined — the property that made Stupid Backoff the
    web-scale choice in the first place):

      t3 (w1 w2 w3) -> count        trigram events
      c2 (w1 w2)    -> sum(t3)      trigram contexts
      b2 (w2 w3)    -> sum(t3)      bigram events (continuation counts)
      c1 (w2)       -> sum(b2)      bigram contexts
      u1 (w3)       -> sum(b2)      unigram events
      n0            -> sum(u1)      scalar, broadcast

    Per-level surprisal is bits(context) - bits(event) (libm-free integer
    bit length, see :func:`_bits`) in milli-bits, plus 1322 per level
    backed off; a word absent from u1 takes 2644 + 20000 flat. Scoring
    computes once per DISTINCT probe trigram (model-sized joins on the
    gram and its suffixes), then one keyed join attaches the score to
    corpus occurrences — the Zipf-head skew join AQE splits. Docs with
    <3 words have 0 trigrams and score 0 over 0.

    Self-trained (``model_docs=None``) never backs off (every probe
    trigram is in t3 by construction) — the backoff chain is the
    external-model path, exactly like CCNet's curated-model setup.

    Returns (doc_id, n_trigrams, total_millibits, avg_millibits)."""
    self_trained = model_docs is None
    model_docs = docs if self_trained else model_docs

    def grams(df):
        return df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(ngrams_of(F.col(text_col), 3)).alias("gram"),
        )

    probe = grams(docs)
    if self_trained:
        from pyspark import StorageLevel

        from ocr_spark.operators.dedup import _register_cache

        probe = _register_cache(probe.persist(StorageLevel.MEMORY_AND_DISK))

    sp = F.split(F.col("gram"), " ")
    t3 = (probe if self_trained else grams(model_docs)).groupBy("gram").agg(
        F.count(F.lit(1)).alias("t_cnt")
    )
    c2 = t3.select(
        F.array_join(F.slice(sp, 1, 2), " ").alias("p2"), "t_cnt"
    ).groupBy("p2").agg(F.sum("t_cnt").alias("c2_cnt"))
    b2 = t3.select(
        F.array_join(F.slice(sp, 2, 2), " ").alias("s2"), "t_cnt"
    ).groupBy("s2").agg(F.sum("t_cnt").alias("b2_cnt"))
    c1 = b2.select(F.split(F.col("s2"), " ")[0].alias("m1"), "b2_cnt").groupBy(
        "m1"
    ).agg(F.sum("b2_cnt").alias("c1_cnt"))
    u1 = b2.select(F.split(F.col("s2"), " ")[1].alias("l1"), "b2_cnt").groupBy(
        "l1"
    ).agg(F.sum("b2_cnt").alias("u1_cnt"))
    n0 = u1.agg(F.sum("u1_cnt").alias("n0_cnt"))

    dg = probe.select("gram").distinct().select(
        "gram",
        F.array_join(F.slice(sp, 1, 2), " ").alias("p2"),
        F.array_join(F.slice(sp, 2, 2), " ").alias("s2"),
        sp[1].alias("m1"),
        sp[2].alias("l1"),
    )
    lvl3 = F.lit(1000) * (_bits(F.col("c2_cnt")) - _bits(F.col("t_cnt")))
    lvl2 = F.lit(BACKOFF_MILLIBITS) + F.lit(1000) * (
        _bits(F.col("c1_cnt")) - _bits(F.col("b2_cnt"))
    )
    lvl1 = F.lit(2 * BACKOFF_MILLIBITS) + F.lit(1000) * (
        _bits(F.col("n0_cnt")) - _bits(F.col("u1_cnt"))
    )
    gram_milli = (
        dg.join(t3, "gram", "left")
        .join(c2, "p2", "left")
        .join(b2, "s2", "left")
        .join(c1, "m1", "left")
        .join(u1, "l1", "left")
        .crossJoin(F.broadcast(n0))
        .select(
            "gram",
            F.when(F.col("t_cnt").isNotNull(), lvl3)
            .when(F.col("b2_cnt").isNotNull(), lvl2)
            .when(F.col("u1_cnt").isNotNull(), lvl1)
            .otherwise(F.lit(2 * BACKOFF_MILLIBITS + OOV_MILLIBITS))
            .cast("long")
            .alias("milli"),
        )
    )
    per_doc = (
        probe.join(gram_milli, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.sum("milli").alias("total_millibits"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_trigrams", F.lit(0)).cast("long").alias("n_trigrams"),
            F.coalesce("total_millibits", F.lit(0))
            .cast("long")
            .alias("total_millibits"),
            F.round(
                F.when(
                    F.coalesce("n_trigrams", F.lit(0)) > 0,
                    F.col("total_millibits").cast("double") / F.col("n_trigrams"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("avg_millibits"),
        )
    )


def doremi_mix(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    domain_col: str = "source",
):
    """DoReMi-shaped domain reweighting (Xie et al. 2023) in EXACT
    integer-bit arithmetic: one multiplicative-weights step over per-domain
    excess LM surprisal, so domains the (self-trained) bigram model finds
    hard gain sampling weight and easy/redundant domains lose it.

    Exactness contract: DoReMi's `w ∝ ref · exp(η·excess_loss)` uses a
    float exp no two engines reproduce bit-for-bit. Here the loss is
    :func:`lm_surprisal`'s integer-bit surprisal, the excess is an integer
    bits-per-bigram difference (floor division, clamped to ±60), and the
    multiplier is 2^excess built from BIGINT shifts — every power of two
    and its reciprocal is an exact double, and the final normalization
    folds domain weights in sorted-domain order, so the DuckDB twin
    hash-matches. η is effectively 1 bit⁻¹; the domain table is a handful
    of rows, so the normalization fold is scale-free (the corpus-side cost
    is lm_surprisal's one model aggregation + skew-joined probe).

    Returns one row per domain with n_bigrams > 0:
    (domain, n_docs, grams, bits, excess_bits, weight), Σ weight = 1.
    """
    sur = lm_surprisal(docs, id_col=id_col, text_col=text_col)
    j = docs.select(
        F.col(id_col).alias("doc_id"), F.col(domain_col).alias("domain")
    ).join(sur, "doc_id")
    dom = (
        j.groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bigrams").alias("grams"),
            F.sum("total_bits").alias("bits"),
        )
        .filter(F.col("grams") > 0)
    )
    tot = dom.agg(
        F.sum("grams").alias("g_tot"), F.sum("bits").alias("b_tot")
    )
    ex = dom.crossJoin(F.broadcast(tot)).select(
        "domain",
        "n_docs",
        "grams",
        "bits",
        F.greatest(
            F.least(
                F.expr("(bits div grams) - (b_tot div g_tot)"), F.lit(60)
            ),
            F.lit(-60),
        )
        .cast("long")
        .alias("excess_bits"),
        "g_tot",
    )
    raw = ex.select(
        "domain",
        "n_docs",
        "grams",
        "bits",
        "excess_bits",
        (
            (F.col("grams").cast("double") / F.col("g_tot"))
            * F.expr(
                "CASE WHEN excess_bits >= 0 "
                "THEN CAST(SHIFTLEFT(CAST(1 AS BIGINT), CAST(excess_bits AS INT)) AS DOUBLE) "
                "ELSE CAST(1.0 AS DOUBLE) / SHIFTLEFT(CAST(1 AS BIGINT), CAST(-excess_bits AS INT)) END"
            )
        ).alias("w_raw"),
    )
    s = raw.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct(F.col("domain"), F.col("w_raw")))),
            F.lit(0.0),
            lambda a, x: a + x["w_raw"],
        ).alias("w_sum")
    )
    return raw.crossJoin(F.broadcast(s)).select(
        "domain",
        "n_docs",
        "grams",
        "bits",
        "excess_bits",
        (F.col("w_raw") / F.col("w_sum")).alias("weight"),
    )


def keyword_tags(
    docs,
    phrases,
    max_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    phrase_col: str = "phrase",
    broadcast_max: int = 5_000_000,
):
    """FlashText / gazetteer-style dictionary tagging: match a phrase
    dictionary (1..max_n normalized words each, space-joined) against every
    document at WORD granularity and emit per-(doc, phrase) hit counts with
    the first match position — the "tag 10^5 keywords against the whole
    corpus" primitive (entity lists, topic lexicons, blocklists with
    positions).

    Spark-first shape: instead of an executor-side Aho–Corasick automaton
    (opaque to Catalyst, rebuilt per task), the corpus explodes to
    (doc, pos, gram) rows for each n ≤ max_n (:func:`ngrams_of`, whose
    word array is let-bound, so tokenize runs once) — and the dictionary
    equi-joins on the gram. The dictionary side broadcasts only when a cheap distinct-count sketch
    says it fits (the dedup-vocabulary lesson: an unconditional hint dies
    at 10^7+ phrases); otherwise it falls back to a shuffle join keyed on
    the gram, which AQE skew-splits if one phrase is Zipf-hot.

    NOTE: the sketch is an EAGER Spark action (approx_count_distinct +
    .first()) at DataFrame-construction time — calling this function runs
    a dictionary-side aggregation immediately, even if the returned plan
    is never executed (same precedent as dedup_ngram_jaccard's HLL gate).
    Callers assembling plans lazily should construct this last.

    Output: (doc_id, phrase, n_hits, first_pos) — first_pos is the 1-based
    word index of the earliest match.
    """
    grams = None
    for n in range(1, max_n + 1):
        part = docs.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(ngrams_of(F.col(text_col), n)).alias("idx", "gram"),
        ).select("doc_id", (F.col("idx") + 1).alias("pos"), "gram")
        grams = part if grams is None else grams.unionByName(part)
    p = phrases.select(F.col(phrase_col).alias("gram")).distinct()
    est = p.agg(F.approx_count_distinct("gram").alias("v")).first()["v"]
    side = F.broadcast(p) if est <= broadcast_max else p
    return (
        grams.join(side, "gram")
        .groupBy("doc_id", F.col("gram").alias("phrase"))
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.min("pos").cast("long").alias("first_pos"),
        )
    )


def tfidf_terms(
    docs,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Per-document top-k characteristic terms by integer-bit TF-IDF:
    score = tf · (bits(N) − bits(df)) — the idf in floor-log2 "bits of
    rarity" (within 1 bit of ln-idf, rank-equivalent), so every value is
    exact integer math and the oracle hash-matches (`top_terms`' corpus-
    level lesson applied per document). The keyword-extraction primitive
    for per-doc topical labels / routing.

    Plan: one tokenize explode → per-(doc, term) count (map-side combined)
    → term df aggregation joined back on term (Zipf head is AQE skew
    territory, count rows only) → per-doc window top-k. Terms with
    df = N score 0 and still rank (ties broken by term ASC) — the
    stop-word floor is visible, not silently dropped.

    Returns (doc_id, term, tf, df, score, rank), rank 1..k by
    (score DESC, term ASC).
    """
    w = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(words_of(F.col(text_col))).alias("term")
    )
    tf = w.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.countDistinct(F.col(id_col)).alias("n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            (F.col("tf") * (_bits(F.col("n")) - _bits(F.col("df")))).alias("score"),
        )
    )
    win = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(win).cast("long"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "df", "score", "rank")
    )


def cooccur_ppmi(
    docs,
    window: int = 4,
    min_count: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Windowed word co-occurrence with integer-bit PPMI (the GloVe /
    PPMI-matrix prep pass): unordered within-``window`` token pairs,
    scored by ``bits(c_xy) + bits(T) − bits(c_x) − bits(c_y)`` — floor-log2
    PMI within ~2 bits, pure bit-length arithmetic so it never overflows
    int64 (a literal ``c_xy·T`` product would at corpus scale) and
    hash-matches the oracle.

    Plan shape: pair generation is EXPRESSION-LEVEL (a let-bound nested
    transform flatten per document — no positional self-join, no shuffle
    until the pair-count aggregation), then two count aggregations and a
    count-row join on the Zipf-headed term keys (AQE skew-split
    territory). Emits pairs with ``c_xy ≥ min_count`` and positive PPMI
    bits: (term_a, term_b, n_pairs, ppmi_bits), term_a < term_b.
    """
    pair_t = "array<struct<a:string,b:string>>"

    def pairs_of(ws):
        return F.flatten(
            F.transform(
                F.sequence(F.lit(1), F.size(ws) - 1),
                lambda i: F.transform(
                    F.sequence(
                        F.lit(1), F.least(F.lit(window), F.size(ws) - i)
                    ),
                    lambda j: F.struct(
                        F.least(
                            F.element_at(ws, i), F.element_at(ws, i + j)
                        ).alias("a"),
                        F.greatest(
                            F.element_at(ws, i), F.element_at(ws, i + j)
                        ).alias("b"),
                    ),
                ),
            )
        )

    ex = docs.select(
        F.explode(
            let(
                words_of(F.col(text_col)),
                lambda ws: F.when(F.size(ws) >= 2, pairs_of(ws)).otherwise(
                    F.array().cast(pair_t)
                ),
            )
        ).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    pc = ex.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c"))
    uc = (
        docs.select(F.explode(words_of(F.col(text_col))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    tt = pc.agg(F.sum("c").alias("t"))
    scored = (
        pc.join(uc.select(F.col("term").alias("a"), F.col("cu").alias("ca")), "a")
        .join(uc.select(F.col("term").alias("b"), F.col("cu").alias("cb")), "b")
        .crossJoin(F.broadcast(tt))
        .select(
            F.col("a").alias("term_a"),
            F.col("b").alias("term_b"),
            F.col("c").alias("n_pairs"),
            (
                _bits(F.col("c"))
                + _bits(F.col("t"))
                - _bits(F.col("ca"))
                - _bits(F.col("cb"))
            )
            .cast("long")
            .alias("ppmi_bits"),
        )
    )
    return scored.filter(
        (F.col("n_pairs") >= min_count) & (F.col("ppmi_bits") >= 1)
    )


def vocab_coverage(
    docs,
    targets_permille=(900, 950, 990, 999),
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Vocabulary-size planning: for each coverage target, the smallest
    count-cutoff vocabulary covering at least that share of total token
    mass (the "how big must the tokenizer's word list be" question asked
    before BPE/unigram training).

    Scale discipline: the naive global rank-and-cumsum over terms is a
    one-reducer window (a scale-killer at open vocabularies). Instead the
    cumulative sums run over the COUNT-VALUE domain — terms aggregate to
    (count, n_terms, mass) rows first, bounded by the distinct count
    values (≪ vocabulary, the length_quantiles precedent) — and coverage
    targets compare in exact integer per-mille arithmetic, no float
    thresholds. Vocabulary membership at the boundary is by whole count
    value (every term with count ≥ cutoff is in), so the answer is
    deterministic without term-level tie-breaking.

    Returns one row per target: (target_permille, vocab_terms,
    cutoff_count, covered_mass, total_mass).
    """
    counts = (
        docs.select(F.explode(words_of(F.col(text_col))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    by_val = counts.groupBy("c").agg(
        F.count(F.lit(1)).alias("n_terms"),
        (F.col("c") * F.count(F.lit(1))).alias("mass"),
    )
    w = (
        Window.orderBy(F.col("c").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = by_val.select(
        "c",
        F.sum("n_terms").over(w).cast("long").alias("cum_terms"),
        F.sum("mass").over(w).cast("long").alias("cum_mass"),
    )
    tot = by_val.agg(F.sum("mass").cast("long").alias("total"))
    tg = cum.sparkSession.createDataFrame(
        [(int(t),) for t in targets_permille], "target_permille long"
    )
    qual = (
        tg.crossJoin(cum)
        .crossJoin(F.broadcast(tot))
        .filter(F.col("cum_mass") * 1000 >= F.col("target_permille") * F.col("total"))
    )
    w2 = Window.partitionBy("target_permille").orderBy(F.col("cum_terms").asc())
    return (
        qual.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == 1)
        .select(
            "target_permille",
            F.col("cum_terms").alias("vocab_terms"),
            F.col("c").alias("cutoff_count"),
            F.col("cum_mass").alias("covered_mass"),
            F.col("total").alias("total_mass"),
        )
    )


def ngram_novelty(
    docs,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Per-document n-gram novelty: the share of the doc's DISTINCT word
    n-grams that occur in no other document (df = 1) — high novelty marks
    genuinely unique text, low novelty marks boilerplate/template mass
    that the dedup tiers should be catching (and a memorization-risk
    ranking for eval-set curation).

    One explode → per-doc distinct grams → gram df aggregation → join back
    (count rows, Zipf head AQE territory) → per-doc ratio. Docs with
    fewer than n words emit (0, 0, 0.0), not a dropped row.
    Returns (doc_id, n_distinct_grams, novel_grams, novelty).
    """
    g = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(ngrams_of(F.col(text_col), n)).alias("gram"),
    ).distinct()
    dfreq = g.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        g.join(dfreq, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_grams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("novel_grams"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_distinct_grams", F.lit(0)).cast("long").alias("n_distinct_grams"),
            F.coalesce("novel_grams", F.lit(0)).cast("long").alias("novel_grams"),
            F.round(
                F.when(
                    F.coalesce("n_distinct_grams", F.lit(0)) > 0,
                    F.col("novel_grams").cast("double") / F.col("n_distinct_grams"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("novelty"),
        )
    )


def ngram_overlap_counts(
    pairs_df,
    max_n: int = 4,
    id_col: str = "doc_id",
    hyp_col: str = "extracted",
    ref_col: str = "ground_truth",
):
    """BLEU/ROUGE-style clipped n-gram overlap counts per (document, n):
    ``match = Σ_g min(count_hyp(g), count_ref(g))`` plus both totals, for
    n = 1..max_n — the integer core of BLEU-n precision and ROUGE-n recall
    (the geometric mean / brevity penalty are one float expression away,
    left to the consumer so every emitted value stays exact and the corpus
    rollup is a plain SUM of these counts — corpus-BLEU composes from the
    same rows with no re-pass).

    Per n: two (doc, gram) count aggregations, an inner join on the gram
    (absent grams clip to 0 and need no outer join), one per-doc
    aggregation; docs with no n-grams keep zero rows via the final left
    join. Returns (doc_id, n, match_grams, hyp_grams, ref_grams).
    """
    out = None
    base = pairs_df.select(
        F.col(id_col).alias("doc_id"), F.col(hyp_col).alias("h"), F.col(ref_col).alias("r")
    )
    for n in range(1, max_n + 1):
        def counts(col, alias):
            return (
                base.select("doc_id", F.explode(ngrams_of(F.col(col), n)).alias("gram"))
                .groupBy("doc_id", "gram")
                .agg(F.count(F.lit(1)).alias(alias))
            )

        hc = counts("h", "ch")
        rc = counts("r", "cr")
        joined = hc.join(rc, ["doc_id", "gram"]).select(
            "doc_id", F.least("ch", "cr").alias("m")
        )
        match = joined.groupBy("doc_id").agg(F.sum("m").alias("match_grams"))
        htot = hc.groupBy("doc_id").agg(F.sum("ch").alias("hyp_grams"))
        rtot = rc.groupBy("doc_id").agg(F.sum("cr").alias("ref_grams"))
        part = (
            base.select("doc_id")
            .join(match, "doc_id", "left")
            .join(htot, "doc_id", "left")
            .join(rtot, "doc_id", "left")
            .select(
                "doc_id",
                F.lit(n).cast("long").alias("n"),
                F.coalesce("match_grams", F.lit(0)).cast("long").alias("match_grams"),
                F.coalesce("hyp_grams", F.lit(0)).cast("long").alias("hyp_grams"),
                F.coalesce("ref_grams", F.lit(0)).cast("long").alias("ref_grams"),
            )
        )
        out = part if out is None else out.unionByName(part)
    return out
