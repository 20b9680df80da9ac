"""Deduplication operators for training-data pipelines.

Five strategies, all DataFrame-native:

- exact           hash-groupBy on text (one shuffle, partial agg)
- minhash LSH     shingle → K minhashes → banded bucket join (the scale
                  path: candidate generation is equi-join on band keys,
                  never an all-pairs product)
- simhash         64→60-bit sign-vector hash, bucket by prefix
- n-gram Jaccard  shingle-inverted-index join + set Jaccard verify
- embedding       quantized-integer cosine (bit-exact across engines);
                  exact via blocked GEMM (uniform block-pair tasks, no
                  row-level N² join); subquadratic sign-LSH candidates
                  for dedup thresholds >= ~0.8 (dedup_embedding_lsh)

Hashing is md5-prefix / integer-polynomial everywhere so the DuckDB oracle
reproduces results exactly (no engine-private hash functions).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ocr_spark import config
from ocr_spark.functions.text import let
from ocr_spark.operators.spans import span_rank, span_rows
from ocr_spark.operators.textstats import words_of

# --- shingling ---------------------------------------------------------------


def shingles(text: Column, k: int = config.SHINGLE_SIZE) -> Column:
    """Distinct word k-gram shingles of the lowered text. The word array
    is bound once with ``let`` — an inline reference would re-split per
    shingle, O(n²)/doc."""

    def grams_of(w: Column) -> Column:
        n = F.size(w)
        # sequence(1, 0) would generate a DESCENDING [1, 0] — guard short
        idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
            F.array().cast("array<int>")
        )
        return F.array_distinct(
            F.transform(idx, lambda i: F.array_join(F.slice(w, i, k), " "))
        )

    return let(words_of(text), grams_of)


def _md5_int(c: Column, salt: int) -> Column:
    """First 8 md5 hex digits of (salt:value) as a bigint — engine-neutral."""
    return F.conv(F.substring(F.md5(F.concat(F.lit(f"{salt}:"), c)), 1, 8), 16, 10).cast("long")


def shingle_hashes_pandas(text: Column, k: int = config.SHINGLE_SIZE) -> Column:
    """Sorted distinct 60-bit md5 ints of the word k-gram shingles —
    Arrow-batched twin of conv(substring(md5(shingle),1,15),16,10) over
    :func:`shingles` (hashlib md5 == Spark/DuckDB md5, bit-identical).
    Tokenization mirrors textstats.words_of (lower → strip → \\s+ split)."""
    import hashlib
    import re

    from pyspark.sql.functions import pandas_udf

    ws = re.compile(r"\s+")

    @pandas_udf("array<long>")
    def _sh(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            s = (t or "").lower().strip()
            w = ws.split(s) if s else []
            if len(w) < k:
                out.append([])
                continue
            grams = {" ".join(w[i : i + k]) for i in range(len(w) - k + 1)}
            out.append(
                sorted(int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams)
            )
        return pd.Series(out)

    return _sh(text)


# --- exact dedup -------------------------------------------------------------


def dedup_exact(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: keep the min-id representative per identical text.

    One hash-aggregate shuffle on md5(text) — never shuffles the full text.
    Returns (doc_id, keep boolean, group_size).
    """
    h = F.md5(F.coalesce(F.col(text_col), F.lit("")))
    w = Window.partitionBy(h)
    return docs.select(
        F.col(id_col),
        (F.col(id_col) == F.min(id_col).over(w)).alias("keep"),
        F.count(F.lit(1)).over(w).cast("long").alias("group_size"),
    )


# Persisted side tables created inside lazily-returned plans (the caller
# gets a DataFrame, not the cache handle). A long-lived session that builds
# the same operator repeatedly — the bench loop, a multi-stage job — calls
# release_feature_caches() after materializing each result; otherwise every
# call pins another MEMORY_AND_DISK copy until the session dies.
_FEATURE_CACHES: list[DataFrame] = []


def _register_cache(df: DataFrame) -> DataFrame:
    _FEATURE_CACHES.append(df)
    return df


def release_feature_caches() -> int:
    """Unpersist every registered operator-internal cache; returns how many."""
    n = 0
    while _FEATURE_CACHES:
        _FEATURE_CACHES.pop().unpersist()
        n += 1
    return n


# --- minhash + LSH -----------------------------------------------------------


def minhash_feats_pandas(
    text: Column,
    num_hashes: int = config.MINHASH_NUM_HASHES,
    k: int = config.SHINGLE_SIZE,
) -> Column:
    """Arrow-batched (sigs, hv) per document: the K salted-md5 minhashes
    (min over shingles of md5('{salt}:{shingle}') 8-hex-prefix ints — the
    exact _md5_int/oracle formula, hashlib md5 == Spark/DuckDB md5) plus
    the sorted 60-bit interned shingle ids for the Jaccard verify. One
    text pass replaces three interpreted shingle-expression corpus walks.
    Documents with no shingles get sigs=[-1]*K and hv=[]; consumers must
    exclude them from banding (dedup_minhash_lsh filters size(hv) > 0) or
    every short/empty doc collides with every other in every band."""
    import hashlib
    import re

    from pyspark.sql.functions import pandas_udf

    ws = re.compile(r"\s+")

    @pandas_udf(f"struct<sigs: array<long>, hv: array<long>>")
    def _feats(texts: pd.Series) -> pd.DataFrame:
        sigs_out, hv_out = [], []
        for t in texts:
            s = (t or "").lower().strip()
            w = ws.split(s) if s else []
            if len(w) < k:
                sigs_out.append([-1] * num_hashes)
                hv_out.append([])
                continue
            grams = {" ".join(w[i : i + k]) for i in range(len(w) - k + 1)}
            sigs = [
                min(int(hashlib.md5(f"{salt}:{g}".encode()).hexdigest()[:8], 16) for g in grams)
                for salt in range(num_hashes)
            ]
            sigs_out.append(sigs)
            hv_out.append(sorted(int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams))
        return pd.DataFrame({"sigs": sigs_out, "hv": hv_out})

    return _feats(text)


def dedup_minhash_lsh(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """MinHash-LSH near-dup pairs, verified with exact shingle Jaccard.

    Plan shape (the 100 TB story): per-doc signatures are narrow (one
    Arrow-batched text pass); candidate generation explodes band keys and
    self-joins on the band key (equi-join, broadcast-able bucket index at
    low collision rates, AQE-skew-safe); candidate id-pairs are deduped as
    ints BEFORE the shingle-id arrays are attached; only candidates compute
    the exact Jaccard (vectorized sorted-array intersect).
    Returns (a_id, b_id, jaccard) with a_id < b_id, jaccard >= threshold.
    """
    num_hashes = config.MINHASH_NUM_HASHES
    # The feature table is referenced by THREE subplans (band explode + the
    # two per-side hv attach joins); unpersisted, each re-executes the Arrow
    # UDF over the full corpus (and a filter above the UDF stacks a 2nd
    # evaluation into the same branch — measured 6 corpus-scale UDF passes).
    # Persist it once — narrow (id, sigs, hv), MEMORY_AND_DISK — the same
    # lifecycle Spark ML's MinHashLSH uses for its signature table. The
    # handle is registered so long-lived sessions (bench loops, jobs) can
    # release it after materializing the result: release_feature_caches().
    from pyspark import StorageLevel

    base = _register_cache(
        docs.select(
            F.col(id_col).alias("id"), minhash_feats_pandas(F.col(text_col)).alias("f")
        )
        .select("id", F.col("f.sigs").alias("sigs"), F.col("f.hv").alias("hv"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    band_keys = []
    for b in range(num_hashes // config.MINHASH_BAND_SIZE):
        parts = [
            F.element_at(F.col("sigs"), b * config.MINHASH_BAND_SIZE + i + 1).cast("string")
            for i in range(config.MINHASH_BAND_SIZE)
        ]
        band_keys.append(F.concat_ws("_", F.lit(str(b)), *parts))
    # docs with no shingles (sentinel sigs [-1]*K, hv=[]) would ALL collide
    # in every band — O(E²) candidate pairs for E empty/short docs at corpus
    # scale, every one verified to Jaccard 0.0 and discarded. They can never
    # pass a threshold > 0, so drop them before band explosion.
    banded = base.filter(F.size("hv") > 0).select(
        "id", F.explode(F.array(*band_keys)).alias("band")
    )
    left = banded.alias("l")
    right = banded.alias("r")
    cand_ids = (
        left.join(right, (F.col("l.band") == F.col("r.band")) & (F.col("l.id") < F.col("r.id")))
        .select(F.col("l.id").alias("a_id"), F.col("r.id").alias("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )
    cand = (
        cand_ids.join(base.select(F.col("id").alias("a_id"), F.col("hv").alias("hv_a")), "a_id")
        .join(base.select(F.col("id").alias("b_id"), F.col("hv").alias("hv_b")), "b_id")
    )
    jac = _jaccard_sorted_unique(F.col("hv_a"), F.col("hv_b"))
    return (
        cand.select("a_id", "b_id", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= jaccard_threshold)
    )


def corpus_dedup_losers(
    docs: DataFrame,
    mode: str = "exact",
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The GLOBAL drop set of a corpus dedup run: exact-dup non-representatives,
    plus the MinHash-LSH near-dup losers among the exact-kept docs. One
    column (doc_id).

    Near-dup loser semantics by mode:

    - ``minhash``     greedy per-pair: drop the higher id of every LSH pair.
      No two kept docs are direct near-dups, but two kept docs may both be
      near-dups of a dropped third (A~C, B~C keeps A and B).
    - ``minhash-cc``  cluster-level: run :func:`connected_components` over
      the pair graph and keep ONE canonical (min id) per component — the
      transitive-closure semantics standard in training-data dedup (A~B,
      B~C drops both B and C even though A~C was never an LSH pair).
      Strictly drops a superset of ``minhash``'s losers.

    Callers that consume this per-partition (jobs/dedup_job.py's bucket
    loop) MUST materialize it first (plans.checkpoint.materialize_once) —
    it is a full corpus-wide pipeline, not a cheap lookup."""
    exact_losers = dedup_exact(docs, id_col, text_col).filter(~F.col("keep")).select(id_col)
    if mode in ("minhash", "minhash-cc"):
        kept = docs.join(exact_losers, id_col, "left_anti")
        pairs = dedup_minhash_lsh(kept, id_col, text_col, jaccard_threshold=threshold)
        if mode == "minhash-cc":
            near = (
                connected_components(pairs)
                .filter(~F.col("is_canonical"))
                .select(F.col("id").alias(id_col))
            )
        else:
            near = pairs.select(F.col("b_id").alias(id_col)).distinct()
        return exact_losers.unionByName(near).distinct()
    if mode != "exact":
        raise ValueError(f"unknown dedup mode {mode!r}")
    return exact_losers


def connected_components(
    pairs: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iter: int = 50,
) -> DataFrame:
    """Transitive closure of a near-dup pair graph → (id, cluster_id,
    is_canonical), cluster_id = min id in the component.

    Real dedup pipelines need this step after LSH: A~B and B~C does not
    put A and C in one LSH pair, but only one of {A,B,C} should survive.
    Pregel-lite min-label propagation with POINTER DOUBLING: each round
    pushes labels one hop along edges AND shortcuts label→label-of-label
    (two joins + one min-aggregation), so convergence is O(log diameter)
    rather than O(diameter). LSH near-dup components are band-induced
    near-cliques (2–3 rounds), but the doubling step makes pathological
    chain graphs (e.g. sorted-id exact-dup runs) safe too: a 10^6-long
    chain resolves in ~20 rounds instead of 10^6. Each round's labels
    are materialized with ``localCheckpoint(eager=True)``: iterative
    self-referencing plans otherwise nest union+join+agg one level deeper
    per round and Catalyst re-analysis goes super-linear (measured: the
    persist-only variant stalled >5 min on a 60-node random graph; the
    checkpointed one finishes in seconds). On a long-lived cluster job,
    swap localCheckpoint for reliable ``checkpoint()`` against the job's
    checkpoint dir — same truncation, executor-loss-tolerant. The
    driver-side loop holds only ONE scalar per round (the count of ids
    whose label changed — type-agnostic, so STRING ids converge correctly
    and huge int ids cannot overflow an accumulator; an earlier sum-based
    check cast string labels to NULL and declared victory after one
    round) — no collect of vertex data. Raises after ``max_iter`` rounds
    instead of silently emitting a half-propagated clustering."""
    from pyspark import StorageLevel

    fwd = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    rev = pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
    edges = fwd.unionByName(rev).distinct().persist(StorageLevel.MEMORY_AND_DISK)
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        msgs = edges.join(labels, edges.src == labels.id).select(
            F.col("dst").alias("id"), "label"
        )
        # pointer doubling: id's label jumps to its label's own label
        # (labels only ever decrease toward the component min, so the
        # shortcut is always valid and halves the remaining path length)
        l2 = labels.select(F.col("id").alias("mid"), F.col("label").alias("l2"))
        shortcut = (
            labels.join(l2, labels.label == l2.mid)
            .select("id", F.col("l2").alias("label"))
        )
        new_labels = (
            labels.unionByName(msgs)
            .unionByName(shortcut)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            # lazy: the convergence-check action right below materializes
            # the checkpoint, so each round runs ONE job instead of two
            .localCheckpoint(eager=False)
        )
        # type-agnostic fixpoint test: count ids whose label changed
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.id") == F.col("o.id"))
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:  # min-labels only ever decrease; fixpoint
            edges.unpersist()
            return labels.select(
                F.col("id"),
                F.col("label").alias("cluster_id"),
                (F.col("label") == F.col("id")).alias("is_canonical"),
            )
    edges.unpersist()  # do not leak the edge cache on the failure path
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations "
        "(pathological chain graph? raise max_iter)"
    )


def keep_best_in_cluster(
    docs: DataFrame,
    clusters: DataFrame,
    score: Column,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware canonical selection: within each near-dup cluster keep
    the member with the HIGHEST ``score`` (ties broken by min id), not the
    min-id member. Min-id canonicals are arbitrary — when a page is crawled
    five times the earliest copy is often the most truncated one; real
    curation pipelines keep the best-quality capture and drop the rest.

    ``clusters`` is ``connected_components`` output; ``score`` is any
    deterministic Column over ``docs`` (e.g. the composite quality score).
    Returns (id, cluster_id, is_canonical) for EVERY doc: unclustered docs
    are their own canonical and never enter the window.

    Scale: the rank window shuffles only cluster MEMBERS (the near-dup
    minority of the corpus); the unclustered majority passes through a
    broadcast-able anti-join with no wide dependency. LSH clusters are
    small (band-induced near-cliques), so no window partition is ever a
    straggler.
    """
    member = clusters.select(F.col("id").alias(id_col), "cluster_id")
    win = Window.partitionBy("cluster_id").orderBy(
        F.col("_q").desc(), F.col(id_col).asc()
    )
    best = (
        docs.join(member, id_col, "inner")
        .withColumn("_q", score)
        .withColumn("_rn", F.row_number().over(win))
        .select(
            F.col(id_col).alias("id"),
            "cluster_id",
            (F.col("_rn") == 1).alias("is_canonical"),
        )
    )
    singletons = docs.join(member.select(id_col), id_col, "left_anti").select(
        F.col(id_col).alias("id"),
        F.col(id_col).alias("cluster_id"),
        F.lit(True).alias("is_canonical"),
    )
    return best.unionByName(singletons)


# --- n-gram Jaccard (inverted-index join) ------------------------------------


# explicit-broadcast ceiling for the shingle-vocabulary (h, df) table:
# ~32 bytes serialized per entry → 10^7 entries ≈ 320 MB, the upper edge of
# what a driver/executor comfortably ships as a broadcast.  Past it the
# DF-rank join falls back to a shuffle join on h — same plan semantics.
VOCAB_BROADCAST_MAX = 10_000_000


def dedup_ngram_jaccard(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.1,
    vocab_broadcast_max: int = VOCAB_BROADCAST_MAX,
) -> DataFrame:
    """All near-dup pairs by exact shingle Jaccard — prefix-filtered
    inverted index (Chaudhuri/Bayardo/Xiao prefix-filtering principle).

    EXACT at any threshold t, yet never indexes hot shingles: order each
    document's shingles by (global document frequency ASC, shingle ASC)
    and index only the first |S| - ceil(t*|S|) + 1 of them. Two documents
    with J >= t MUST share a prefix element (if their smallest common
    shingle under the global order sat past both prefixes, the overlap
    could not reach ceil(t*max(|A|,|B|)) — contradiction), so candidate
    generation on prefixes is complete. Stopword-like shingles (highest
    DF) sort LAST and fall outside every non-trivial prefix — the f² hot-
    shingle candidate blowup the raw inverted index suffers is structurally
    gone, no lossy DF cap needed. A size filter (t*|A| <= |B| <= |A|/t)
    prunes further; exact Jaccard over the full shingle sets verifies.

    Cost: one DF aggregation + one join to rank shingles; candidates are
    equi-joined on prefix shingles only (int-pair dedup before the wide
    arrays are attached), then PPJoin's positional bound prunes matches
    whose best-case overlap cannot reach the α(t) requirement before any
    verify work happens — still exact (see inline proof).
    """
    t = float(jaccard_threshold)
    # intern shingles to 60-bit md5 ints: distinct strings → distinct ints
    # (collision odds ~1e-10 at 10^4-shingle vocabularies), and every join /
    # sort / intersect downstream runs on longs instead of ~30-char strings.
    # Arrow-batched hashing: the expression form (element_at k-gram build +
    # per-shingle md5 in interpreted higher-order lambdas) costs ~5s per
    # corpus pass at sf0.1 and this plan walks the corpus three times.
    base2 = _register_cache(
        docs.select(
            F.col(id_col).alias("id"),
            shingle_hashes_pandas(F.col(text_col)).alias("hv"),
        )
        .select("id", F.size("hv").alias("n"), "hv")
        .persist()
    )
    inv = base2.select("id", "n", F.explode("hv").alias("h"))
    dfreq = inv.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    # the broadcast hint is GATED on a one-pass HLL estimate of the
    # vocabulary size (approx_count_distinct: map-side sketch merge, and the
    # job doubles as the materialization of the persisted feature table the
    # plan reuses three times).  Open-vocab corpora past the ceiling get a
    # shuffle join on h instead — same semantics, no 320 MB+ broadcast.
    est_vocab = int(
        inv.agg(F.approx_count_distinct("h").alias("v")).first()["v"]
    )
    dfreq_side = F.broadcast(dfreq) if est_vocab <= vocab_broadcast_max else dfreq
    ranked = inv.join(dfreq_side, "h")
    w = Window.partitionBy("id").orderBy(F.col("df").asc(), F.col("h").asc())
    # ceil with an epsilon so float slop (0.2*15 = 3.0000000000000004) can
    # never OVERestimate ceil(t*n) and truncate a required prefix element
    prefix_len = F.col("n") - F.ceil(F.lit(t) * F.col("n") - F.lit(1e-9)).cast("int") + 1
    pref = (
        ranked.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= prefix_len)
        .select("id", "n", "h", "rn")
    )
    l, r = pref.alias("l"), pref.alias("r")
    # PPJoin positional filter (Xiao/Wang/Lin/Yu, WWW'08): a match on the
    # shingle at prefix position i of A and j of B bounds the total overlap
    # by 1 + min(|A|-i, |B|-j); J >= t requires overlap >= α =
    # ceil(t·(|A|+|B|)/(1+t)). EXACT because for every qualifying pair the
    # FIRST common shingle under the global DF order lies inside both
    # prefixes and its positional bound >= the true overlap >= α — the
    # pair survives via that match row even if later matches are filtered
    # (keep-if-any-match-passes, then pair dedup).
    ubound = 1 + F.least(F.col("l.n") - F.col("l.rn"), F.col("r.n") - F.col("r.rn"))
    alpha = F.ceil(
        F.lit(t / (1.0 + t)) * (F.col("l.n") + F.col("r.n")) - F.lit(1e-9)
    )
    cand_ids = (
        l.join(
            r,
            (F.col("l.h") == F.col("r.h"))
            & (F.col("l.id") < F.col("r.id"))
            # size filter: J >= t forces t*|A| <= |B| and t*|B| <= |A|
            & (F.lit(t) * F.col("l.n") <= F.col("r.n") + F.lit(1e-9))
            & (F.lit(t) * F.col("r.n") <= F.col("l.n") + F.lit(1e-9))
            & (ubound >= alpha),
        )
        .select(F.col("l.id").alias("a_id"), F.col("r.id").alias("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )
    cand = (
        cand_ids.join(base2.select(F.col("id").alias("a_id"), F.col("hv").alias("hv_a")), "a_id")
        .join(base2.select(F.col("id").alias("b_id"), F.col("hv").alias("hv_b")), "b_id")
    )
    jac = _jaccard_sorted_unique(F.col("hv_a"), F.col("hv_b"))
    return (
        cand.select("a_id", "b_id", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= jaccard_threshold)
    )


def _jaccard_sorted_unique(a: Column, b: Column) -> Column:
    """Exact Jaccard of two SORTED, DUPLICATE-FREE long arrays — Arrow-
    batched np.intersect1d(assume_unique) instead of Spark's per-row
    array_intersect hash-set build (~4× faster on 40-element arrays)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _jac(va: pd.Series, vb: pd.Series) -> pd.Series:
        out = np.empty(len(va), dtype=np.float64)
        for i, (x, y) in enumerate(zip(va, vb)):
            if x is None or y is None or (len(x) == 0 and len(y) == 0):
                out[i] = 0.0
                continue
            inter = np.intersect1d(x, y, assume_unique=True).size
            union = len(x) + len(y) - inter
            out[i] = inter / union if union > 0 else 0.0
        return pd.Series(out)

    return _jac(a, b)


# --- simhash -----------------------------------------------------------------

SIMHASH_BITS = 60  # 15 md5 hex digits → exact int64, engine-neutral


def _word_hash60(w: Column) -> Column:
    return F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long")


def simhash(text: Column) -> Column:
    """60-bit SimHash over distinct words: bit b of the result is 1 iff the
    sum over words of ±1 (word-hash bit b) is positive."""
    w = F.array_distinct(words_of(text))
    hashes = F.transform(w, _word_hash60)

    def vote(b: int):
        # shiftright's bit count must be a Python int (fixed 60-bit loop)
        return F.aggregate(
            hashes,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )

    out = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        out = out + F.when(vote(b) > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
    return out


def dedup_simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                  prefix_bits: int = 16) -> DataFrame:
    """SimHash signatures + coarse bucketing by the top prefix bits
    (candidate near-dups share a bucket). Returns (doc_id, simhash, bucket)."""
    sh = simhash(F.col(text_col))
    return docs.select(
        F.col(id_col),
        sh.alias("simhash"),
        F.shiftright(sh, SIMHASH_BITS - prefix_bits).alias("bucket"),
    )


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_bits: int = 16,
) -> DataFrame:
    """Candidate near-dup PAIRS from banded SimHash: bucket equi-join on the
    top ``prefix_bits`` signature bits, verified by full 60-bit Hamming
    distance ≤ ``max_hamming``. The bucket join is the scale contract —
    pairs form only inside a bucket (expected bucket size ≈ N / 2^prefix),
    never all-pairs; recall is bounded by P(every prefix bit agrees), the
    standard Charikar-banding trade-off that :func:`pair_prf` measures."""
    sh = dedup_simhash(docs, id_col=id_col, text_col=text_col, prefix_bits=prefix_bits)
    left, right = sh.alias("l"), sh.alias("r")
    ham = F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash")))
    return (
        left.join(
            right,
            (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .filter(ham <= max_hamming)
        .select(
            F.col(f"l.{id_col}").alias("a_id"),
            F.col(f"r.{id_col}").alias("b_id"),
            ham.alias("hamming"),
        )
    )


def doc_sample(
    docs: DataFrame, mod: int = 4, bucket: int = 0, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic md5-bucket document sample: keep rows whose salted
    md5(doc_id) falls in one of ``mod`` uniform buckets (rate 1/mod).
    Engine-neutral (the _md5_int formula replays in DuckDB), stable
    across runs/partitionings — the sampling gate for scorecards like
    :func:`pair_prf` whose ground-truth tier is quadratic-ish: sampling
    docs at rate s keeps s² of the pair universe while leaving per-tier
    precision/recall an unbiased estimate (every tier is restricted to
    the SAME sample×sample pair universe, and the sample is uniform in
    doc identity, independent of content)."""
    h = _md5_int(F.col(id_col).cast("string"), 97)
    return docs.filter(h % F.lit(mod) == F.lit(bucket))


def pair_prf(truth: DataFrame, pred: DataFrame, tier: str) -> DataFrame:
    """One-row precision/recall scorecard of a candidate-pair set against a
    ground-truth pair set (both (a_id, b_id), a<b): tp/fp/fn via one
    full-outer join, precision = tp/(tp+fp), recall = tp/(tp+fn).
    The 'measure, don't guess' harness for the approximate dedup tiers —
    run it at a small SF against the exact PPJoin truth before trusting a
    banding config at the full corpus.

    Both inputs are deduplicated on (a_id, b_id) here — a repeated pair
    would otherwise fan out through the full-outer join and inflate
    tp/fp/fn silently. The oracle twin carries the matching DISTINCT."""
    t = truth.select("a_id", "b_id").dropDuplicates(["a_id", "b_id"]).withColumn("t", F.lit(1))
    p = pred.select("a_id", "b_id").dropDuplicates(["a_id", "b_id"]).withColumn("p", F.lit(1))
    j = t.join(p, ["a_id", "b_id"], "full_outer")
    # coalesce: Spark SUM over zero rows is NULL, the oracle's count(*) is 0
    agg = j.agg(
        F.coalesce(
            F.sum(
                F.when(F.col("t").isNotNull() & F.col("p").isNotNull(), 1).otherwise(0)
            ),
            F.lit(0),
        ).alias("tp"),
        F.coalesce(F.sum(F.when(F.col("t").isNull(), 1).otherwise(0)), F.lit(0)).alias("fp"),
        F.coalesce(F.sum(F.when(F.col("p").isNull(), 1).otherwise(0)), F.lit(0)).alias("fn"),
    )
    return agg.select(
        F.lit(tier).alias("tier"),
        "tp",
        "fp",
        "fn",
        F.when(
            (F.col("tp") + F.col("fp")) > 0,
            F.col("tp").cast("double") / (F.col("tp") + F.col("fp")),
        )
        .otherwise(F.lit(0.0))
        .alias("precision"),
        F.when(
            (F.col("tp") + F.col("fn")) > 0,
            F.col("tp").cast("double") / (F.col("tp") + F.col("fn")),
        )
        .otherwise(F.lit(0.0))
        .alias("recall"),
    )


# --- embedding cosine near-dup ------------------------------------------------


def quantized_cosine_pandas(a: Column, b: Column, scale: int = 1000) -> Column:
    """Cosine over integer-quantized vectors, Arrow-batched: each component
    becomes round(x*scale) as int64, dot and norms are exact int64 sums
    (order-independent), and only the final sqrt/division is floating —
    so it equals the DuckDB oracle (``_sql_quantize`` + ``_sql_qcos`` in
    ``plans/entry_queries.py``) to the last bit.

    Rounding is half-away-from-zero, as DuckDB's round() is — numpy's own
    round() is banker's and would differ on exact .5 ties. It is computed
    as floor(m+0.5) / ceil(m-0.5), which differs from a correctly rounded
    .5 tie only for doubles ADJACENT to one (the
    Math.round(0.49999999999999994) class); quantized inputs never hit it.
    A null vector, a length mismatch or a zero norm yields 0.0.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        la = np.array([len(x) if x is not None else -1 for x in va])
        lb = np.array([len(x) if x is not None else -2 for x in vb])
        valid = (la >= 0) & (la == lb) & (la > 0)
        out = np.zeros(len(va), dtype=np.float64)

        def quant(rows):
            m = np.stack([np.asarray(x, dtype=np.float64) for x in rows]) * scale
            return np.where(m >= 0, np.floor(m + 0.5), np.ceil(m - 0.5)).astype(np.int64)

        # stack requires a uniform width → process one vector length at a time
        for dim in np.unique(la[valid]):
            mask = valid & (la == dim)
            idx = np.flatnonzero(mask)
            qa = quant(va.iloc[idx])
            qb = quant(vb.iloc[idx])
            dot = (qa * qb).sum(axis=1)
            na = (qa * qa).sum(axis=1)
            nb = (qb * qb).sum(axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                c = dot / (np.sqrt(na.astype(np.float64)) * np.sqrt(nb.astype(np.float64)))
            out[idx] = np.where((na > 0) & (nb > 0), c, 0.0)
        return pd.Series(out)

    return _cos(a, b)


def dedup_embedding_cosine(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_blocks: int = 8,
) -> DataFrame:
    """EXACT near-dup pairs by quantized cosine >= threshold — blocked GEMM.

    Exact all-pairs similarity is Θ(N²) flops at ANY threshold below ~0.7
    (sign-LSH measurably cannot separate cos 0.4 from cos 0.0: best
    recall-0.99 configuration still touches 74% of all pairs). What CAN be
    chosen is the plan shape, and the row-level theta-join (l.id < r.id →
    BroadcastNestedLoopJoin materializing N² pair ROWS through a per-pair
    UDF) is the worst one. Instead:

      1. hash each vector into one of B blocks (narrow),
      2. replicate each vector to the B block-PAIRS it participates in
         (shuffle = N·B flat Arrow rows — no nested collect_list),
      3. one numpy GEMM per block pair inside applyInPandas: Qa @ Qb.T over
         int64-quantized vectors, exact norms, emit only pairs above the
         threshold.

    N² scalar pair evaluations become B(B+1)/2 vectorized matrix products;
    tasks are uniform (hash blocking), memory per task is bounded by
    2·(N/B)·dim, and B scales as N grows (B ≈ N·dim·8 / task_mem). For
    dedup semantics at threshold >= ~0.8 prefer :func:`dedup_embedding_lsh`
    — subquadratic candidates; this operator is the exact form and the
    recall yardstick.

    Returns (a_id, b_id, cosine) with a_id < b_id, round(cosine,6) >= threshold.

    Id contract: ``id_col`` must be integer-typed (the GEMM kernel carries
    ids as an int64 ndarray and the output schema is ``a_id long``). For
    string ids, join a dense ``monotonically_increasing_id`` surrogate
    before calling and map back after — do not widen the kernel schema.
    """
    nb = num_blocks
    # block by md5-prefix of the id (engine-neutral, uniform); the blocking
    # never affects the RESULT, only task shapes.
    block = (F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast("long") % nb).cast("int")
    base = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"), block.alias("b"))
    # replicate each vector to every block pair (min(b,o), max(b,o))
    pairs = base.select(
        "id", "v", "b",
        F.explode(F.sequence(F.lit(0), F.lit(nb - 1))).alias("o"),
    ).select(
        "id", "v", "b",
        # pk is distinct per o (o==b → the diagonal pair, once) — no dedup
        # shuffle needed before the groupBy
        (F.least("b", "o") * nb + F.greatest("b", "o")).alias("pk"),
    )

    scale = 1000
    thr = float(threshold)

    def gemm(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        (pk,) = key
        pi, pj = divmod(int(pk), nb)
        ids = np.asarray(pdf["id"].tolist(), dtype=np.int64)
        blocks = np.asarray(pdf["b"].tolist(), dtype=np.int64)
        # null embeddings behave as zero vectors (cosine 0 → never a pair),
        # matching the all-pairs oracle's NULL-dot → 0.0 arithmetic
        dim = next((len(x) for x in pdf["v"] if x is not None), 1)
        m = np.stack(
            [np.zeros(dim) if x is None else np.asarray(x, dtype=np.float64)
             for x in pdf["v"]]
        ) * scale
        q = np.where(m >= 0, np.floor(m + 0.5), np.ceil(m - 0.5))
        norms = np.sqrt((q * q).sum(axis=1))
        if pi == pj:
            ia = ib = np.arange(len(ids))
        else:
            ia = np.flatnonzero(blocks == pi)
            ib = np.flatnonzero(blocks == pj)
        if len(ia) == 0 or len(ib) == 0:
            return pd.DataFrame({"a_id": [], "b_id": [], "cosine": []}).astype(
                {"a_id": "int64", "b_id": "int64", "cosine": "float64"}
            )
        g = q[ia] @ q[ib].T
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = g / np.outer(norms[ia], norms[ib])
        cos = np.where(np.outer(norms[ia] > 0, norms[ib] > 0), cos, 0.0)
        aid = ids[ia][:, None] + np.zeros_like(cos, dtype=np.int64)
        bid = ids[ib][None, :] + np.zeros_like(cos, dtype=np.int64)
        # loose pre-filter (exact >= on the rounded value happens in Spark);
        # a same-block GEMM holds each pair twice → keep the triangle, while
        # a cross-block GEMM holds each unordered pair once → keep all.
        # Margin 2e-6 > half a round(·,6) step: a raw cosine in
        # [thr-5e-7, thr) rounds UP to pass the final filter (and the
        # all-pairs oracle), so the pre-filter must not drop it.
        keep = cos >= thr - 2e-6
        if pi == pj:
            keep &= aid < bid
        lo = np.minimum(aid[keep], bid[keep])
        hi = np.maximum(aid[keep], bid[keep])
        return pd.DataFrame({"a_id": lo, "b_id": hi, "cosine": cos[keep]})

    out = pairs.groupBy("pk").applyInPandas(gemm, "a_id long, b_id long, cosine double")
    return out.select("a_id", "b_id", F.round(F.col("cosine"), 6).alias("cosine")).filter(
        F.col("cosine") >= threshold
    )


def dedup_embedding_lsh(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    bits: int = 8,
    sets: int = 8,
) -> DataFrame:
    """APPROXIMATE near-dup pairs — the subquadratic scale path for real
    dedup thresholds (>= ~0.8).

    L independent sign-LSH signature sets of H bits; a pair is a candidate
    iff it collides in ANY set (equi-join on (set, signature) — never a
    cross product). Exact quantized cosine verifies candidates. Per-set
    collision probability at cosine c is (1 - arccos(c)/pi)^H; recall
    across L sets is 1-(1-p)^L — e.g. c=0.9: 0.857 per bit, 0.29 per
    8-bit set, ~0.94 across 8 sets. Raise ``sets`` for recall, ``bits``
    for pruning. Measured against the exact twin in tests
    (test_training_ops).
    """
    from ocr_spark.operators.similarity import multiset_signatures_pandas

    base = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    sigs = base.select(
        "id",
        "v",
        multiset_signatures_pandas(F.col("v"), bits=bits, sets=sets).alias("sigs"),
    )
    keyed = sigs.select(
        "id", "v", F.posexplode("sigs").alias("set", "sig")
    )
    l, r = keyed.alias("l"), keyed.alias("r")
    cand_ids = (
        l.join(
            r,
            (F.col("l.set") == F.col("r.set"))
            & (F.col("l.sig") == F.col("r.sig"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("a_id"), F.col("r.id").alias("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )
    cand = (
        cand_ids.join(base.select(F.col("id").alias("a_id"), F.col("v").alias("va")), "a_id")
        .join(base.select(F.col("id").alias("b_id"), F.col("v").alias("vb")), "b_id")
    )
    cos = quantized_cosine_pandas(F.col("va"), F.col("vb"))
    return cand.select("a_id", "b_id", F.round(cos, 6).alias("cosine")).filter(
        F.col("cosine") >= threshold
    )


def semdedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_cells: int = 16,
    scale: int = 1000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space, then inside each cluster drop every example whose
    cosine to another cluster member is >= threshold, keeping the member
    with the LOWEST cosine to the cluster centroid (the paper's keep-low
    policy — the example farthest from the cluster's "center of mass"
    carries the most marginal information; ties break to the lowest id).

    This is the published semantic complement to the lexical family above:
    MinHash/SimHash/ngram catch re-typed copies, embedding-cosine catches
    global near-dups, SemDeDup catches *templated* semantic duplicates
    cheaply by confining the quadratic pair work within clusters —
    Σ cᵢ² ≪ N² for a k-way clustering, the paper's scaling argument.
    Cross-cluster duplicates are invisible BY DESIGN (documented recall
    trade: the paper accepts it for a 50k-cluster LAION run).

    Deterministic + oracle-exact: the codebook is the seeded IVF scheme
    (:func:`~ocr_spark.operators.similarity.ivf_codebook` — the n_cells
    lowest-id vectors, no RNG), assignment is one Arrow GEMM pass (NO
    shuffle), and all cosines are int64-quantized (exact in float64), so
    a DuckDB twin reproduces every keep/drop bit-for-bit. The per-cell
    pairwise GEMM runs inside applyInPandas with row-block iteration
    (B=1024) bounding peak memory at B×|cell|; n_cells is the scale knob
    (grow it with N — the paper uses √N-order cluster counts), and the
    rounding-margin pre-filter (2e-6 > half a round(·,6) step) matches
    :func:`dedup_embedding_cosine` so no boundary pair is lost.

    Returns one row per input: (id_col, cell int, cent_cos double
    rounded to 6, kept boolean). Id contract: integer-typed ids, as in
    the other GEMM kernels (map string ids through a surrogate)."""
    from ocr_spark.operators.similarity import ivf_cell_assign, ivf_codebook

    cents = ivf_codebook(emb, n_cells, id_col, vec_col, scale)
    asgn = (
        emb.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            ivf_cell_assign(F.col(vec_col), cents, scale).alias("a"),
        )
        .select("id", "v", F.col("a.cell").alias("cell"), F.col("a.cos").alias("cent_cos"))
    )
    thr = float(threshold)

    def pairs(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ids = np.asarray(pdf["id"].tolist(), dtype=np.int64)
        cc = np.asarray(pdf["cent_cos"].tolist(), dtype=np.float64)
        # null embeddings land in cell 0 with cent_cos 0 (assign pass) and
        # must behave as zero vectors here too (cosine 0 to everything,
        # matching the oracle's NULL-dot → 0.0), not crash the stack
        dim = next((len(x) for x in pdf["v"] if x is not None), 1)
        m = np.stack(
            [np.zeros(dim) if x is None else np.asarray(x, dtype=np.float64)
             for x in pdf["v"]]
        ) * scale
        q = np.where(m >= 0, np.floor(m + 0.5), np.ceil(m - 0.5))
        norms = np.sqrt((q * q).sum(axis=1))
        cols = {"a_id": [], "b_id": [], "a_cent": [], "b_cent": [], "cosine": []}
        n = len(ids)
        B = 1024  # row-block bound: peak pair matrix is B x n, not n x n
        for s in range(0, n, B):
            e = min(s + B, n)
            g = q[s:e] @ q.T
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = g / np.outer(norms[s:e], norms)
            cos = np.where(np.outer(norms[s:e] > 0, norms > 0), cos, 0.0)
            keep = (cos >= thr - 2e-6) & (ids[s:e][:, None] < ids[None, :])
            ri, ci = np.nonzero(keep)
            cols["a_id"].append(ids[s:e][ri])
            cols["b_id"].append(ids[ci])
            cols["a_cent"].append(cc[s:e][ri])
            cols["b_cent"].append(cc[ci])
            cols["cosine"].append(cos[keep])
        return pd.DataFrame(
            {k: np.concatenate(v) if v else np.array([]) for k, v in cols.items()}
        ).astype(
            {"a_id": "int64", "b_id": "int64", "a_cent": "float64",
             "b_cent": "float64", "cosine": "float64"}
        )

    dup_pairs = asgn.groupBy("cell").applyInPandas(
        pairs, "a_id long, b_id long, a_cent double, b_cent double, cosine double"
    ).filter(F.round(F.col("cosine"), 6) >= thr)
    # keep-low: the pair member with the HIGHER centroid cosine loses
    loser = F.when(
        (F.col("a_cent") > F.col("b_cent"))
        | ((F.col("a_cent") == F.col("b_cent")) & (F.col("a_id") > F.col("b_id"))),
        F.col("a_id"),
    ).otherwise(F.col("b_id"))
    losers = dup_pairs.select(loser.alias("id")).distinct()
    return (
        asgn.join(losers.withColumn("is_loser", F.lit(True)), "id", "left")
        .select(
            F.col("id").alias(id_col),
            "cell",
            F.round(F.col("cent_cos"), 6).alias("cent_cos"),
            F.coalesce(~F.col("is_loser"), F.lit(True)).alias("kept"),
        )
    )


# --- cross-document line dedup (C4-style) ------------------------------------


def dedup_lines_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide LINE dedup (the C4-family cleanup step): a non-blank
    line that appears in multiple documents survives only in its canonical
    occurrence — the (min doc_id, min position) one — and is dropped
    everywhere else. Complements document-level dedup: boilerplate
    sentences shared across thousands of pages (cookie banners, footers)
    never form document-level near-dups but still flood a training corpus.

    Plan shape: index-then-apply (:func:`dup_line_index` +
    :func:`apply_line_dedup`) — the canonical occurrence per duplicated
    line comes from a groupBy+min aggregation, which PARTIAL-aggregates
    map-side, so a cookie-banner line repeated across millions of pages
    costs one partial row per map task instead of funneling every
    occurrence through a single window partition (the first
    implementation's hot-key failure mode). Blank lines are structural
    and always kept.

    Returns (doc_id, text = deduped, n_lines, n_removed)."""
    idx = dup_line_index(docs, id_col, text_col)
    out = apply_line_dedup(docs.select(F.col(id_col), F.col(text_col)), idx, id_col, text_col)
    return out.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("text"),
        "n_lines",
        F.col("n_removed_lines").alias("n_removed"),
    )


def dup_line_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The GLOBAL side table for resumable line dedup: one row per
    DUPLICATED non-blank line — (line_md5, canonical_doc_id,
    canonical_pos). Globally-unique lines are absent, so the index is far
    smaller than the corpus (it scales with the *duplicated* line
    vocabulary) and joins per-bucket like the document loser set.
    Materialize once (plans.checkpoint.materialize_once) before a bucket
    loop — it is a corpus-wide aggregation."""
    lines = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")).alias(
            "pos", "line"
        ),
    ).withColumn("norm", F.trim(F.col("line")))
    return (
        lines.filter(F.col("norm") != "")
        .groupBy(F.md5(F.col("norm")).alias("line_md5"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.struct("doc_id", "pos")).alias("c"),
        )
        .filter(F.col("n") > 1)
        .select(
            "line_md5",
            F.col("c.doc_id").alias("canonical_doc_id"),
            F.col("c.pos").alias("canonical_pos"),
        )
    )


def apply_line_dedup(
    part: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Bucket-local application of :func:`dup_line_index`: drop every
    occurrence of an indexed line except the canonical one. Matches
    :func:`dedup_lines_corpus` exactly when the index covers the same
    corpus (pinned by test). Join is keyed on line_md5 against the small
    index — broadcast-able at real duplicate rates."""
    lines = part.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")).alias(
            "pos", "line"
        ),
    ).withColumn("norm", F.trim(F.col("line")))
    joined = lines.join(
        index, F.md5(lines.norm) == index.line_md5, "left"
    ).withColumn(
        "keep",
        (F.col("norm") == "")
        | F.col("line_md5").isNull()
        | (
            (F.col("doc_id") == F.col("canonical_doc_id"))
            & (F.col("pos") == F.col("canonical_pos"))
        ),
    )
    out = (
        joined.groupBy("doc_id")
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.when(F.col("keep"), F.struct("pos", "line")))
                    ),
                    lambda s: s["line"],
                ),
            ).alias(text_col),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.when(~F.col("keep"), 1).otherwise(0)).cast("long").alias("n_removed_lines"),
        )
    )
    return part.drop(text_col).join(out.withColumnRenamed("doc_id", id_col), id_col)


# --- interleaved span-level dedup (the north-rule corpus shape) ---------------


def _span_norm() -> Column:
    return F.trim(F.coalesce(F.col("text"), F.lit("")))


def dup_span_index(
    docs: DataFrame, id_col: str = "doc_id", spans_col: str = "spans"
) -> DataFrame:
    """The GLOBAL side table for interleaved SPAN dedup: one row per
    duplicated non-blank TEXT span — (span_md5, canonical_doc_id,
    canonical_offset), canonical = the (min doc_id, min offset)
    occurrence. The line-dedup discipline (dup_line_index) applied to the
    north-rule corpus shape directly, so media spans and span order never
    leave the document: dedup happens at span granularity and the
    (kind, media_ref, order) interleaving stays intact. groupBy+min
    PARTIAL-aggregates map-side — a nav span repeated across millions of
    pages costs one partial row per map task, never a hot window key.
    Globally-unique spans are absent, so the index scales with the
    duplicated-span vocabulary and is broadcast-able at real dup rates;
    materialize once before a bucket loop for resumable runs."""
    rows = span_rows(docs, id_col, spans_col).filter(F.col("kind") != "media")
    rows = rows.withColumn("norm", _span_norm())
    return (
        rows.filter(F.col("norm") != "")
        .groupBy(F.md5(F.col("norm")).alias("span_md5"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.struct("doc_id", "offset")).alias("c"),
        )
        .filter(F.col("n") > 1)
        .select(
            "span_md5",
            F.col("c.doc_id").alias("canonical_doc_id"),
            F.col("c.offset").alias("canonical_offset"),
        )
    )


def dedup_spans_corpus(
    docs: DataFrame, id_col: str = "doc_id", spans_col: str = "spans"
) -> DataFrame:
    """Corpus-wide TEXT-SPAN dedup on the interleaved corpus: a non-blank
    text span duplicated anywhere in the corpus survives only at its
    canonical (min doc_id, min offset) occurrence; media spans and blank
    text spans are structural and always kept, and surviving spans are
    re-ranked per document in canonical order (``operators/spans``) so the
    output is again a dense (kind, text, media_ref, order) sequence. This is C4 line-dedup lifted to the span
    shape: cross-page boilerplate that survives extraction (cookie
    banners, share bars) is removed WITHOUT flattening documents to text,
    so downstream interleaved packing still sees the media refs in
    order.

    Returns exploded kept spans (doc_id, kind, text, media_ref, ord)."""
    idx = dup_span_index(docs, id_col, spans_col)
    rows = span_rows(docs, id_col, spans_col).withColumn("norm", _span_norm())
    joined = rows.join(idx, F.md5(F.col("norm")) == idx.span_md5, "left")
    keep = (
        (F.col("kind") == "media")
        | (F.col("norm") == "")
        | F.col("span_md5").isNull()
        | (
            (F.col("doc_id") == F.col("canonical_doc_id"))
            & (F.col("offset") == F.col("canonical_offset"))
        )
    )
    kept = joined.filter(keep)
    return kept.select("doc_id", "kind", "text", "media_ref", span_rank().alias("ord"))


# --- per-host template-line removal (site boilerplate) ------------------------


def host_template_index(
    docs: DataFrame,
    host_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_frac: float = 0.5,
    min_docs: int = 5,
) -> DataFrame:
    """TEMPLATE lines per host: a non-blank line appearing in >= min_frac
    of a host's documents (hosts with >= min_docs docs) is site template
    (nav, footer, cookie banner) — the CCNet/Dolma per-site boilerplate
    rule. Frequency WITHIN the host separates template from content: a
    content line rarely repeats across a site's pages, while templates
    appear on (nearly) all of them, so unlike global line dedup this
    drops ALL occurrences, not all-but-canonical.

    Plan shape: per-(host, line, doc) pre-aggregation (dedups within-doc
    repeats map-side) -> (host, line) doc counts -> join per-host doc
    totals (a tiny groupBy on the host key, broadcast-able at web scale:
    hosts number millions, not trillions). Returns (host, line_md5)."""
    lines = docs.select(
        F.col(host_col).alias("host"),
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")).alias("line"),
    ).withColumn("norm", F.trim(F.col("line")))
    per_doc = (
        lines.filter(F.col("norm") != "")
        .groupBy("host", F.md5(F.col("norm")).alias("line_md5"), "doc_id")
        .agg(F.count(F.lit(1)).alias("_occ"))
    )
    line_docs = per_doc.groupBy("host", "line_md5").agg(
        F.count(F.lit(1)).alias("n_docs_with_line")
    )
    host_totals = docs.groupBy(F.col(host_col).alias("host")).agg(
        F.count(F.lit(1)).alias("host_docs")
    )
    return (
        line_docs.join(F.broadcast(host_totals), "host")
        .filter(
            (F.col("host_docs") >= min_docs)
            & (
                F.col("n_docs_with_line").cast("double")
                >= F.lit(min_frac) * F.col("host_docs").cast("double")
            )
        )
        .select("host", "line_md5")
    )


def apply_host_templates(
    part: DataFrame,
    index: DataFrame,
    host_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Bucket-local application of :func:`host_template_index`: drop every
    occurrence of an indexed (host, line) pair; blank lines structural.
    Content-keyed — (host, md5(trim(line))) — so it composes position-
    independently with the other text-rewriting curation stages. Join
    against the small template index is broadcast (it scales with
    per-site template vocabulary). Returns ``part`` with ``text_col``
    cleaned and an ``n_template_removed`` count; other columns ride
    through."""
    lines = part.select(
        F.col(id_col).alias("doc_id"),
        F.col(host_col).alias("host"),
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")).alias(
            "pos", "line"
        ),
    ).withColumn("norm", F.trim(F.col("line")))
    joined = lines.join(
        F.broadcast(index.withColumnRenamed("host", "i_host")),
        (F.col("host") == F.col("i_host"))
        & (F.md5(F.col("norm")) == F.col("line_md5")),
        "left",
    ).withColumn("keep", (F.col("norm") == "") | F.col("line_md5").isNull())
    out = joined.groupBy("doc_id").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(F.col("keep"), F.struct("pos", "line")))
                ),
                lambda s: s["line"],
            ),
        ).alias(text_col),
        F.count(F.lit(1)).cast("long").alias("__n_lines"),
        F.sum(F.when(~F.col("keep"), 1).otherwise(0))
        .cast("long")
        .alias("n_template_removed"),
    )
    return part.drop(text_col).join(
        out.drop("__n_lines").withColumnRenamed("doc_id", id_col), id_col
    )


def remove_host_templates(
    docs: DataFrame,
    host_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_frac: float = 0.5,
    min_docs: int = 5,
) -> DataFrame:
    """Index-then-apply wrapper (:func:`host_template_index` +
    :func:`apply_host_templates`): drop every occurrence of a
    host-template line. Returns (doc_id, host, text = cleaned, n_lines,
    n_removed)."""
    idx = host_template_index(docs, host_col, id_col, text_col, min_frac, min_docs)
    n_lines = F.size(F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")).cast("long")
    base = docs.select(
        F.col(id_col), F.col(host_col), F.col(text_col), n_lines.alias("n_lines")
    )
    out = apply_host_templates(base, idx, host_col, id_col, text_col)
    return out.select(
        F.col(id_col).alias("doc_id"),
        F.col(host_col).alias("host"),
        F.col(text_col),
        "n_lines",
        F.col("n_template_removed").alias("n_removed"),
    )


# --- Bloom-filter membership (crawl-scale "seen set") ------------------------


def _bloom_positions(df, m_words: int, n_hashes: int, seed: str, carry=()):
    """(word_idx, mask) rows for every (key, hash-function) pair; the
    shift count must be a column, so the mask is an expr over a named
    bit column (shiftleft's Python API only takes literal counts)."""
    from ocr_spark.operators.textstats import seeded_hash48

    # 63 usable bits per int64 word: bit 63 stays clear because DuckDB's
    # << overflow-checks (1::BIGINT << 63 errors) while the JVM wraps —
    # the twins must never disagree, and non-negative words are also
    # saner to eyeball. m_words words still hold m_words*63 bits.
    m_bits = m_words * 63
    parts = [
        F.struct(
            *[F.col(c).alias(c) for c in carry],
            (seeded_hash48(F.col("__k"), f"{seed}:{i}") % m_bits).alias("pos"),
        )
        for i in range(n_hashes)
    ]
    return (
        df.select(F.explode(F.array(*parts)).alias("p"))
        .select(*[F.col(f"p.{c}").alias(c) for c in carry], F.col("p.pos").alias("pos"))
        .select(
            *carry,
            F.expr("CAST(pos div 63 AS BIGINT)").alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT))").alias("mask"),
        )
    )


def bloom_build(
    df: DataFrame,
    col: str,
    m_words: int = 1024,
    n_hashes: int = 4,
    seed: str = "bloom-v1",
) -> DataFrame:
    """Build a Bloom filter over a column as (word_idx, bits) rows — the
    crawl-frontier / incremental-ingest "have I seen this URL/document"
    primitive. At 10^12 keys an exact seen-set join shuffles the full key
    corpus every batch; a Bloom filter of the historical set is a few GB
    of int64 words that BROADCASTS, turning the membership check into a
    narrow map-side pass with zero false negatives (new data is never
    wrongly dropped) and a tunable false-positive rate (a duplicate
    slipping through costs one redundant exact check downstream, not
    correctness).

    Bit math is integer-exact and engine-neutral: bit positions come from
    the seeded 48-bit md5 hash (per hash function ``seed:i``), words
    aggregate with ``bit_or`` — the DuckDB twin reproduces the filter
    bit-for-bit (63 usable bits per int64 word; bit 63 stays clear so
    DuckDB's overflow-checked shift agrees with the JVM's wrapping one).
    Only non-zero words are emitted (m_words rows max)."""
    exploded = _bloom_positions(df.select(F.col(col).alias("__k")), m_words, n_hashes, seed)
    return exploded.groupBy("word_idx").agg(F.bit_or("mask").alias("bits"))


def bloom_probe(
    df: DataFrame,
    col: str,
    bloom: DataFrame,
    id_col: str = "doc_id",
    m_words: int = 1024,
    n_hashes: int = 4,
    seed: str = "bloom-v1",
) -> DataFrame:
    """Probe a :func:`bloom_build` filter: (id, maybe_member). True means
    every one of the key's ``n_hashes`` bits is set (possible member —
    confirm with an exact check if it matters); False is definitive
    non-membership. The filter joins BROADCAST on word_idx, so the probe
    side never shuffles."""
    probes = _bloom_positions(
        df.select(F.col(id_col).alias("doc_id"), F.col(col).alias("__k")),
        m_words, n_hashes, seed, carry=["doc_id"],
    )
    hits = probes.join(F.broadcast(bloom), "word_idx", "left").select(
        "doc_id",
        (
            F.col("bits").isNotNull()
            & (F.col("bits").bitwiseAND(F.col("mask")) == F.col("mask"))
        ).cast("int").alias("hit"),
    )
    return hits.groupBy("doc_id").agg(
        (F.sum("hit") == n_hashes).alias("maybe_member")
    )


# --- HyperLogLog cardinality (crawl-scale distinct counting) ------------------

HLL_SCALE = 50  # 2^(SCALE - reg) register weights: exact int64, reg <= w+1


def hll_registers(
    df: DataFrame,
    col: str,
    p: int = 10,
    seed: str = "hll-v1",
) -> DataFrame:
    """HyperLogLog register table for a column: (bucket, reg), one row per
    OCCUPIED register (Flajolet et al. 2007). At crawl scale the question
    "how many distinct URLs / shingles / domains?" cannot afford an exact
    distinct (a full shuffle of the key universe); HLL answers it with a
    2^p-row sketch and ~1.04/sqrt(2^p) relative error.

    Engine-neutral by construction: the hash is the shared seeded 48-bit
    md5 (:func:`~ocr_spark.operators.textstats.seeded_hash48`), bucket =
    top p bits, and rho = leading-zero rank of the remaining w = 48-p bits
    computed via ``length(bin(rest))`` — a STRING length, identical in
    Spark and DuckDB, with no log2() float that could round the wrong way
    at power-of-two boundaries. Registers max-aggregate, so sketches are
    MERGEABLE (union = max per bucket) across partitions, shards, or days
    of crawl — the property that makes the sketch a checkpointable side
    input. Plan: one narrow projection + one 2^p-key aggregation; nothing
    else shuffles."""
    w = 48 - p
    from ocr_spark.operators.textstats import seeded_hash48

    h = seeded_hash48(F.col(col), seed)
    base = df.select(h.alias("__h")).select(
        F.expr(f"__h div {1 << w}").alias("bucket"),
        (F.col("__h") % (1 << w)).alias("rest"),
    )
    rho = F.when(F.col("rest") == 0, F.lit(w + 1)).otherwise(
        F.lit(w) - (F.length(F.bin(F.col("rest"))) - 1)
    )
    return base.select("bucket", rho.alias("rho")).groupBy("bucket").agg(
        F.max("rho").alias("reg")
    )


def hll_estimate(
    registers: DataFrame, p: int = 10, small_range_correct: bool = False
) -> DataFrame:
    """Fold a :func:`hll_registers` table to ONE row: (m, used_buckets,
    s_units, estimate). The harmonic sum is kept EXACT: each register
    contributes the integer 2^(HLL_SCALE - reg) (empty registers
    contribute 2^HLL_SCALE), summed as int64 (<= 2^p * 2^50 < 2^63), and
    only the final alpha_m * m^2 * 2^SCALE / S is floating — one
    correctly-rounded division of identical operands in either engine, so
    the estimate hash-matches bit-for-bit.

    By default the RAW estimator only: the published small-range
    correction (Flajolet linear counting, m·ln(m/V) when the raw estimate
    falls below 2.5m) needs ln(), whose libm rounding differs across
    engines — ``used_buckets`` is returned so callers can correct
    downstream. ``small_range_correct=True`` applies it in-engine for
    REPORTING consumers (the curate job's _report) where cross-engine
    hash parity is not required; raw HLL overestimates badly below
    n ≈ 2.5m (measured 759 for a true 45 at p=10), so reports must
    correct."""
    m = 1 << p
    alpha_m2 = (0.7213 / (1.0 + 1.079 / m)) * m * m
    agg = registers.agg(
        F.count(F.lit(1)).alias("used_buckets"),
        F.sum(F.expr(f"shiftleft(1L, cast({HLL_SCALE} - reg as int))")).alias("s_occ"),
    )
    s_units = F.coalesce(F.col("s_occ"), F.lit(0)) + (
        F.lit(m) - F.coalesce(F.col("used_buckets"), F.lit(0))
    ) * F.lit(1 << HLL_SCALE)
    raw = F.lit(alpha_m2) * F.lit(float(1 << HLL_SCALE)) / s_units.cast("double")
    est = raw
    if small_range_correct:
        used = F.coalesce(F.col("used_buckets"), F.lit(0))
        est = F.when(
            (raw <= F.lit(2.5 * m)) & (used < m),
            F.lit(float(m)) * F.log(F.lit(float(m)) / (F.lit(m) - used).cast("double")),
        ).otherwise(raw)
    return agg.select(
        F.lit(m).cast("long").alias("m"),
        F.coalesce(F.col("used_buckets"), F.lit(0)).cast("long").alias("used_buckets"),
        s_units.cast("long").alias("s_units"),
        F.round(est, 3).alias("estimate"),
    )


# --- Count-Min sketch (crawl-scale heavy hitters) ------------------------------


def cms_build(
    df: DataFrame,
    col: str,
    w: int = 1024,
    d: int = 4,
    seed: str = "cms-v1",
) -> DataFrame:
    """Count-Min sketch of a key column (Cormode & Muthukrishnan 2005):
    a d×w integer counter matrix as (row, cell, cnt) rows — the
    memory-bounded answer to "how often does each boilerplate line /
    domain / shingle occur?" when the key universe is too large to
    groupBy exactly. Estimates overcount only (never undercount), with
    error ≤ N·e/w at probability 1−e^−d.

    Engine-neutral: row r hashes the key with the shared seeded 48-bit
    md5 under seed '{seed}:{r}', cell = hash % w; counters are exact
    int64 sums, so the sketch image — and every estimate read from it —
    is reproducible bit-for-bit in SQL. Mergeable by cell-wise addition
    (sum cnt on (row, cell)), the same side-input/checkpoint property as
    the Bloom and HLL sketches. Plan: one narrow projection + one d·w-key
    aggregation; the corpus never shuffles."""
    rows = df.select(F.col(col).alias("__k")).select(
        F.explode(F.sequence(F.lit(0), F.lit(d - 1))).alias("row"), "__k"
    )
    # per-row seed: '{seed}:{row}:' prefixes the key so the d hash
    # functions are independent md5 streams (same 48-bit md5-prefix
    # construction as seeded_hash48)
    cell = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"{seed}:"),
                        F.col("row").cast("string"),
                        F.lit(":"),
                        F.col("__k").cast("string"),
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("long")
        % w
    )
    return (
        rows.select("row", cell.alias("cell"))
        .groupBy("row", "cell")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def cms_estimate(
    probes: DataFrame,
    sketch: DataFrame,
    col: str,
    w: int = 1024,
    d: int = 4,
    seed: str = "cms-v1",
    id_col: str = "doc_id",
) -> DataFrame:
    """Point-query a :func:`cms_build` sketch: (id, est) — the MIN over
    the d row counters (absent cells read 0). The sketch is tiny (≤ d·w
    rows) and joins BROADCAST, so the probe side never shuffles for the
    lookup; the only shuffle is the d-way min per probe id."""
    p = probes.select(F.col(id_col).alias("__id"), F.col(col).alias("__k")).select(
        "__id",
        "__k",
        F.explode(F.sequence(F.lit(0), F.lit(d - 1))).alias("row"),
    )
    cell = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"{seed}:"),
                        F.col("row").cast("string"),
                        F.lit(":"),
                        F.col("__k").cast("string"),
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("long")
        % w
    )
    looked = p.select("__id", "row", cell.alias("cell")).join(
        F.broadcast(sketch), ["row", "cell"], "left"
    )
    return looked.groupBy(F.col("__id").alias(id_col)).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("est")
    )


# --- incremental dedup (daily crawl drops) ------------------------------------


def minhash_index(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exportable dedup index of a corpus: (id, sigs, hv, text_md5) — one
    Arrow pass over the text, after which the text is never needed again.
    A production corpus accretes in drops (daily crawls); re-deduping the
    whole 100 TB history per drop is the naive plan. Instead each run
    saves this index of its KEPT documents and the next drop dedups
    against the INDEX: the old corpus bytes are never re-read or
    re-shingled. Index size is O(total shingles) — the standard trade
    every LSH index makes. Ids must be globally unique across drops (use
    content/URL hashes in practice)."""
    return docs.select(
        F.col(id_col).alias("id"),
        minhash_feats_pandas(F.col(text_col)).alias("f"),
        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("text_md5"),
    ).select("id", F.col("f.sigs").alias("sigs"), F.col("f.hv").alias("hv"), "text_md5")


def _band_key_cols() -> list[Column]:
    keys = []
    for b in range(config.MINHASH_NUM_HASHES // config.MINHASH_BAND_SIZE):
        parts = [
            F.element_at(F.col("sigs"), b * config.MINHASH_BAND_SIZE + i + 1).cast("string")
            for i in range(config.MINHASH_BAND_SIZE)
        ]
        keys.append(F.concat_ws("_", F.lit(str(b)), *parts))
    return keys


def dedup_losers_incremental(
    new_index: DataFrame,
    old_index: DataFrame,
    mode: str = "minhash",
    threshold: float = 0.8,
) -> DataFrame:
    """Loser ids among a NEW drop, deduping within the drop AND against a
    previously committed corpus — equal, by construction, to
    :func:`corpus_dedup_losers` over (old ∪ new) with every old id
    ordered before every new id, restricted to new ids (pinned by test
    for all three modes). Old documents always win: they are already
    committed downstream and must never be retroactively dropped.

    Both inputs are :func:`minhash_index` tables; the old corpus TEXT is
    never touched. Plan: exact losers are one md5 semi-join (old) plus a
    min-id window (new); near-dup candidates band-join the new drop's
    keys against old ∪ new (the heavy side is the index scan, not a
    corpus re-shingle); verification is the same exact-Jaccard used
    everywhere. minhash-cc runs connected components over the edges
    incident to the new drop — old↔old edges cannot affect the outcome
    (any component holding an old node drops its new members regardless
    of how old components merge), so they are correctly omitted."""
    exact_old = new_index.join(
        old_index.select("text_md5").distinct(), "text_md5", "left_semi"
    ).select("id")
    w = Window.partitionBy("text_md5")
    exact_new = (
        new_index.select("id", "text_md5")
        .withColumn("__min", F.min("id").over(w))
        .filter(F.col("id") != F.col("__min"))
        .select("id")
    )
    exact_losers = exact_old.unionByName(exact_new).distinct()
    if mode == "exact":
        return exact_losers
    if mode not in ("minhash", "minhash-cc"):
        raise ValueError(f"unknown dedup mode {mode!r}")

    from pyspark import StorageLevel

    kept_new = _register_cache(
        new_index.join(exact_losers, "id", "left_anti").persist(StorageLevel.MEMORY_AND_DISK)
    )
    bands = F.explode(F.array(*_band_key_cols())).alias("band")
    new_b = kept_new.filter(F.size("hv") > 0).select("id", bands)
    all_idx = old_index.select("id", "sigs", "hv").withColumn(
        "is_old", F.lit(True)
    ).unionByName(kept_new.select("id", "sigs", "hv").withColumn("is_old", F.lit(False)))
    all_b = all_idx.filter(F.size("hv") > 0).select("id", "is_old", bands)
    cand = (
        new_b.alias("n")
        .join(
            all_b.alias("o"),
            (F.col("n.band") == F.col("o.band"))
            & (F.col("o.is_old") | (F.col("n.id") != F.col("o.id"))),
        )
        .select(
            F.col("n.id").alias("new_id"),
            F.col("o.id").alias("other_id"),
            F.col("o.is_old").alias("other_old"),
        )
        .dropDuplicates(["new_id", "other_id", "other_old"])
    )
    hv_new = kept_new.select(F.col("id").alias("new_id"), F.col("hv").alias("hv_a"))
    hv_other = all_idx.select(
        F.col("id").alias("other_id"), F.col("is_old").alias("other_old"),
        F.col("hv").alias("hv_b"),
    )
    verified = (
        cand.join(hv_new, "new_id")
        .join(hv_other, ["other_id", "other_old"])
        .select(
            "new_id", "other_id", "other_old",
            _jaccard_sorted_unique(F.col("hv_a"), F.col("hv_b")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    if mode == "minhash":
        near = verified.filter(
            F.col("other_old") | (F.col("other_id") < F.col("new_id"))
        ).select(F.col("new_id").alias("id")).distinct()
        return exact_losers.unionByName(near).distinct()
    # minhash-cc: transitive closure over edges incident to the new drop
    edges = verified.select(
        F.least("new_id", "other_id").alias("a_id"),
        F.greatest("new_id", "other_id").alias("b_id"),
    ).distinct()
    labels = connected_components(edges)
    old_ids = old_index.select(F.col("id").alias("label_member")).distinct()
    comp = labels.select("id", "cluster_id")
    has_old = (
        comp.join(old_ids, comp["id"] == old_ids["label_member"], "left_semi")
        .select(F.col("cluster_id").alias("__l"))
        .distinct()
        .withColumn("__has_old", F.lit(True))
    )
    new_members = comp.join(kept_new.select("id"), "id")
    wmin = Window.partitionBy("cluster_id")
    near_cc = (
        new_members.withColumn("__minnew", F.min("id").over(wmin))
        .join(has_old, new_members["cluster_id"] == has_old["__l"], "left")
        .filter(F.coalesce(F.col("__has_old"), F.lit(False)) | (F.col("id") != F.col("__minnew")))
        .select("id")
        .distinct()
    )
    return exact_losers.unionByName(near_cc).distinct()


# --- containment dedup (quote-inclusion detection) -----------------------------


def _intersect_size_sorted(a: Column, b: Column) -> Column:
    """|A ∩ B| of two SORTED, DUPLICATE-FREE long arrays (Arrow-batched,
    same kernel shape as :func:`_jaccard_sorted_unique`)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _inter(va: pd.Series, vb: pd.Series) -> pd.Series:
        out = np.zeros(len(va), dtype=np.int64)
        for i, (x, y) in enumerate(zip(va, vb)):
            if x is None or y is None:
                continue
            out[i] = np.intersect1d(x, y, assume_unique=True).size
        return pd.Series(out)

    return _inter(a, b)


def _df_histogram(dfreq: DataFrame) -> list[tuple[int, int]]:
    """Collect the (df, n_shingles) histogram of a shingle document-
    frequency table, sorted by df ascending.  The histogram has one row per
    DISTINCT df value — bounded by the frequency domain, not the
    vocabulary (a few thousand rows even at web scale) — so collecting it
    is a model fetch, not a data collect."""
    rows = dfreq.groupBy("df").agg(F.count(F.lit(1)).alias("n")).collect()
    return sorted((int(r["df"]), int(r["n"])) for r in rows)


def _cap_from_hist(
    hist: list[tuple[int, int]], quantile: float, floor: int
) -> int:
    """Smallest df whose cumulative distinct-shingle count reaches
    ``quantile`` of the vocabulary, floored at ``floor`` (the 'lower'
    quantile over the histogram — same arithmetic as the driver oracle's
    SQL cumsum form)."""
    total = sum(n for _, n in hist)
    cum = 0
    cap = floor
    for df, n in hist:
        cum += n
        if float(cum) >= total * quantile:
            cap = df
            break
    return max(int(cap), floor)


def derive_df_cap(
    dfreq: DataFrame, quantile: float = 0.999, floor: int = 8
) -> int:
    """Corpus-derived document-frequency cap for the containment inverted
    index: the smallest df value covering ``quantile`` of distinct shingles,
    but never below ``floor``.

    A literal cap tuned on one corpus is wrong on the next — vocabulary
    Zipf shape decides where "ubiquitous boilerplate" starts.  The
    derivation is scale-safe: ``dfreq`` (h, df) collapses to the
    per-distinct-df histogram (:func:`_df_histogram`, bounded rows) and the
    quantile walk happens driver-side on that tiny list.  The floor keeps
    genuinely small corpora (where the q-quantile is 1–2) from capping away
    the df≈2 quote evidence containment exists to find."""
    return _cap_from_hist(_df_histogram(dfreq), quantile, floor)


def dedup_containment(
    docs: DataFrame,
    threshold: float = 0.9,
    max_df: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    df_quantile: float = 0.999,
    df_floor: int = 8,
    hot_broadcast_max: int = VOCAB_BROADCAST_MAX,
) -> DataFrame:
    """Containment near-dup pairs — the QUOTE-INCLUSION detector: a short
    document wholly embedded in a longer one (syndicated article inside a
    portal page, a post quoted in a thread) has containment
    |A∩B| / min(|A|,|B|) ≈ 1 while its Jaccard is low, so MinHash-LSH —
    which approximates Jaccard — structurally misses it. This is the
    standard companion pass real curation pipelines run after Jaccard
    dedup.

    Candidates come from a shingle inverted index with a DOCUMENT-
    FREQUENCY CAP: shingles appearing in more than ``max_df`` docs are
    dropped from the index (a ubiquitous boilerplate shingle evidences
    nothing about quoting and would alone recreate the hot-key f² blowup
    prefix filtering solved for Jaccard — no prefix bound exists for
    containment, so the cap is the honest scale knob; a pair is missed
    only if EVERY shared shingle is corpus-ubiquitous). When ``max_df``
    is None (the default) the cap is DERIVED from the corpus's own
    shingle-DF distribution via :func:`derive_df_cap` — the
    ``df_quantile`` of distinct shingles, floored at ``df_floor`` — so
    the knob tracks vocabulary shape instead of a literal tuned on one
    corpus. Verification is exact over the full shingle sets. Returns
    (a_id, b_id, containment) with a_id < b_id,
    round(containment, 6) >= threshold."""
    base = _register_cache(
        docs.select(
            F.col(id_col).alias("id"), shingle_hashes_pandas(F.col(text_col)).alias("hv")
        )
        .filter(F.size("hv") > 0)
        .persist()
    )
    ex = base.select("id", F.explode("hv").alias("h"))
    # The histogram collect below is an action over dfreq; persist so the
    # hot-shingle filter reuses the shuffled (h, df) table instead of
    # recomputing the explode+groupBy pass.
    dfreq = _register_cache(
        ex.groupBy("h").agg(F.count(F.lit(1)).alias("df")).persist()
    )
    hist = _df_histogram(dfreq)
    if max_df is None:
        max_df = _cap_from_hist(hist, quantile=df_quantile, floor=df_floor)
    # The hot list is the (1 - quantile) tail of the VOCABULARY — usually
    # tiny, but unbounded in principle (0.1% of 10^12 distinct shingles is
    # 10^9 rows).  Its exact size is already known from the histogram, so
    # gate the broadcast on it for free; oversized tails fall back to a
    # shuffle anti-join on h — same semantics, no unbounded broadcast.
    n_hot = sum(n for df, n in hist if df > max_df)
    hot = dfreq.filter(F.col("df") > max_df).select("h")
    hot_side = F.broadcast(hot) if n_hot <= hot_broadcast_max else hot
    cold = ex.join(hot_side, "h", "left_anti")
    cand = (
        cold.alias("l")
        .join(cold.alias("r"), (F.col("l.h") == F.col("r.h")) & (F.col("l.id") < F.col("r.id")))
        .select(F.col("l.id").alias("a_id"), F.col("r.id").alias("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )
    attached = (
        cand.join(base.select(F.col("id").alias("a_id"), F.col("hv").alias("hv_a")), "a_id")
        .join(base.select(F.col("id").alias("b_id"), F.col("hv").alias("hv_b")), "b_id")
    )
    inter = _intersect_size_sorted(F.col("hv_a"), F.col("hv_b"))
    cont = inter.cast("double") / F.least(F.size("hv_a"), F.size("hv_b")).cast("double")
    return attached.select(
        "a_id", "b_id", F.round(cont, 6).alias("containment")
    ).filter(F.col("containment") >= threshold)


def decontaminate_fuzzy(
    corpus: DataFrame,
    eval_docs: DataFrame,
    jaccard_threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fuzzy eval-set decontamination: flag corpus documents whose
    shingle-set Jaccard against ANY eval document reaches the threshold
    — the near-dup complement of the exact n-gram ``decontaminate``
    (textstats.py), catching paraphrased or partially-edited benchmark
    leakage that exact n-gram probes miss (The Pile / GPT-3 appendix C
    both ship a fuzzy tier for this reason).

    Plan shape at 100 TB: both sides index once (`minhash_index`, one
    Arrow pass each); the EVAL side is benchmark-sized and broadcast,
    so the corpus is never shuffled and never self-joined — candidates
    come from a band equi-join (corpus bands × broadcast eval bands),
    and the decision is the exact Jaccard verifier used by every dedup
    tier (minhash only GENERATES candidates).  Docs shorter than one
    shingle cannot match and stay clean; identical text is Jaccard 1.0,
    so the exact tier is subsumed.  Returns the corpus with a `leaked`
    boolean."""
    # the corpus index feeds TWO plan subtrees (band generation and the
    # hv verifier join); without persist the Arrow shingle+minhash pass —
    # the dominant cost — runs twice over the full corpus. The persisted
    # frame is the signature INDEX (k int64s + band keys per doc, not the
    # text), the same O(signatures) footprint minhash_dedup persists.
    cidx = minhash_index(corpus, id_col, text_col).persist()
    eidx = minhash_index(eval_docs, id_col, text_col).persist()
    band = F.explode(F.array(*_band_key_cols())).alias("band")
    cb = cidx.filter(F.size("hv") > 0).select(F.col("id"), band)
    eb = eidx.filter(F.size("hv") > 0).select(F.col("id").alias("eval_id"), band)
    cand = (
        cb.join(F.broadcast(eb), "band")
        .select("id", "eval_id")
        .dropDuplicates(["id", "eval_id"])
    )
    leaked = (
        cand.join(cidx.select("id", F.col("hv").alias("hv_a")), "id")
        .join(
            F.broadcast(
                eidx.select(F.col("id").alias("eval_id"), F.col("hv").alias("hv_b"))
            ),
            "eval_id",
        )
        .select("id", _jaccard_sorted_unique(F.col("hv_a"), F.col("hv_b")).alias("j"))
        .filter(F.col("j") >= jaccard_threshold)
        .select(F.col("id").alias(id_col))
        .distinct()
        .withColumn("leaked", F.lit(True))
    )
    return corpus.join(leaked, id_col, "left").withColumn(
        "leaked", F.coalesce(F.col("leaked"), F.lit(False))
    )


# --- winnowing fingerprints ---------------------------------------------------

#: winnowing position budget: 24 bits = 16.7M k-grams per document. The
#: (hash, pos) pair packs into one 60-bit long (36-bit hash << 24 | inverted
#: pos) so window selection is ONE integer array_min — positions past the
#: budget would alias, so documents are length-guarded upstream (chunk_docs
#: splits anything that big long before fingerprinting at 100 TB).
WINNOW_POS_BITS = 24
WINNOW_POS_MASK = (1 << WINNOW_POS_BITS) - 1


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): the local fingerprinting scheme with
    the coverage GUARANTEE the global schemes here lack — any substring
    match of length >= w + k - 1 chars between two documents yields at
    least one IDENTICAL selected fingerprint in both (minhash/simhash only
    give probabilistic whole-document similarity; ExactSubstr needs a
    corpus-wide sort). Fingerprint overlap is the plagiarism/quote-mining
    candidate signal; pairs compose downstream as an equi-join on fp_hash.

    Per document (all inside one narrow expression chain — no shuffle
    until the caller aggregates):

      1. normalize: lowercase, remove ALL whitespace (the classic
         robustness to reflow/formatting),
      2. hash every char k-gram: 36-bit md5-prefix int (engine-neutral),
      3. pack (hash, pos) into one long: hash << 24 | (POS_MASK - pos) —
         so integer MIN = min hash with the RIGHTMOST position on ties
         (the paper's robust-winnowing tie rule),
      4. slide a w-hash window; select each window's min; distinct.

    Work is O(n·w) comparisons per doc via transform(sequence)+slice —
    w is a small constant (default 4). Short docs (< k chars) emit no
    fingerprints; k <= n < k+w-1 emits the single all-gram window min.

    Two mega-document linearity rules, both empirically checked by
    tools/megadoc_fold_bench.py:
      - the char array and the packed-key array each MATERIALIZE as a
        column before anything reads them inside a lambda: Catalyst does
        not common-subexpression-eliminate through higher-order
        functions, so an inline `keys` would re-run the whole O(n)-md5
        chain once PER WINDOW — O(n²)/doc (measured 198 s at sf0.1,
        ~0.5 s materialized);
      - grams slice a CHAR ARRAY, not the string: `substr(t, i, k)` walks
        UTF8 bytes from 0 to find char i, so n substr calls are O(n²)
        even with the arrays materialized (measured 21× on 16k-char docs
        where every array fold in the roster holds ~1×; array slice
        indexes in O(1)).

    Returns exploded (doc_id, fp_hash, pos) — pos is the 0-based k-gram
    offset in the normalized text, fp_hash the 36-bit gram hash."""
    t = F.lower(
        F.regexp_replace(F.coalesce(F.col(text_col), F.lit("")), r"(?U)\s+", "")
    )
    d1 = docs.select(F.col(id_col).alias("doc_id"), F.split(t, "").alias("_wc"))
    cc = F.col("_wc")
    n = F.size(cc) - (k - 1)  # k-gram count (<=0: no grams)
    keys = F.when(
        n >= 1,
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.conv(
                F.substring(F.md5(F.array_join(F.slice(cc, i, k), "")), 1, 9), 16, 10
            )
            .cast("long")
            * F.lit(1 << WINNOW_POS_BITS).cast("long")
            + (F.lit(WINNOW_POS_MASK) - (i - F.lit(1))),
        ),
    ).otherwise(F.array().cast("array<long>"))
    d2 = d1.select("doc_id", keys.alias("_wkeys"))
    kc = F.col("_wkeys")
    kn = F.size(kc)
    n_windows = F.greatest(kn - (w - 1), F.lit(1))
    selected = F.when(
        kn >= 1,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n_windows),
                lambda j: F.array_min(F.slice(kc, j, w)),
            )
        ),
    ).otherwise(F.array().cast("array<long>"))
    return (
        d2.select("doc_id", F.explode(selected).alias("key"))
        .select(
            "doc_id",
            F.shiftright(F.col("key"), WINNOW_POS_BITS).alias("fp_hash"),
            (
                F.lit(WINNOW_POS_MASK)
                - F.col("key").bitwiseAND(F.lit(WINNOW_POS_MASK))
            ).cast("long").alias("pos"),
        )
    )


def winnow_pairs(
    docs: DataFrame,
    min_shared: int = 2,
    max_df: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 12,
    w: int = 6,
    df_quantile: float = 0.999,
    df_floor: int = 8,
) -> DataFrame:
    """Quote-mining candidate pairs from shared winnowing fingerprints:
    the end-to-end MOSS composition — :func:`winnow_fingerprints` as the
    postings source, a document-frequency-capped inverted index on
    fp_hash, and a pair count of DISTINCT shared fingerprints. Because
    winnowing guarantees a fingerprint for every >= w+k-1-char shared
    normalized substring, a pair sharing ``min_shared`` fingerprints
    shares (at least) that many local regions — positional evidence
    minhash and containment don't carry.

    Scale shape mirrors :func:`dedup_containment`'s index: fingerprints
    whose df exceeds the cap (corpus-derived via :func:`derive_df_cap`
    when ``max_df`` is None — never a literal tuned on one corpus) are
    ubiquitous boilerplate and are dropped BEFORE the self-join, bounding
    the per-posting pair fan-out at cap². The pair aggregation counts
    DISTINCT fp_hash so a fingerprint surviving at several positions in
    one doc doesn't inflate the evidence.

    Defaults k=12/w=6 set the guaranteed-match threshold at w+k-1 = 17
    normalized chars — fingerprint-dense enough for a quoted sentence,
    long enough that common word bigrams stop pairing unrelated pages
    (k=5/w=4 measured 50× the candidate volume on the same corpus, all
    of it sub-"thequickbrown" collisions).

    Returns (id_a, id_b, n_shared) with id_a < id_b."""
    from pyspark import StorageLevel

    # persist the fingerprint table across its THREE plan uses (cap
    # histogram, df table, postings) — the decontaminate_fuzzy/minhash
    # index lesson; without it the O(n·w) winnow chain re-executes per use
    fps = _register_cache(
        winnow_fingerprints(docs, id_col, text_col, k, w)
        .select("doc_id", "fp_hash")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dfreq = fps.groupBy(F.col("fp_hash").alias("h")).agg(
        F.count(F.lit(1)).alias("df")
    )
    cap = max_df if max_df is not None else derive_df_cap(
        dfreq, df_quantile, df_floor
    )
    keep = dfreq.filter(F.col("df") <= cap).select("h")
    postings = fps.join(keep, fps.fp_hash == keep.h).select("doc_id", "fp_hash")
    a = postings.select(F.col("doc_id").alias("id_a"), "fp_hash")
    b = postings.select(F.col("doc_id").alias("id_b"), "fp_hash")
    return (
        a.join(b, "fp_hash")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def minhash_band_planner(spark, n_hashes: int = None, j_grid=None) -> DataFrame:
    """Analytic banding planner: for every (bands, rows) factorization of
    the signature length, the S-curve capture probability
    ``P(j) = 1 − (1 − j^r)^b`` at a grid of Jaccard similarities — the
    theory half of the trust statement whose measured half is
    :func:`pair_prf` (`dedup_eval`). Read the two together: the planner
    says what a config SHOULD capture at each similarity; the scorecard
    says what it DID capture on the corpus's actual pair distribution.

    Both powers are computed as deterministic multiplication folds (a
    float ``pow`` is not bit-reproducible across engines; a left fold of
    r resp. b exact multiplies is), so the DuckDB twin hash-matches.
    Output: (bands, rows_per_band, jaccard, p_capture) — config-scale
    rows, no corpus input.
    """
    if n_hashes is None:
        n_hashes = config.MINHASH_NUM_HASHES
    if j_grid is None:
        j_grid = (0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)
    combos = [
        (b, n_hashes // b, float(j))
        for b in range(1, n_hashes + 1)
        if n_hashes % b == 0
        for j in j_grid
    ]
    df = spark.createDataFrame(
        combos, "bands long, rows_per_band long, jaccard double"
    )
    jr = F.aggregate(
        F.sequence(F.lit(1), F.col("rows_per_band")),
        F.lit(1.0),
        lambda a, _: a * F.col("jaccard"),
    )
    df = df.withColumn("jr", jr)
    miss = F.aggregate(
        F.sequence(F.lit(1), F.col("bands")),
        F.lit(1.0),
        lambda a, _: a * (F.lit(1.0) - F.col("jr")),
    )
    return df.select(
        "bands",
        "rows_per_band",
        "jaccard",
        F.round(F.lit(1.0) - miss, 6).alias("p_capture"),
    )
