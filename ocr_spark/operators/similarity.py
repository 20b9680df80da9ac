"""Approximate-nearest-neighbor search over embedding columns.

Two strategies:
- brute-force top-k (baseline; exact): candidate join + window rank.
  At 100 TB this is only sane for small query sets against a broadcast
  query table — which is exactly how it's written (queries are the small
  side; Catalyst broadcasts them, the big corpus never shuffles).
- sign-LSH (random-hyperplane) buckets: H deterministic pseudo-random
  hyperplanes → H-bit signature → equi-join on bucket → exact re-rank
  inside buckets. The scale path: candidates per query ≈ corpus / 2^H.

Four strategies ship in total — brute force (exact baseline), sign-LSH,
IVF-flat, and PQ/IVF-PQ (compression tier: 5-bit codes + ADC + exact
shortlist re-rank) — the distributed ANN ladder.  HNSW is deliberately
absent: graph ANN is pointer-chasing over mutable global state, which a
shared-nothing batch engine cannot traverse without per-hop shuffles;
IVF×PQ is the composition production batch indexes (FAISS on Spark
clusters) actually run, and it covers the same recall/latency envelope
for batched offline queries.

All math is integer-quantized (see dedup.quantized_cosine_pandas) so the DuckDB
oracle agrees bit-for-bit; the hyperplanes are integer-hash ±1 matrices —
no RNG state, reproducible everywhere.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ocr_spark.operators.dedup import quantized_cosine_pandas

LSH_PLANES = 8
LSH_SEED = 0x5EED2026
EMBEDDING_DIM = 64  # the embeddings table's vector width

_M64 = (1 << 64) - 1


def _splitmix64(x: int) -> int:
    """Pure-Python splitmix64 — engine- and version-independent entropy for
    the hyperplane matrix. (The previous LCG-parity formula collapsed to
    parity(plane + dim): an ODD multiplier preserves parity, so every
    'random' plane was one of just TWO ±1 patterns and the signature had
    <=4 distinct buckets. Real mixing matters more than speed here; these
    run once at plan-build time, never per row.)"""
    x = (x + 0x9E3779B97F4A7C15) & _M64
    z = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _M64
    return (z ^ (z >> 31)) & _M64


def plane_signs(planes: int, dim: int = EMBEDDING_DIM, seed: int = LSH_SEED) -> list[list[int]]:
    """±1 hyperplane matrix, deterministic from (seed, plane, dim) — the
    SAME literals are embedded in the Spark expression and the DuckDB
    oracle SQL, so both engines bucket identically."""
    return [
        [1 if _splitmix64(seed + p * 1_000_003 + j) & 1 == 0 else -1 for j in range(dim)]
        for p in range(planes)
    ]


def lsh_signature(
    vec: Column,
    planes: int = LSH_PLANES,
    scale: int = 1000,
    dim: int = EMBEDDING_DIM,
    plane_offset: int = 0,
) -> Column:
    """H-bit sign signature: bit h = 1 iff dot(vec, plane_h) > 0 (quantized).

    Planes are literal ±1 arrays folded into the plan (constant per query,
    zero per-row hash cost, stays in codegen). ``plane_offset`` selects a
    disjoint plane set — used by multi-set LSH (L sets of H planes)."""
    q = F.transform(vec, lambda x: F.round(x.cast("double") * scale).cast("long"))
    signs = plane_signs(planes + plane_offset, dim)[plane_offset:]
    bits = []
    for h in range(planes):
        plane = F.array(*[F.lit(s) for s in signs[h]])
        dot = F.aggregate(
            F.zip_with(q, plane, lambda x, s: x * s),
            F.lit(0).cast("long"),
            lambda acc, v: acc + F.coalesce(v, F.lit(0).cast("long")),
        )
        bits.append(F.when(dot > 0, F.lit(1 << h)).otherwise(F.lit(0)))
    sig = bits[0]
    for b in bits[1:]:
        sig = sig + b
    return sig.cast("int")


def topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    num_blocks: int = 64,
    exclude_group_col: str | None = None,
) -> DataFrame:
    """Exact top-k by quantized cosine — blocked GEMM, not a pair join.

    The naive plan (broadcast queries × corpus crossJoin → per-pair pandas
    cosine) materializes Q·N pair ROWS, copying each 64-dim vector Q times
    through Arrow. Instead the queries are folded into ONE row by an
    aggregation (collect_list — stays inside the plan, no driver collect;
    the query side is small by the same contract that justified the
    broadcast), corpus rows are hash-bucketed into ``num_blocks`` blocks
    (size num_blocks ≈ N·dim·8B / task-memory at scale), and each block ×
    query-matrix pair is a single numpy GEMM emitting only its per-query
    top-k (plus a 2e-6 tie margin so the global rank over Spark-rounded
    cosines can never lose a round-tied candidate) — a superset of every
    global top-k element, so the final global window rank is exact.
    Shuffle: corpus once (block agg), then ≈Q·k·num_blocks candidate rows.

    Id contract: ``id_col`` / ``query_id_col`` must be integer-typed (the
    GEMM kernel carries ids as int64 ndarrays, output schema ``long``);
    map string ids through a dense integer surrogate at the call site.

    ``exclude_group_col`` (integer-typed, present on BOTH inputs) masks
    same-group pairs inside the GEMM exactly like self-pairs — the
    hard-negative-mining contract: top-k *across* label boundaries
    without oversample-and-filter recall loss. NULL group values follow
    SQL semantics: a null never equals anything, so a null-group row is
    never masked against any other row (handled in the kernel, not an
    error); non-null values must be integer-typed.
    """
    g = exclude_group_col
    qcols = [F.col(query_id_col).alias("qid"), F.col(vec_col).alias("qv")] + (
        [F.col(g).alias("qg")] if g else []
    )
    qstruct = F.struct(
        *([F.col("qid"), F.col("qv")] + ([F.col("qg")] if g else []))
    )
    qrow = F.broadcast(
        queries.select(*qcols).agg(
            F.collect_list(qstruct).alias("qs")
        )
    )
    # deterministic hash blocking — uniform block sizes, no skew
    blk = F.pmod(
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast("long"),
        F.lit(num_blocks),
    )
    c = corpus.select(
        *(
            [
                F.col(id_col).alias("nid"),
                F.col(vec_col).alias("cv"),
                blk.cast("int").alias("bk"),
            ]
            + ([F.col(g).alias("ng")] if g else [])
        )
    )
    cstruct = F.struct(
        *([F.col("nid"), F.col("cv")] + ([F.col("ng")] if g else []))
    )
    blocks = c.groupBy("bk").agg(F.collect_list(cstruct).alias("cs"))
    joined = blocks.crossJoin(qrow)  # nb × 1 rows — bounded, not a pair blowup

    scale = 1000
    kk = int(k)

    def gemm(batches):
        for pdf in batches:
            out_q, out_n, out_c = [], [], []
            for cs, qs in zip(pdf["cs"].tolist(), pdf["qs"].tolist()):
                if cs is None or qs is None or len(cs) == 0 or len(qs) == 0:
                    continue
                nids = np.asarray([r["nid"] for r in cs], dtype=np.int64)
                qids = np.asarray([r["qid"] for r in qs], dtype=np.int64)
                if g:
                    # SQL null semantics: a null group matches nothing, so
                    # null-group rows substitute 0 and mask via validity
                    # bits instead of raising on the int64 cast
                    ngs = np.asarray(
                        [0 if r["ng"] is None else r["ng"] for r in cs], dtype=np.int64
                    )
                    qgs = np.asarray(
                        [0 if r["qg"] is None else r["qg"] for r in qs], dtype=np.int64
                    )
                    ngv = np.asarray([r["ng"] is not None for r in cs])
                    qgv = np.asarray([r["qg"] is not None for r in qs])

                # null vectors → zero rows (cosine 0, oracle-consistent);
                # ONE width for both matrices or the GEMM shapes diverge
                # when a block holds only null vectors
                dim = next(
                    (len(r[k]) for rows, k in ((cs, "cv"), (qs, "qv"))
                     for r in rows if r[k] is not None),
                    1,
                )

                def quant(rows, key):
                    m = np.stack(
                        [np.zeros(dim) if r[key] is None
                         else np.asarray(r[key], dtype=np.float64) for r in rows]
                    ) * scale
                    return np.where(m >= 0, np.floor(m + 0.5), np.ceil(m - 0.5))

                qc = quant(cs, "cv")
                qq = quant(qs, "qv")
                nc = np.sqrt((qc * qc).sum(axis=1))
                nq = np.sqrt((qq * qq).sum(axis=1))
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = (qq @ qc.T) / np.outer(nq, nc)
                cos = np.where(np.outer(nq > 0, nc > 0), cos, 0.0)
                # self-pairs never rank; same-group pairs masked likewise
                cos[qids[:, None] == nids[None, :]] = -np.inf
                if g:
                    cos[
                        (qgs[:, None] == ngs[None, :])
                        & qgv[:, None]
                        & ngv[None, :]
                    ] = -np.inf
                for qi in range(len(qids)):
                    row = cos[qi]
                    # per-block top-k by raw cosine, widened by a 2e-6
                    # margin: the global rank compares ROUNDED values, and
                    # a raw-lower candidate within one rounding step of the
                    # k-th best could round-tie and win on neighbor_id
                    order = np.lexsort((nids, -row))
                    valid = [j for j in order if row[j] != -np.inf]
                    if not valid:
                        continue
                    cutoff = row[valid[min(kk, len(valid)) - 1]] - 2e-6
                    for j in valid:
                        if row[j] < cutoff:
                            break
                        out_q.append(qids[qi])
                        out_n.append(nids[j])
                        out_c.append(row[j])
            yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n, "cosine": out_c})

    scored = joined.mapInPandas(gemm, "query_id long, neighbor_id long, cosine double")
    scored = scored.select(
        "query_id", "neighbor_id", F.round(F.col("cosine"), 6).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


LSH_TOPK_BITS = 4
LSH_TOPK_SETS = 16


def multiset_signatures(vec: Column, bits: int = LSH_TOPK_BITS, sets: int = LSH_TOPK_SETS) -> Column:
    """Array of L independent H-bit sign signatures (disjoint plane sets).

    Expression form (higher-order lambdas) — exact but interpreted; use
    :func:`multiset_signatures_pandas` in hot paths (identical output)."""
    return F.array(
        *[lsh_signature(vec, planes=bits, plane_offset=s * bits) for s in range(sets)]
    )


def multiset_signatures_pandas(
    vec: Column,
    bits: int = LSH_TOPK_BITS,
    sets: int = LSH_TOPK_SETS,
    scale: int = 1000,
    dim: int = EMBEDDING_DIM,
) -> Column:
    """Arrow-batched twin of :func:`multiset_signatures`: one numpy GEMM
    against the (sets*bits, dim) plane matrix per batch instead of
    sets*bits interpreted lambda dot-products per row. Integer math is
    identical (round-half-away quantize, int64 dots), so signatures match
    the expression form and the DuckDB oracle bit-for-bit."""
    from pyspark.sql.functions import pandas_udf

    planes = np.asarray(plane_signs(sets * bits, dim), dtype=np.int64)

    @pandas_udf("array<int>")
    def _sigs(vs: pd.Series) -> pd.Series:
        out = []
        for v in vs:
            if v is None:
                out.append([0] * sets)
                continue
            m = np.asarray(v, dtype=np.float64) * scale
            q = np.where(m >= 0, np.floor(m + 0.5), np.ceil(m - 0.5)).astype(np.int64)
            if len(q) < dim:
                q = np.pad(q, (0, dim - len(q)))
            b = (planes @ q[:dim]) > 0  # (sets*bits,)
            weights = 1 << np.arange(bits)
            sig = (b.reshape(sets, bits) * weights).sum(axis=1)
            out.append([int(x) for x in sig])
        return pd.Series(out)

    return _sigs(vec)


def topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    bits: int = LSH_TOPK_BITS,
    sets: int = LSH_TOPK_SETS,
) -> DataFrame:
    """ANN top-k: multi-set sign-LSH candidates, exact re-rank inside.

    L independent H-bit signature sets; a corpus vector is a candidate for
    a query iff they collide in ANY set (equi-join on (set, sig) — the
    corpus never cross-joins). Candidate id-pairs are deduped as ints
    BEFORE vectors are re-attached. Recall < 1.0 by design; deterministic
    (literal splitmix64 planes shared with the DuckDB oracle).

    Tuning note (measured, tools in BENCH.md): this synthetic corpus's
    nearest neighbors sit at cosine ≈ 0.4, close to the sign-LSH physics
    floor — bits=4/sets=16 measures recall@5 of 0.88 (sf0.01) / 0.97
    (sf0.1) at ~0.64 candidate fraction. High-similarity corpora (real
    near-dup search, cos ≥ 0.8) prune orders of magnitude harder at the
    same recall; raise ``bits`` there.
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            multiset_signatures_pandas(F.col(vec_col), bits, sets).alias("sigs"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        multiset_signatures_pandas(F.col(vec_col), bits, sets).alias("sigs"),
    )
    qx = q.select("query_id", F.posexplode("sigs").alias("set", "sig"))
    cx = c.select("neighbor_id", F.posexplode("sigs").alias("set", "sig"))
    cand_ids = (
        F.broadcast(qx)
        .join(cx, ["set", "sig"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    cand = cand_ids.join(
        F.broadcast(q.select("query_id", "qv")), "query_id"
    ).join(c.select("neighbor_id", "cv"), "neighbor_id")
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(quantized_cosine_pandas(F.col("qv"), F.col("cv")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


# --- IVF-flat (inverted-file) ANN --------------------------------------------


IVF_CELLS = 16
IVF_NPROBE = 4


def ivf_cell_order(
    vec: Column,
    centroids: list[list[int]],
    scale: int = 1000,
) -> Column:
    """Cell indices ordered nearest-first for one vector: quantized cosine
    against every centroid, ties broken by lowest cell index (matching the
    oracle's ``ORDER BY cos DESC, cidx ASC`` row_number).

    ``centroids`` are QUANTIZED int vectors (the codebook — tiny, folded
    into the UDF closure). One numpy GEMM per Arrow batch against the
    (n_cells, dim) matrix; int64 dots and normsqs are exact (|dot| <=
    dim*scale^2 = 6.4e7, exact in float64 too), so the float64 cosine is
    bit-identical to DuckDB's list_dot_product/sqrt formula."""
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.int64)
    n_cells, dim = C.shape  # vector width follows the codebook
    cn = np.sqrt((C * C).sum(axis=1).astype(np.float64))

    @pandas_udf("array<int>")
    def _order(vs: pd.Series) -> pd.Series:
        out = []
        idx = np.arange(n_cells)
        for v in vs:
            if v is None:
                out.append([int(i) for i in idx])
                continue
            m = np.asarray(v, dtype=np.float64) * scale
            q = np.where(m >= 0, np.floor(m + 0.5), np.ceil(m - 0.5)).astype(np.int64)
            if len(q) < dim:
                q = np.pad(q, (0, dim - len(q)))
            q = q[:dim]
            nq = np.sqrt(float((q * q).sum()))
            dots = (C @ q).astype(np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dots / (nq * cn)
            cos = np.where((nq > 0) & (cn > 0), cos, 0.0)
            # stable: equal cosines keep ascending cell index
            order = np.lexsort((idx, -cos))
            out.append([int(i) for i in order])
        return pd.Series(out)

    return _order(vec)


def ivf_cell_assign(
    vec: Column,
    centroids: list[list[int]],
    scale: int = 1000,
) -> Column:
    """Nearest-centroid assignment PLUS the winning cosine, as
    ``struct<cell:int, cos:double>`` — the :func:`ivf_cell_order` argmax
    with its score kept (SemDeDup's keep-low policy ranks cluster members
    by their similarity to the centroid, so the assignment pass must
    surface it; re-deriving it later would double the GEMM work).

    Same arithmetic contract as the rest of the IVF family: int64
    quantized dots are exact in float64, ties prefer the lowest cell
    index, None/zero-norm vectors land in cell 0 with cos 0.0 — all
    reproducible by the oracle's ``ORDER BY cos DESC, cidx ASC`` argmax."""
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.int64)
    n_cells, dim = C.shape
    cn = np.sqrt((C * C).sum(axis=1).astype(np.float64))
    idx = np.arange(n_cells)

    @pandas_udf("struct<cell:int, cos:double>")
    def _assign(vs: pd.Series) -> pd.DataFrame:
        cells, coss = [], []
        for v in vs:
            if v is None:
                cells.append(0)
                coss.append(0.0)
                continue
            m = np.asarray(v, dtype=np.float64) * scale
            q = np.where(m >= 0, np.floor(m + 0.5), np.ceil(m - 0.5)).astype(np.int64)
            if len(q) < dim:
                q = np.pad(q, (0, dim - len(q)))
            q = q[:dim]
            nq = np.sqrt(float((q * q).sum()))
            dots = (C @ q).astype(np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dots / (nq * cn)
            cos = np.where((nq > 0) & (cn > 0), cos, 0.0)
            best = int(np.lexsort((idx, -cos))[0])
            cells.append(best)
            coss.append(float(cos[best]))
        return pd.DataFrame({"cell": cells, "cos": coss})

    return _assign(vec)


def ivf_codebook(
    corpus: DataFrame,
    n_cells: int = IVF_CELLS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> list[list[int]]:
    """Deterministic seed codebook: the quantized vectors of the n_cells
    lowest-id rows. A 16-row driver fetch of the TRAINED MODEL (the same
    shape Spark ML's KMeansModel.clusterCenters holds on the driver) — not
    a data collect; the corpus itself never leaves the executors. Seeded
    selection (vs. Lloyd iterations) keeps the quantizer a pure function
    of the input, so the DuckDB oracle can reproduce it in SQL."""
    rows = (
        corpus.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy("i")
        .limit(n_cells)
        .collect()
    )
    cents = []
    for r in rows:
        m = np.asarray(r["v"], dtype=np.float64) * scale
        q = np.where(m >= 0, np.floor(m + 0.5), np.ceil(m - 0.5)).astype(np.int64)
        cents.append([int(x) for x in q])
    return cents


def diversity_sample(
    corpus: DataFrame,
    k_per_cell: int = 8,
    n_cells: int = IVF_CELLS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "diverse-v1",
) -> DataFrame:
    """Cluster-balanced subset selection over embedding space: assign every
    vector to its nearest IVF cell, then keep at most ``k_per_cell`` per
    cell by deterministic seeded-hash rank. A uniform random sample of a
    crawl mirrors its topic skew (half the subset is the dominant topic);
    capping per cell instead yields a topically diverse subset — the
    embedding-space complement of ``temperature_sample``'s per-bucket
    rates, and the selection policy DataComp-style curation applies after
    SemDeDup.

    Scale: one GEMM pass against the broadcast codebook (the corpus never
    shuffles for assignment), then the salted two-phase top-k of
    ``sample_per_group`` — a mega-cell (the dominant topic) never lands on
    one reducer. Deterministic end-to-end: seeded codebook, exact argmax,
    seeded-hash ranking — the same subset on every run, cluster size, and
    in the DuckDB twin.
    """
    from ocr_spark.operators.textstats import sample_per_group

    cents = ivf_codebook(corpus, n_cells, id_col, vec_col)
    asg = corpus.select(
        F.col(id_col),
        ivf_cell_assign(F.col(vec_col), cents)["cell"].cast("long").alias("cell"),
    )
    return sample_per_group(asg, "cell", k_per_cell, seed=seed, id_col=id_col)


def topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = IVF_CELLS,
    nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ANN top-k via an inverted-file index (IVF-flat): corpus vectors are
    bucketed to their nearest codebook centroid; each query probes only
    its ``nprobe`` nearest cells and re-ranks exactly inside them.

    The scale shape: the corpus is scanned ONCE, assignment is one
    Arrow-batched GEMM per partition (no shuffle), and candidate selection
    is a BROADCAST join against Q*nprobe probe rows — expected candidate
    volume N * Q * nprobe / n_cells, the classic IVF pruning ratio. Only
    candidates (not the corpus) shuffle into the per-query rank window.
    Recall < 1.0 by design (a true neighbor in an unprobed cell is missed);
    deterministic, with an exact SQL twin (seed codebook, no RNG).
    """
    cents = ivf_codebook(corpus, n_cells, id_col, vec_col)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.element_at(ivf_cell_order(F.col(vec_col), cents), 1).alias("cell"),
    )
    probes = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            F.slice(ivf_cell_order(F.col(vec_col), cents), 1, nprobe).alias("cells"),
        ).select("query_id", "qv", F.explode("cells").alias("cell"))
    )
    cand = probes.join(c, "cell").filter(F.col("query_id") != F.col("neighbor_id"))
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(quantized_cosine_pandas(F.col("qv"), F.col("cv")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


# ===========================================================================
# distributed Lloyd k-means (integer fixed-point, bit-exact)
# ===========================================================================


def _trunc_div(s: int, n: int) -> int:
    """Truncate-toward-zero integer division — the semantics Spark's
    ``div`` and DuckDB's ``//`` share (Python's ``//`` floors, which
    differs on negative sums)."""
    q, r = divmod(abs(s), n)
    return q if s >= 0 else -q


def _qvec(vec: Column, scale: int) -> Column:
    return F.transform(vec, lambda x: F.round(x.cast("double") * scale).cast("long"))


def _dist_sq(q: Column, cent: list[int]) -> Column:
    lit = F.expr(_arr_sql(cent))
    return F.aggregate(
        F.zip_with(q, lit, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, d: acc + d,
    )


def _arr_sql(vals: list[int]) -> str:
    return "array(" + ",".join(f"{int(v)}L" for v in vals) + ")"


def _cents_lit(cents: list[list[int]]) -> Column:
    """A k×dim centroid model as ONE nested array-literal column, built
    from a single SQL string — per-element ``F.lit`` loops cost one py4j
    round-trip per value, and a 1,024-int codebook was spending seconds
    of driver time just CONSTRUCTING the expression."""
    return F.expr("array(" + ",".join(_arr_sql(c) for c in cents) + ")")


def _books_lit(books: list[list[list[int]]]) -> Column:
    """An m×k×sub codebook model as ONE 3-level array-literal column."""
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(_arr_sql(c) for c in book) + ")"
            for book in books
        )
        + ")"
    )


def _nearest_in(q: Column, cents: Column) -> Column:
    """(dist_sq, cluster) struct of the nearest centroid in an
    array<array<long>> column — array_min over per-centroid structs gives
    argmin with smallest-cluster-id tie-break.  A single `transform`
    lambda computes all k distances, so the expression tree stays
    constant-size in k — k per-centroid `_dist_sq` subtrees made Catalyst
    analysis dominate wall-clock on tiny data (the PQ trainer builds m×k
    of them per round)."""
    return F.array_min(
        F.transform(
            cents,
            lambda c, i: F.struct(
                F.aggregate(
                    F.zip_with(q, c, lambda a, b: (a - b) * (a - b)),
                    F.lit(0).cast("long"),
                    lambda acc, d: acc + d,
                ).alias("d"),
                i.alias("c"),
            ),
        )
    )


def _nearest(q: Column, cents: list[list[int]]) -> Column:
    """:func:`_nearest_in` against a plan-literal centroid model."""
    return _nearest_in(q, _cents_lit(cents))


def _kmeans_centroids(
    base: DataFrame, k: int, n_iters: int, dim: int
) -> list[list[int]]:
    """The Lloyd training loop over (vec_id, q int64-array) — shared by
    kmeans_lloyd and the PQ codebook trainer.  Seeds = the k lowest-id
    vectors; each round is one map-side assignment against plan-literal
    centroids plus a k-row groupBy; the driver holds only the k×dim
    model.  Empty clusters keep their previous centroid."""
    seed_rows = base.orderBy("vec_id").limit(k).collect()
    cents = [[int(x) for x in r["q"]] for r in seed_rows]
    for _ in range(n_iters):
        assigned = base.withColumn("cl", _nearest(F.col("q"), cents)["c"])
        stats = (
            assigned.groupBy("cl")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[
                    F.sum(F.element_at("q", j + 1)).alias(f"s{j}")
                    for j in range(dim)
                ],
            )
            .collect()
        )
        by_cl = {r["cl"]: r for r in stats}
        cents = [
            [
                _trunc_div(int(by_cl[j][f"s{d}"]), int(by_cl[j]["n"]))
                for d in range(dim)
            ]
            if j in by_cl
            else cents[j]
            for j in range(k)
        ]
    return cents


def kmeans_lloyd(
    corpus: DataFrame,
    k: int = 8,
    n_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Distributed Lloyd k-means over an embedding column, integer-exact.

    Vectors quantize to int64 micro-units (the engine-wide round-half-away
    ×1000 contract), distances are integer squared L2, and centroid
    updates are per-dimension truncated-integer means — so every engine
    computes identical clusters and the DuckDB oracle
    (``__spark_entry__.oracle_sql()['kmeans_clusters']``) unrolls the
    same ``n_iters`` rounds bit-for-bit.  Seeding is deterministic: the k
    lowest-id vectors (the ivf_codebook convention).

    Scale shape: the corpus NEVER shuffles on data — each round is one
    map pass (assignment against k plan-literal centroids, argmin in
    codegen) plus one groupBy on the k-valued cluster id whose output is
    k rows × (dim sums + count); the driver holds only the k×dim
    centroid model between rounds (the KMeansModel.clusterCenters shape).
    Empty clusters keep their previous centroid (deterministic, no
    re-seeding RNG).  Returns (vec_id, cluster, dist_sq) under the FINAL
    centroids.  Null/odd-width vectors are excluded up front (they have
    no position in the metric space).
    """
    pre = corpus.select(
        F.col(id_col).alias("vec_id"), _qvec(F.col(vec_col), scale).alias("q")
    ).filter(F.col("q").isNotNull())
    first = pre.orderBy("vec_id").limit(1).collect()
    if not first:
        return pre.select(
            "vec_id",
            F.lit(0).cast("int").alias("cluster"),
            F.lit(0).cast("long").alias("dist_sq"),
        )
    # metric-space width = the lowest-id vector's width; rows of any other
    # width are excluded BEFORE seeding so seeds and members agree
    dim = len(first[0]["q"])
    base = pre.filter(F.size("q") == dim).persist()
    cents = _kmeans_centroids(base, k, n_iters, dim)
    near = _nearest(F.col("q"), cents)
    out = base.select(
        "vec_id",
        near["c"].cast("int").alias("cluster"),
        near["d"].cast("long").alias("dist_sq"),
    )
    return out


# ---------------------------------------------------------------------------
# Product Quantization (Jégou et al., TPAMI 2011): the MEMORY-scale ANN tier
# ---------------------------------------------------------------------------

PQ_M = 8  # subspaces
PQ_KSUB = 32  # centroids per subspace (5-bit codes; measured recall@5
# 0.96 vs 0.92 at k_sub=16 with the same rerank=64 shortlist, sf0.1)
PQ_ITERS = 2


def _kmeans_centroids_multi(
    base: DataFrame, k: int, n_iters: int, dim: int, m: int
) -> list[list[list[int]]]:
    """All ``m`` per-subspace Lloyd chains in ONE bounded chain of jobs —
    bit-identical to running :func:`_kmeans_centroids` on each slice
    (same lowest-id seeds, same argmin/tie-break expression on the same
    slice, same truncated-integer centroid update, same empty-cluster
    keep), but each round is a single corpus pass: every row explodes to
    its m (s, cl, slice) assignments (same total bytes — m slices of
    dim/m) and one (s, cl) groupBy whose map-side partials collapse to
    m×k model rows.  Job count drops from m×(n_iters+1) to n_iters+1 —
    at m=8 subspaces that is the difference between 24 corpus scans and
    3.  Together with the constant-size argmin tree (_nearest_in) and
    the one-shot SQL-string literals (_books_lit), ann_topk_pq went
    49 s → 3.3 s on the sf0.1 bench."""
    sub = dim // m
    seed_rows = base.orderBy("vec_id").limit(k).collect()
    books = [
        [[int(x) for x in r["q"][s * sub : (s + 1) * sub]] for r in seed_rows]
        for s in range(m)
    ]
    for _ in range(n_iters):
        arr = F.transform(
            _books_lit(books),
            lambda book, s: F.struct(
                s.alias("s"),
                _nearest_in(F.slice("q", s * sub + 1, F.lit(sub)), book)[
                    "c"
                ].alias("cl"),
                F.slice("q", s * sub + 1, F.lit(sub)).alias("sq"),
            ),
        )
        stats = (
            base.select(F.explode(arr).alias("e"))
            .groupBy(F.col("e.s").alias("s"), F.col("e.cl").alias("cl"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[
                    F.sum(F.element_at(F.col("e.sq"), j + 1)).alias(f"s{j}")
                    for j in range(sub)
                ],
            )
            .collect()
        )
        by = {(r["s"], r["cl"]): r for r in stats}
        books = [
            [
                [
                    _trunc_div(int(by[(s, j)][f"s{d}"]), int(by[(s, j)]["n"]))
                    for d in range(sub)
                ]
                if (s, j) in by
                else books[s][j]
                for j in range(k)
            ]
            for s in range(m)
        ]
    return books


def pq_train(
    base: DataFrame, m: int, k_sub: int, n_iters: int, dim: int
) -> list[list[list[int]]]:
    """Train the m per-subspace codebooks over (vec_id, q) — all
    subspaces batched into one Lloyd chain (the shared trainer math; see
    :func:`_kmeans_centroids_multi` for the bit-identity argument).
    The model is m × k_sub × (dim/m) ints: driver-sized, persistable."""
    return _kmeans_centroids_multi(base, k_sub, n_iters, dim, m)


def _pq_encode_q(base: DataFrame, codebooks: list, sub: int) -> DataFrame:
    """(vec_id, q, codes) — argmin per subspace against the plan-literal
    codebook model (one 3-level array literal, one nested transform);
    one map pass."""
    return base.select(
        "vec_id",
        "q",
        F.transform(
            _books_lit(codebooks),
            lambda book, s: _nearest_in(
                F.slice("q", s * sub + 1, F.lit(sub)), book
            )["c"].cast("int"),
        ).alias("codes"),
    )


def pq_codebooks_df(spark, codebooks: list) -> DataFrame:
    """The PQ model as a (sub, cid, c) DataFrame — the exportable index
    artifact: a crawl drop encodes its NEW vectors against the frozen
    codebooks (pq_encode) instead of retraining, so codes stay mutually
    comparable across drops — the ANN counterpart of the minhash
    ``_index`` incremental-dedup contract."""
    rows = [
        (s, cid, [int(x) for x in c])
        for s, cb in enumerate(codebooks)
        for cid, c in enumerate(cb)
    ]
    return spark.createDataFrame(rows, "sub int, cid int, c array<bigint>")


def pq_load_codebooks(df: DataFrame) -> list[list[list[int]]]:
    """Inverse of :func:`pq_codebooks_df` (model fetch: m×k_sub rows)."""
    rows = df.collect()
    m = max(r["sub"] for r in rows) + 1
    out: list[list[list[int]]] = [[] for _ in range(m)]
    for r in sorted(rows, key=lambda r: (r["sub"], r["cid"])):
        out[r["sub"]].append([int(x) for x in r["c"]])
    return out


def pq_encode(
    corpus: DataFrame,
    codebooks: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Encode vectors against FROZEN codebooks → (vec_id, codes).  The
    incremental path: old drops' codes never recompute, new drops encode
    in one map pass, and all codes share the model so ADC distances are
    comparable across drops."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    dim = m * sub
    base = (
        corpus.select(
            F.col(id_col).alias("vec_id"), _qvec(F.col(vec_col), scale).alias("q")
        )
        .filter(F.col("q").isNotNull())
        .filter(F.size("q") == dim)
    )
    return _pq_encode_q(base, codebooks, sub).select("vec_id", "codes")


def pq_topk(
    corpus: DataFrame,
    k: int = 5,
    m: int = PQ_M,
    k_sub: int = PQ_KSUB,
    n_iters: int = PQ_ITERS,
    n_queries: int = 20,
    rerank: int = 64,
    n_cells: int | None = None,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Approximate top-k by Product Quantization with asymmetric distance
    (ADC) — the memory tier of the ANN stack.  Brute force keeps every
    float; IVF prunes WHICH vectors are scored; PQ compresses WHAT is
    stored: each vector becomes ``m`` sub-codes (5 bits each at k_sub=32
    — 64-dim float32 → 5 bytes, ~51× smaller), and query↔vector distance
    is approximated as the sum of ``m`` table lookups against the REAL
    query (asymmetric: only the database side is quantized).  At 10^12
    vectors this is the difference between an index that fits executor
    memory and one that cannot exist.

    Integer-exact end to end: vectors quantize to ×1000 int64 units,
    per-subspace codebooks train with the shared Lloyd loop
    (_kmeans_centroids — deterministic lowest-id seeding), codes are
    argmin of integer squared L2 with smallest-code tie-break, and the
    ADC lookup tables are integer distances computed driver-side from
    the k_sub×m codebook model — so the DuckDB oracle replays training,
    encoding, and the ADC scan bit-for-bit.

    Plan shape: training = m × n_iters bounded rounds over the SLICED
    corpus (map + k_sub-row groupBy; the corpus never shuffles on data);
    encoding = one map pass (argmin against plan-literal codebooks, in
    codegen); the scan = one map pass emitting Q adist structs per
    vector (each a sum of m array lookups — O(m) per query instead of
    O(dim)), then a per-query top-(k·rerank) ADC shortlist re-ranked by
    EXACT integer distance (the standard PQ deployment: quantization
    error only costs recall when the true neighbor misses the shortlist,
    never ordering within it — the re-rank touches Q·k·rerank full
    vectors, not the corpus, so a generous shortlist is nearly free:
    k·rerank = 320 rows per query at the defaults, a CONSTANT that does
    not grow with corpus size).  Self-pairs are excluded before the
    shortlist window, matching every other ANN tier's contract.  Queries
    = the vectors with id < ``n_queries`` (the ANN-suite convention).
    Returns (query_id, neighbor_id, dist_sq, rank) under exact
    distances.  Measured recall@5 vs self-excluding exact truth at
    sf0.1 (2k random unit vectors, the hard case for a small codebook):
    k_sub=16: rerank 16 → 0.72, 64 → 0.92; k_sub=32 (the default):
    rerank 16 → 0.81, 64 → 0.96.

    ``n_cells`` adds the IVF tier on top (FAISS IVF-PQ, the standard
    big-index composition): a coarse integer-Lloyd quantizer over the
    FULL vectors assigns every vector a cell, each query ADC-scans only
    its ``nprobe`` nearest cells — so the scan cost drops by
    ~n_cells/nprobe on top of PQ's per-distance O(m), which is what a
    10^12-vector index actually runs.  Recall now also depends on the
    probe set containing the true neighbors' cells."""
    pre = corpus.select(
        F.col(id_col).alias("vec_id"), _qvec(F.col(vec_col), scale).alias("q")
    ).filter(F.col("q").isNotNull())
    first = pre.orderBy("vec_id").limit(1).collect()
    if not first:
        return pre.select(
            F.col("vec_id").alias("query_id"),
            F.lit(0).cast("long").alias("neighbor_id"),
            F.lit(0).cast("long").alias("adist_sq"),
            F.lit(0).cast("long").alias("rank"),
        ).limit(0)
    dim = len(first[0]["q"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    base = pre.filter(F.size("q") == dim).persist()
    codebooks = pq_train(base, m, k_sub, n_iters, dim)
    sub = dim // m
    codes = _pq_encode_q(base, codebooks, sub)
    coarse = None
    if n_cells:
        coarse = _kmeans_centroids(base, n_cells, n_iters, dim)
        codes = codes.withColumn(
            "cell", _nearest(F.col("q"), coarse)["c"].cast("int")
        )

    # ADC lookup tables: integer distances query-slice ↔ codebook entry,
    # computed from the (m × k_sub × sub)-int model — driver-side model
    # math, not data work
    qrows = sorted(
        base.filter(F.col("vec_id") < n_queries).select("vec_id", "q").collect(),
        key=lambda r: r["vec_id"],
    )

    def lut_for(qv: list[int], s: int) -> list[int]:
        qs = qv[s * sub : (s + 1) * sub]
        return [
            sum((a - b) * (a - b) for a, b in zip(qs, c)) for c in codebooks[s]
        ]

    def probes_for(qv: list[int]) -> list[int]:
        # nprobe nearest coarse cells, smallest-cell tie-break — driver
        # model math over the n_cells×dim ints
        ds = sorted(
            (sum((a - b) * (a - b) for a, b in zip(qv, c)), j)
            for j, c in enumerate(coarse)
        )
        return [j for _, j in ds[:nprobe]]

    # Queries enter as DATA (a broadcast Q-row table of per-query LUTs,
    # probe sets, and full vectors), never as per-query plan expressions:
    # Q literal subtrees made Catalyst analysis the bottleneck at tiny Q,
    # and at 10^5-query batches the plan would not even compile.  The ADC
    # scan is codes ⋈ broadcast(queries) with ONE constant-size distance
    # expression (sum of m LUT lookups via zip_with over the codes).
    spark = corpus.sparkSession
    q_data = [
        (
            int(r["vec_id"]),
            [lut_for([int(x) for x in r["q"]], s) for s in range(m)],
            probes_for([int(x) for x in r["q"]]) if coarse is not None else None,
            [int(x) for x in r["q"]],
        )
        for r in qrows
    ]
    qdf = spark.createDataFrame(
        q_data,
        "query_id long, luts array<array<long>>, probes array<int>, "
        "qv array<long>",
    )
    scored = codes.crossJoin(
        F.broadcast(qdf.select("query_id", "luts", "probes"))
    )
    if coarse is not None:
        # outside the probe set the query never scores this vector
        scored = scored.filter(
            F.array_contains(F.col("probes"), F.col("cell"))
        )
    adist = F.aggregate(
        F.zip_with("luts", "codes", lambda l, c: F.element_at(l, c + F.lit(1))),
        F.lit(0).cast("long"),
        lambda acc, d: acc + d,
    )
    scored = scored.select(
        F.col("vec_id").alias("neighbor_id"),
        "query_id",
        adist.alias("adist_sq"),
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    # ^ self-pairs never rank — the same contract as topk_bruteforce /
    # topk_lsh / ivf_topk.  Before round 5 PQ alone kept the query itself
    # (ADC distance 0, always rank 1), silently capping recall@5 vs the
    # self-excluding brute-force truth at 4/5 = 0.8 — the REAL cause of
    # the 0.70 plateau previously attributed to quantization error.
    w = Window.partitionBy("query_id").orderBy("adist_sq", "neighbor_id")
    shortlist = (
        scored.withColumn("srank", F.row_number().over(w))
        .filter(F.col("srank") <= k * rerank)
        .select("query_id", "neighbor_id")
    )
    # exact re-rank of the Q·k·rerank shortlist: fetch the full vectors
    # for the candidates only, distance against the broadcast query rows
    cand = shortlist.join(
        base.select(F.col("vec_id").alias("neighbor_id"), "q"), "neighbor_id"
    ).join(F.broadcast(qdf.select("query_id", "qv")), "query_id")
    exact = F.aggregate(
        F.zip_with("q", "qv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, d: acc + d,
    )
    w2 = Window.partitionBy("query_id").orderBy("dist_sq", "neighbor_id")
    return (
        cand.select("query_id", "neighbor_id", exact.alias("dist_sq"))
        .withColumn("rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "dist_sq", "rank")
    )


def bitext_mine(
    side_a: DataFrame,
    side_b: DataFrame,
    k: int = 4,
    margin_threshold: float = 1.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    knn_fn=None,
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019, the CCMatrix /
    LASER parallel-corpus miner): score every forward k-NN candidate pair
    (a ∈ A, b ∈ B) by the RATIO margin

        margin(a, b) = cos(a, b) / ((mean_kNN(a) + mean_kNN(b)) / 2)

    where ``mean_kNN(x)`` is the mean cosine of x's k nearest neighbors on
    the OTHER side, and keep the best-margin b per a above the threshold.
    The margin normalizes away hubness — a candidate only wins if it is
    close to `a` *relative to* how close either side's neighborhood runs.

    Scale shape: both k-NN passes default to :func:`topk_bruteforce`
    blocked GEMMs (queries fold to one broadcast row, the corpus
    hash-blocks and never pair-joins — the exact tier). At 10^12 rows pass
    ``knn_fn=topk_lsh`` (or any callable with the same
    (corpus, queries, k, id_col, vec_col) → (query_id, neighbor_id, rank,
    cosine) contract) to bucket candidate generation — the margin
    arithmetic downstream is unchanged.
    The denominator folds run in deterministic rank order (array_sort on
    (rank, cosine) then a sequential F.aggregate), so the DuckDB oracle
    reproduces every double bit-for-bit.

    Output: (a_id, b_id, cosine, margin) — at most one row per a_id, in
    the sides' ORIGINAL id space. The two sides may freely share id
    values: ids are parity-remapped (A→2i, B→2i+1) around the k-NN kernels
    so the bruteforce self-id mask can never swallow an aligned A_i/B_i
    pair, and unmapped on output (integer-id contract tightens to
    |id| < 2^62).
    """
    knn = knn_fn or topk_bruteforce
    # Parity remap: A ids → 2·id, B ids → 2·id+1 BEFORE the k-NN kernels,
    # because topk_bruteforce masks qid == nid as a self-pair — if the two
    # sides shared id values (the natural case for independently numbered
    # parallel corpora) the aligned A_i/B_i pair would silently vanish from
    # candidates and margin denominators. The remap is bijective (requires
    # |id| < 2^62, comfortably inside the integer-id contract), keeps each
    # side's relative order (so neighbor_id tie-breaks are unchanged), and
    # is undone on the output columns below.
    a2 = side_a.withColumn(id_col, F.col(id_col) * 2)
    b2 = side_b.withColumn(id_col, F.col(id_col) * 2 + 1)
    qa = a2.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias(vec_col))
    qb = b2.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias(vec_col))
    fwd = knn(b2, qa, k=k, id_col=id_col, vec_col=vec_col)
    bwd = knn(a2, qb, k=k, id_col=id_col, vec_col=vec_col)

    def knn_mean(tk: DataFrame, out: str) -> DataFrame:
        cl = F.array_sort(F.collect_list(F.struct(F.col("rank"), F.col("cosine"))))
        agg = tk.groupBy("query_id").agg(cl.alias("cl"))
        fold = F.aggregate(
            F.col("cl"), F.lit(0.0), lambda acc, s: acc + s["cosine"]
        )
        return agg.select(
            "query_id", (fold / F.size(F.col("cl"))).alias(out)
        )

    den_a = knn_mean(fwd, "den_a")
    den_b = knn_mean(bwd, "den_b")
    pairs = (
        fwd.select(
            F.col("query_id").alias("a_id"),
            F.col("neighbor_id").alias("b_id"),
            "cosine",
        )
        .join(den_a.withColumnRenamed("query_id", "a_id"), "a_id")
        .join(den_b.withColumnRenamed("query_id", "b_id"), "b_id")
        .filter((F.col("den_a") + F.col("den_b")) > 0)
        .withColumn(
            "margin",
            F.round(
                F.col("cosine") / ((F.col("den_a") + F.col("den_b")) * F.lit(0.5)), 6
            ),
        )
        .filter(F.col("margin") >= margin_threshold)
    )
    w = Window.partitionBy("a_id").orderBy(F.col("margin").desc(), F.col("b_id").asc())
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            # undo the parity remap: a = 2a' / 2, b = (2b'+1 - 1) / 2
            F.expr("a_id div 2").alias("a_id"),
            F.expr("(b_id - 1) div 2").alias("b_id"),
            "cosine",
            "margin",
        )
    )


def label_outliers(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    scale: int = 1000,
) -> DataFrame:
    """Label-error detection by centroid margin (confident-learning-lite,
    after Northcutt 2021's intuition): a row whose embedding sits closer to
    ANOTHER label's centroid than to its own is a mislabel candidate —
    the curation signal you run before training a classifier on weak
    labels.

    All arithmetic is integer-exact (the kmeans_lloyd discipline): vectors
    quantize to ×scale BIGINTs, per-label centroids are element-wise
    truncate-toward-zero integer means, distances are exact integer
    squared L2 — so the DuckDB twin hash-matches. Scale shape: the
    centroid table is L rows (one per label — broadcast by construction);
    scoring is one broadcast-joined N·L pass of codegen'd integer
    arithmetic, no corpus shuffle beyond the per-dimension centroid
    aggregation. Ragged/null vectors are excluded by the same
    first-row-dim guard as kmeans_lloyd.

    Output: (vec_id, label, d_own, best_other_label, d_other, mislabeled),
    mislabeled = d_other < d_own; best_other ties break by label ASC.
    """
    q = _qvec(F.col(vec_col), scale)
    base0 = emb.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("vec_id"), F.col(label_col).alias("label"), q.alias("q")
    )
    dim_row = F.broadcast(
        base0.orderBy("vec_id").limit(1).select(F.size("q").alias("dim"))
    )
    base = base0.crossJoin(dim_row).filter(F.size("q") == F.col("dim")).drop("dim")
    dims = base.select(
        "label", F.posexplode("q").alias("pos", "v")
    )
    cdim = dims.groupBy("label", "pos").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")
    )
    trunc = F.when(
        F.col("s") >= 0, F.expr("s div n")
    ).otherwise(-F.expr("(-s) div n"))
    cent = (
        cdim.select("label", "pos", trunc.cast("long").alias("cv"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cv"))), lambda x: x["cv"]
            ).alias("c")
        )
        .select(F.col("label").alias("clabel"), "c")
    )
    dist = F.aggregate(
        F.zip_with("q", "c", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, d: acc + d,
    )
    scored = base.crossJoin(F.broadcast(cent)).select(
        "vec_id", "label", "clabel", dist.alias("dist")
    )
    own = scored.filter(F.col("label") == F.col("clabel")).select(
        "vec_id", "label", F.col("dist").alias("d_own")
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("dist").asc(), F.col("clabel").asc())
    other = (
        scored.filter(F.col("label") != F.col("clabel"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            F.col("clabel").alias("best_other_label"),
            F.col("dist").alias("d_other"),
        )
    )
    return own.join(other, "vec_id").select(
        "vec_id",
        "label",
        "d_own",
        "best_other_label",
        "d_other",
        (F.col("d_other") < F.col("d_own")).alias("mislabeled"),
    )
