"""Link-graph analytics for crawl corpora: integer-exact PageRank.

The reference has no graph surface at all; this extends the crawl-side
toolkit (Bloom seen-set, URL canonicalization, domain gates, near-dup
connected components) with the canonical link-quality signal a web-scale
curation pipeline ranks domains/pages by before sampling.

Formulation: the classic simplified PageRank of the Spark examples
(no dangling-mass redistribution — a node with no outlinks absorbs rank
without re-emitting it; documented trade, identical to
`examples/src/main/python/pagerank.py` in the Apache Spark tree), but in
EXACT INTEGER MICRO-UNITS so a DuckDB oracle replays every iteration
bit-for-bit:

    UNIT         = 10^12            (one full unit of rank mass)
    r_0(v)       = UNIT div N
    contrib(u→v) = r_i(u) div outdeg(u)
    r_{i+1}(v)   = (15·UNIT) div (100·N) + (85 · Σ contrib) div 100

Every operation is integer division/multiplication/sum on non-negative
longs: order-independent, overflow-free (85·Σ ≤ 85·UNIT < 2^63), and
truncation (div) equals floor, which DuckDB's `//` matches exactly. A
float PageRank could never hash-match across engines — float addition is
not associative and shuffle order is nondeterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

UNIT = 10**12


def pagerank(
    edges: DataFrame,
    n_iters: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Integer-exact PageRank over an edge table → (node, rank_units).

    Plan shape (the canonical iterative-Spark workload): edges are
    deduped and persisted ONCE with their out-degrees attached; each
    iteration is one join (ranks onto edges, keyed on src) + one
    aggregation (contribution sum keyed on dst) + one left join back onto
    the node set — two shuffles per round, both on the natural keys, with
    the rank table localCheckpoint-truncated every round so Catalyst
    re-analysis stays flat (same lesson as
    :func:`~ocr_spark.operators.dedup.connected_components`: iterative
    self-referencing plans otherwise deepen per round). On a long-lived
    cluster job swap localCheckpoint for reliable ``checkpoint()``.

    The single driver-side scalar is N (the node count — the "model
    size", like the IVF codebook fetch); vertex data never collects.
    ``n_iters`` is fixed, not convergence-tested: the oracle unrolls the
    same number of rounds, and rank consumers (sampling weights) want a
    deterministic cost, not a tolerance. Node ids must be integer-typed
    (map string URLs through a surrogate — the same id contract as the
    GEMM kernels).

    PageRank is :func:`trustrank` with every node a seed (S = N, so
    r_0 = UNIT div N and the teleport is uniform): both run one seeded
    loop, and this call passes no seed set, so no seed join runs."""
    return _seeded_rank(edges, None, n_iters, src_col, dst_col, "rank_units")


HITS_SCALE = 10**6


def hits(
    edges: DataFrame,
    n_iters: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Integer-exact HITS (Kleinberg 1999) over an edge table →
    (node, auth_units, hub_units) — the hub/authority complement to
    :func:`pagerank` for crawl seeding (authorities = pages good hubs
    point at; hubs = pages that point at good authorities).

    Formulation (same cross-engine discipline as pagerank — float HITS
    could never hash-match):

        h_0(v)     = SCALE                    (10^6)
        a_raw(v)   = Σ_{u→v} h_i(u)
        a_{i}(v)   = a_raw(v) div max(1, (Σ_w a_raw(w)) div SCALE)
        h_raw(u)   = Σ_{u→v} a_i(v)
        h_{i}(u)   = h_raw(u) div max(1, (Σ_w h_raw(w)) div SCALE)

    The div-based normalization replaces the usual L1/L2 float normalize:
    every value stays a non-negative long, sums are order-independent,
    truncated division is floor (DuckDB ``//`` ≡ Spark ``div``). After
    each normalize the value vector sums to < 2·SCALE (norm truncates, so
    Σ/norm overshoots SCALE by at most (norm+1)/norm ≤ 2), so the only
    overflow bound is the first half-step after init: E·2·SCALE < 2^63 ⇒
    fine to ~4·10^12 edges. No in-edges ⇒ auth 0; no out-edges ⇒ hub 0.

    Plan shape: the a-step joins edges on src and aggregates on dst, the
    h-step joins on dst and aggregates on src — alternating keys, so the
    edge table persists in BOTH orientations pre-partitioned (one extra
    copy buys every round's join a shuffle-free build side, the
    pagerank lesson applied twice). Per half-step normalization is a
    1-row aggregate broadcast back via crossJoin (the accepted 1-row
    pattern — never a driver collect in the loop); ranks
    localCheckpoint-truncate on the same cadence as pagerank."""
    from pyspark import StorageLevel

    e = (
        edges.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
        )
        .distinct()
    )
    e_src = e.repartition("src").persist(StorageLevel.MEMORY_AND_DISK)
    e_dst = e.repartition("dst").persist(StorageLevel.MEMORY_AND_DISK)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .repartition("node")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nodes.count()  # materialize the caches before the loop

    def _norm_step(raw: DataFrame, val: str) -> DataFrame:
        """raw(node, s) → (node, val) div-normalized; missing nodes 0."""
        full = (
            nodes.join(raw, "node", "left")
            .select("node", F.coalesce(F.col("s"), F.lit(0)).alias("s"))
        )
        norm = full.agg(
            F.greatest(
                F.lit(1).cast("long"),
                F.expr(f"sum(s) div {HITS_SCALE}"),
            ).alias("__n")
        )
        return full.crossJoin(F.broadcast(norm)).select(
            "node", F.expr("s div __n").cast("long").alias(val)
        )

    h = nodes.select("node", F.lit(HITS_SCALE).cast("long").alias("h"))
    a = nodes.select("node", F.lit(0).cast("long").alias("a"))
    for i in range(n_iters):
        araw = (
            e_src.join(h, e_src.src == h.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("h").alias("s"))
        )
        a = _norm_step(araw, "a").localCheckpoint(eager=False)
        hraw = (
            e_dst.join(a, e_dst.dst == a.node)
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("a").alias("s"))
        )
        h = _norm_step(hraw, "h").localCheckpoint(eager=(i + 1) % 8 == 0)
    out = (
        a.withColumnRenamed("a", "auth_units")
        .join(h.withColumnRenamed("h", "hub_units"), "node")
        .localCheckpoint(eager=True)
    )
    e_src.unpersist()
    e_dst.unpersist()
    nodes.unpersist()
    return out


def trustrank(
    edges: DataFrame,
    seeds: DataFrame,
    n_iters: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
) -> DataFrame:
    """Integer-exact TrustRank (Gyongyi, Garcia-Molina & Pedersen,
    VLDB 2004) → (node, trust_units): PageRank with the teleport vector
    biased to a trusted seed set — the canonical web-spam demotion signal
    (trust flows OUT of hand-vetted seeds along links and attenuates per
    hop, so spam farms far from any trusted page score ~0 no matter how
    densely they interlink).

    Same cross-engine integer discipline as :func:`pagerank`, with the
    uniform 1/N teleport replaced by the seed indicator:

        S            = |seeds ∩ nodes|       (seeds outside the graph are
                                              inert and excluded from S so
                                              they don't leak mass)
        r_0(v)       = UNIT div S  if v ∈ S else 0
        base(v)      = (15·UNIT) div (100·S)  if v ∈ S else 0
        r_{i+1}(v)   = base(v) + (85 · Σ_{u→v} r_i(u) div outdeg(u)) div 100

    Non-seed nodes receive trust ONLY through in-links — a node unreachable
    from every seed stays exactly 0 (the property that makes the score a
    spam gate rather than a popularity score). With S = all nodes this
    is :func:`pagerank` bit-for-bit.

    Both run one seeded loop, so the plan shape is pagerank's: the
    per-iteration join keys on src against the once-persisted
    pre-partitioned edge+outdeg table, the node table carries the seed
    indicator so `base` is a column expression (no second join per
    round), two shuffles per iteration, the same localCheckpoint cadence.
    The only driver scalar is S (a count; pagerank's is N). An empty
    effective seed set returns all-zero trust."""
    sd = seeds.select(F.col(seed_col).cast("long").alias("node"))
    return _seeded_rank(edges, sd, n_iters, src_col, dst_col, "trust_units")


def _seeded_rank(
    edges: DataFrame,
    seeds: DataFrame | None,
    n_iters: int,
    src_col: str,
    dst_col: str,
    out_col: str,
) -> DataFrame:
    """The loop :func:`pagerank` and :func:`trustrank` share → (node,
    out_col). ``seeds`` is a one-column (node) frame, or None for every
    node a seed (S = N: the uniform teleport, with no seed join)."""
    from pyspark import StorageLevel

    e = (
        edges.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
        )
        .distinct()
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # pre-partition the two cached sides on their join keys: a persisted
    # DataFrame's partitioning is visible to Catalyst, so when the rank
    # table outgrows the broadcast threshold and the per-round join goes
    # sort-merge, only the N-row rank table exchanges — never the ~3N-row
    # edge table (below the threshold Spark broadcasts ranks and neither
    # side shuffles; on a steal-bound VM the wall clock is dominated
    # by the sort/agg CPU either way — see tools/pagerank_scale_bench.py)
    ew = (
        e.join(outdeg, "src")
        .repartition("src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    if seeds is None:
        nodes = nodes.select("node", F.lit(1).alias("is_seed"))
    else:
        nodes = nodes.join(
            seeds.distinct().select("node", F.lit(1).alias("is_seed")), "node", "left"
        ).select("node", F.coalesce("is_seed", F.lit(0)).alias("is_seed"))
    nodes = nodes.repartition("node").persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # the one driver scalar; also materializes the persisted nodes
        s = nodes.filter(F.col("is_seed") == 1).count()
        if s == 0:
            return nodes.select(
                "node", F.lit(0).cast("long").alias(out_col)
            ).localCheckpoint(eager=True)
        base = F.when(
            F.col("is_seed") == 1, F.lit((15 * UNIT) // (100 * s))
        ).otherwise(F.lit(0))
        ranks = nodes.select(
            "node",
            F.when(F.col("is_seed") == 1, F.lit(UNIT // s))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("r"),
        )
        for i in range(n_iters):
            contrib = ew.join(ranks, ew.src == ranks.node).select(
                "dst", F.expr("r div outdeg").alias("c")
            )
            insum = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
            ranks = (
                nodes.join(insum, nodes.node == insum.dst, "left")
                .select(
                    "node",
                    (base + F.expr("(85 * coalesce(s, 0L)) div 100"))
                    .cast("long")
                    .alias("r"),
                )
                # lazy within a cadence window, eager every 8th round: a
                # lazy chain nests one plan level per round and Catalyst
                # re-analysis goes super-linear past ~dozens of levels (the
                # connected-components lesson), so long runs pin the chain
                # periodically while short runs still execute in one job
                .localCheckpoint(eager=(i + 1) % 8 == 0)
            )
        # eager: pin the result BEFORE releasing the edge/node caches — a
        # lazy return would re-execute every round against the unpersisted
        # (i.e. recomputed-per-use) edge table at the caller's first action
        return ranks.select("node", F.col("r").alias(out_col)).localCheckpoint(
            eager=True
        )
    finally:
        ew.unpersist()
        nodes.unpersist()


def label_propagation(
    edges: DataFrame,
    n_iters: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Deterministic synchronous label propagation (Raghavan et al. 2007)
    over the UNDIRECTED view of an edge table → (node, community) — the
    near-linear community detector that surfaces site clusters and
    link-farm blocks next to :func:`pagerank`'s popularity and
    :func:`trustrank`'s trust signals.

    Classic LPA breaks ties randomly and updates asynchronously — both
    non-reproducible across runs, let alone engines. This formulation is
    exact: synchronous rounds, and the new label of v is the neighbor
    label with the HIGHEST frequency, ties broken by SMALLEST label value
    (integer compare, no floats anywhere):

        label_0(v)     = v
        label_{i+1}(v) = argmax_{L} |{u ~ v : label_i(u) = L}|
                         (max count, then min L; isolated v keeps label_i(v))

    Matches GraphX's LabelPropagation semantics except the tie-break,
    which GraphX leaves to hash-map iteration order — the min-label rule
    replaces that with something an oracle can replay.

    Plan shape: edges symmetrize ONCE into a persisted (node, nbr) table
    pre-partitioned on nbr (the join key each round); per iteration one
    join (labels onto adjacency, keyed on nbr) + one two-key count agg +
    one max_by-struct agg (count desc, label asc packed into ONE struct
    max — no window, no sort) + a left join back to the node set — three
    shuffles per round, localCheckpoint cadence as pagerank. The struct
    comparator orders lexicographically on (cnt, -label) via (cnt,
    MAXL-label), keeping every field a non-negative long."""
    from pyspark import StorageLevel

    e = (
        edges.select(
            F.col(src_col).cast("long").alias("a"),
            F.col(dst_col).cast("long").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
    )
    adj = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .select(F.col("a").alias("node"), F.col("b").alias("nbr"))
        .repartition("nbr")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nodes = (
        edges.select(F.col(src_col).cast("long").alias("node"))
        .unionByName(edges.select(F.col(dst_col).cast("long").alias("node")))
        .distinct()
        .repartition("node")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nodes.count()  # materialize before the loop
    labels = nodes.select("node", F.col("node").alias("lbl"))
    # 2^62 headroom sentinel: labels are non-negative longs, so MAXL-lbl
    # inverts the order without going negative (struct max compares
    # field-by-field; both fields must sort ascending-is-better)
    maxl = 1 << 62
    for i in range(n_iters):
        nbr_lbl = adj.join(
            labels.select(F.col("node").alias("nbr"), "lbl"), "nbr"
        ).select("node", "lbl")
        freq = nbr_lbl.groupBy("node", "lbl").agg(F.count(F.lit(1)).alias("cnt"))
        best = freq.groupBy("node").agg(
            F.max(F.struct(F.col("cnt"), (F.lit(maxl) - F.col("lbl")).alias("inv")))
            .alias("m")
        ).select("node", (F.lit(maxl) - F.col("m.inv")).alias("new_lbl"))
        labels = (
            labels.join(best, "node", "left")
            .select("node", F.coalesce("new_lbl", "lbl").alias("lbl"))
            .localCheckpoint(eager=(i + 1) % 8 == 0)
        )
    out = labels.select("node", F.col("lbl").alias("community")).localCheckpoint(
        eager=True
    )
    adj.unpersist()
    nodes.unpersist()
    return out


def kcore(
    edges: DataFrame,
    k: int = 3,
    n_iters: int = 8,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Iterated k-core peeling over the UNDIRECTED simple graph →
    (node, in_core) — the link-farm density signal next to
    :func:`pagerank`/:func:`trustrank`: a spam cluster's mutual-link
    mesh survives deep cores that organic link neighborhoods don't.

    Each round deletes every node whose degree in the REMAINING graph is
    < k (the standard synchronous peel); after enough rounds the survivor
    set IS the k-core. ``n_iters`` is fixed — the pagerank contract: the
    oracle unrolls the identical rounds, and a fixed round count is what
    a production job wants anyway (each extra round past convergence is
    a no-op join). Peeling removes >= 1 node per non-converged round, so
    n_iters bounds convergence for any graph whose peel sequence is
    shorter — tests pin fixtures where that holds, and the final-round
    fixed point is cheap to assert (round R == round R+1 degrees).

    Plan: symmetrized adjacency persisted pre-partitioned on the
    aggregation key; per round ONE semi-join of the adjacency onto the
    surviving node set + one degree count + one filter — the survivor
    set shrinks monotonically, and only (node) keys ever shuffle after
    the first projection. localCheckpoint cadence as pagerank."""
    from pyspark import StorageLevel

    e = (
        edges.select(
            F.col(src_col).cast("long").alias("a"),
            F.col(dst_col).cast("long").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
    )
    adj = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .repartition("a")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nodes = (
        edges.select(F.col(src_col).cast("long").alias("node"))
        .unionByName(edges.select(F.col(dst_col).cast("long").alias("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nodes.count()
    alive = nodes.select("node")
    for i in range(n_iters):
        deg = (
            adj.join(alive.select(F.col("node").alias("a")), "a")
            .join(alive.select(F.col("node").alias("b")), "b")
            .groupBy("a")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        alive = (
            deg.filter(F.col("deg") >= k)
            .select(F.col("a").alias("node"))
            .localCheckpoint(eager=(i + 1) % 4 == 0)
        )
    out = (
        nodes.join(alive.select("node", F.lit(True).alias("in_core")), "node", "left")
        .select("node", F.coalesce("in_core", F.lit(False)).alias("in_core"))
        .localCheckpoint(eager=True)
    )
    adj.unpersist()
    nodes.unpersist()
    return out


def random_walks(
    edges: DataFrame,
    walk_len: int = 4,
    seed: str = "walk-v1",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Deterministic random-walk corpus over the directed edge table →
    (walk_id, step, node) — the DeepWalk/node2vec sampling stage
    (Perozzi 2014): one walk starts at every node and takes up to
    ``walk_len`` hash-chosen hops; the walk rows are the "sentences" an
    embedding trainer consumes. True RNG walks can never hash-match
    across engines (or across reruns — resumability would be lost), so
    the next hop is the md5-seeded choice

        idx(v, t) = md5('{seed}:{walk_id}:{t}:{v}') mod outdeg(v)

    over the neighbor list ranked by ascending dst — reproducible hop by
    hop on any engine, and statistically uniform per (walk, step, node)
    because md5 mixes the tuple. Dead ends truncate the walk (the
    DeepWalk convention), so emitted walks vary in length up to
    walk_len+1 rows including step 0.

    Plan: the ranked adjacency (src, idx, dst, outdeg) persists ONCE
    pre-partitioned on src (idx via one window over src — the only wide
    op besides the per-hop joins); each hop is ONE join of the walk
    frontier onto that adjacency keyed on the current node, with the
    picked index filtering the matched neighbor rows (outdeg rides the
    adjacency row, so no separate degree lookup); ``walk_len`` is small
    and fixed, so the whole walk table is walk_len joins — no driver
    loop state beyond the constant."""
    from pyspark import StorageLevel

    e = (
        edges.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
        )
        .distinct()
    )
    wadj = Window.partitionBy("src").orderBy("dst")
    adj = (
        e.select(
            "src",
            "dst",
            (F.row_number().over(wadj) - 1).cast("long").alias("idx"),
            F.count(F.lit(1)).over(Window.partitionBy("src")).alias("outdeg"),
        )
        .repartition("src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    state = nodes.select(
        F.col("node").alias("walk_id"), F.col("node").alias("cur")
    )
    out = state.select(
        "walk_id", F.lit(0).cast("long").alias("step"), F.col("cur").alias("node")
    )
    for t in range(1, walk_len + 1):
        pick = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.lit(seed),
                            F.col("walk_id").cast("string"),
                            F.lit(str(t)),
                            F.col("cur").cast("string"),
                        )
                    ),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("long")
            % F.col("outdeg")
        )
        state = (
            state.join(adj, state.cur == adj.src)
            .filter(F.col("idx") == pick)
            .select("walk_id", F.col("dst").alias("cur"))
        )
        out = out.unionByName(
            state.select(
                "walk_id",
                F.lit(t).cast("long").alias("step"),
                F.col("cur").alias("node"),
            )
        )
    return out


def triangles(edges: DataFrame) -> DataFrame:
    """Exact triangle counting + local clustering coefficient over an
    undirected view of a link graph (Cohen 2009 / Suri–Vassilvitskii
    MR-triangle shape).

    Skew is the whole problem at crawl scale: a node-iterator over the raw
    graph generates deg² wedges at every hub (the %10 hub pages here, or
    facebook.com in a real host graph). Orienting every undirected edge
    from its (degree, id)-SMALLER endpoint to the larger caps the oriented
    out-degree at O(√m), so wedge generation is Σ outdeg² ≤ m^1.5 total —
    the hub's deg² blowup collapses to the theoretical bound, no salting
    needed. Pipeline: dedupe to undirected (least, greatest) pairs → one
    degree aggregation → broadcast-free degree attach → oriented self-join
    on the low endpoint (wedges, ordered so each candidate pair is built
    once) → closure equi-join against the oriented edge set → per-corner
    count. Three shuffles on edge keys, no iteration.

    Output: (node, degree, triangles, clustering) for every endpoint,
    clustering = 2·T / (d·(d−1)) (0.0 when d < 2) — one double division,
    bit-reproducible in any engine.
    """
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("n"))
        .unionAll(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e = (
        und.join(deg.select(F.col("n").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("n").alias("b"), F.col("d").alias("db")), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oe = e.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dhi"),
    )
    w1 = oe.select(F.col("lo"), F.col("hi").alias("h1"), F.col("dhi").alias("dh1"))
    w2 = oe.select(F.col("lo"), F.col("hi").alias("h2"), F.col("dhi").alias("dh2"))
    wedge = w1.join(w2, "lo").filter(
        (F.col("dh1") < F.col("dh2"))
        | ((F.col("dh1") == F.col("dh2")) & (F.col("h1") < F.col("h2")))
    )
    tri = wedge.join(
        oe.select(F.col("lo").alias("h1"), F.col("hi").alias("h2")), ["h1", "h2"]
    ).select(F.col("lo").alias("x"), F.col("h1").alias("y"), F.col("h2").alias("z"))
    corners = (
        tri.select(F.col("x").alias("n"))
        .unionAll(tri.select(F.col("y").alias("n")))
        .unionAll(tri.select(F.col("z").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    return (
        deg.join(corners, "n", "left")
        .select(
            F.col("n").alias("node"),
            F.col("d").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0)).cast("long").alias("triangles"),
            F.when(
                F.col("d") >= 2,
                (F.lit(2) * F.coalesce(F.col("t"), F.lit(0))).cast("double")
                / (F.col("d") * (F.col("d") - 1)),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
    )
