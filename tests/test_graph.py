"""Integer-exact PageRank: python-golden parity + structural properties."""

from __future__ import annotations

import random

from ocr_spark.operators.graph import UNIT, pagerank


def py_pagerank(edges, iters):
    """Reference implementation of the exact integer formulation."""
    edges = sorted(set(edges))
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    outdeg: dict[int, int] = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    r = {v: UNIT // n for v in nodes}
    base = (15 * UNIT) // (100 * n)
    for _ in range(iters):
        insum = {v: 0 for v in nodes}
        for s, d in edges:
            insum[d] += r[s] // outdeg[s]
        r = {v: base + (85 * insum[v]) // 100 for v in nodes}
    return r


def _df(spark, edges):
    return spark.createDataFrame(edges, "src long, dst long")


def test_pagerank_matches_golden_random_graph(spark):
    rnd = random.Random(5)
    edges = list({(rnd.randrange(40), rnd.randrange(40)) for _ in range(150)})
    for iters in (1, 3):
        want = py_pagerank(edges, iters)
        got = {r["node"]: r["rank_units"]
               for r in pagerank(_df(spark, edges), n_iters=iters).collect()}
        assert got == want, iters


def test_pagerank_star_hub_dominates(spark):
    # 10 spokes all pointing at node 99 (the hub), hub points back at 0
    edges = [(i, 99) for i in range(10)] + [(99, 0)]
    got = {r["node"]: r["rank_units"]
           for r in pagerank(_df(spark, edges), n_iters=3).collect()}
    assert max(got, key=got.get) == 99
    assert got == py_pagerank(edges, 3)


def test_pagerank_dangling_node_absorbs(spark):
    # node 2 has no outlinks: it receives rank but re-emits nothing
    # (the simplified Spark-examples formulation — documented trade)
    edges = [(0, 1), (1, 2), (0, 2)]
    got = {r["node"]: r["rank_units"]
           for r in pagerank(_df(spark, edges), n_iters=2).collect()}
    assert set(got) == {0, 1, 2}
    assert got == py_pagerank(edges, 2)
    # 0 gets no in-edges: floor of the base share exactly
    assert got[0] == (15 * UNIT) // (100 * 3)


def test_pagerank_mass_never_exceeds_unit(spark):
    rnd = random.Random(9)
    edges = list({(rnd.randrange(25), rnd.randrange(25)) for _ in range(80)})
    got = pagerank(_df(spark, edges), n_iters=4).collect()
    total = sum(r["rank_units"] for r in got)
    assert 0 < total <= UNIT  # div truncation + dangling leak only lose mass


def test_pagerank_long_run_crosses_checkpoint_cadence(spark):
    # 10 rounds crosses the eager-every-8 cadence boundary; results must
    # still equal the golden (checkpointing is a plan concern, not math)
    rnd = random.Random(3)
    edges = list({(rnd.randrange(20), rnd.randrange(20)) for _ in range(60)})
    got = {r["node"]: r["rank_units"]
           for r in pagerank(_df(spark, edges), n_iters=10).collect()}
    assert got == py_pagerank(edges, 10)


def test_pagerank_empty_graph_releases_caches(spark):
    # the empty exit must unpersist the edge and node tables like the
    # normal one does, or each call pins two MEMORY_AND_DISK caches
    spark.catalog.clearCache()
    assert pagerank(_df(spark, []), n_iters=3).collect() == []
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def py_hits(edges, iters):
    """Reference implementation of the exact integer HITS formulation."""
    from ocr_spark.operators.graph import HITS_SCALE as S

    es = sorted(set(edges))
    nodes = sorted({u for u, _ in es} | {v for _, v in es})
    h = {n: S for n in nodes}
    a = {n: 0 for n in nodes}
    for _ in range(iters):
        araw = {n: 0 for n in nodes}
        for u, v in es:
            araw[v] += h[u]
        norm = max(1, sum(araw.values()) // S)
        a = {n: araw[n] // norm for n in nodes}
        hraw = {n: 0 for n in nodes}
        for u, v in es:
            hraw[u] += a[v]
        norm = max(1, sum(hraw.values()) // S)
        h = {n: hraw[n] // norm for n in nodes}
    return a, h


def test_hits_matches_golden_random_graph(spark):
    from ocr_spark.operators.graph import hits

    rnd = random.Random(7)
    edges = list({(rnd.randrange(30), rnd.randrange(30)) for _ in range(120)})
    got = {r["node"]: (r["auth_units"], r["hub_units"])
           for r in hits(_df(spark, edges), n_iters=3).collect()}
    a, h = py_hits(edges, 3)
    assert got == {n: (a[n], h[n]) for n in a}


def test_hits_star_roles(spark):
    """Leaves pointing at a center: the center is pure authority (no hub
    mass), the leaves pure hubs (no authority mass)."""
    from ocr_spark.operators.graph import HITS_SCALE, hits

    edges = [(i, 0) for i in range(1, 6)]
    got = {r["node"]: (r["auth_units"], r["hub_units"])
           for r in hits(_df(spark, edges), n_iters=2).collect()}
    assert got[0] == (HITS_SCALE, 0)
    assert all(got[i][0] == 0 and got[i][1] > 0 for i in range(1, 6))


def test_hits_mass_bounded_after_normalize(spark):
    """div normalization bounds each post-round vector's sum strictly
    under 2·SCALE (norm = Σ//SCALE truncates, so Σ/norm can overshoot
    SCALE by up to a factor (norm+1)/norm ≤ 2)."""
    from ocr_spark.operators.graph import HITS_SCALE, hits

    rnd = random.Random(11)
    edges = list({(rnd.randrange(25), rnd.randrange(25)) for _ in range(90)})
    rows = hits(_df(spark, edges), n_iters=2).collect()
    assert 0 < sum(r["auth_units"] for r in rows) < 2 * HITS_SCALE
    assert 0 < sum(r["hub_units"] for r in rows) < 2 * HITS_SCALE


# --- TrustRank ---------------------------------------------------------------


def py_trustrank(edges, seeds, iters):
    """Reference implementation of the exact integer TrustRank."""
    edges = sorted(set(edges))
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    seed_set = set(seeds) & set(nodes)
    s = len(seed_set)
    if s == 0:
        return {v: 0 for v in nodes}
    outdeg: dict[int, int] = {}
    for u, _ in edges:
        outdeg[u] = outdeg.get(u, 0) + 1
    r = {v: (UNIT // s if v in seed_set else 0) for v in nodes}
    for _ in range(iters):
        insum = {v: 0 for v in nodes}
        for u, d in edges:
            insum[d] += r[u] // outdeg[u]
        r = {
            v: ((15 * UNIT) // (100 * s) if v in seed_set else 0)
            + (85 * insum[v]) // 100
            for v in nodes
        }
    return r


def _seeds_df(spark, ids):
    from ocr_spark.operators.graph import trustrank  # noqa: F401

    return spark.createDataFrame([(i,) for i in ids], "node long")


def test_trustrank_matches_golden_random_graph(spark):
    from ocr_spark.operators.graph import trustrank

    rnd = random.Random(11)
    edges = list({(rnd.randrange(40), rnd.randrange(40)) for _ in range(150)})
    seeds = [0, 7, 14, 21, 999]  # 999 is outside the graph: inert
    for iters in (1, 3):
        want = py_trustrank(edges, seeds, iters)
        got = {
            r.node: r.trust_units
            for r in trustrank(
                _df(spark, edges), _seeds_df(spark, seeds), n_iters=iters
            ).collect()
        }
        assert got == want


def test_trustrank_unreachable_stays_zero(spark):
    from ocr_spark.operators.graph import trustrank

    # two components: seed lives in {0,1}; {5,6} is unreachable spam farm
    edges = [(0, 1), (1, 0), (5, 6), (6, 5)]
    got = {
        r.node: r.trust_units
        for r in trustrank(_df(spark, edges), _seeds_df(spark, [0]), n_iters=4).collect()
    }
    assert got[5] == 0 and got[6] == 0
    assert got[0] > 0 and got[1] > 0
    assert got == py_trustrank(edges, [0], 4)


def test_trustrank_all_seeds_degenerates_to_pagerank(spark):
    from ocr_spark.operators.graph import trustrank

    rnd = random.Random(23)
    edges = list({(rnd.randrange(20), rnd.randrange(20)) for _ in range(60)})
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    pr = {r.node: r.rank_units for r in pagerank(_df(spark, edges), n_iters=3).collect()}
    tr = {
        r.node: r.trust_units
        for r in trustrank(_df(spark, edges), _seeds_df(spark, nodes), n_iters=3).collect()
    }
    assert tr == pr


def test_trustrank_empty_seed_set_all_zero(spark):
    from ocr_spark.operators.graph import trustrank

    edges = [(0, 1), (1, 2)]
    got = {
        r.node: r.trust_units
        for r in trustrank(_df(spark, edges), _seeds_df(spark, [77]), n_iters=2).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0}


# --- Label propagation -------------------------------------------------------


def py_lpa(edges, iters):
    """Reference implementation: synchronous, max count then min label."""
    und = set()
    for a, b in edges:
        if a != b:
            und.add((a, b))
            und.add((b, a))
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    nbrs: dict[int, list[int]] = {v: [] for v in nodes}
    for a, b in und:
        nbrs[a].append(b)
    lbl = {v: v for v in nodes}
    for _ in range(iters):
        new = {}
        for v in nodes:
            if not nbrs[v]:
                new[v] = lbl[v]
                continue
            freq: dict[int, int] = {}
            for u in nbrs[v]:
                freq[lbl[u]] = freq.get(lbl[u], 0) + 1
            new[v] = min(freq, key=lambda L: (-freq[L], L))
        lbl = new
    return lbl


def test_lpa_matches_golden_random_graph(spark):
    from ocr_spark.operators.graph import label_propagation

    rnd = random.Random(31)
    edges = list({(rnd.randrange(30), rnd.randrange(30)) for _ in range(90)})
    for iters in (1, 3):
        want = py_lpa(edges, iters)
        got = {
            r.node: r.community
            for r in label_propagation(_df(spark, edges), n_iters=iters).collect()
        }
        assert got == want


def test_lpa_two_cliques_converge_to_min_member(spark):
    from ocr_spark.operators.graph import label_propagation

    # two 4-cliques joined by one bridge edge: each clique collapses to its
    # minimum member id; the bridge is too thin to flip either side
    c1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    c2 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    edges = c1 + c2 + [(3, 10)]
    got = {
        r.node: r.community
        for r in label_propagation(_df(spark, edges), n_iters=4).collect()
    }
    assert got == py_lpa(edges, 4)
    assert {got[v] for v in range(3)} == {0}
    assert {got[v] for v in range(11, 14)} == {10}


def test_lpa_self_loop_only_node_keeps_label(spark):
    from ocr_spark.operators.graph import label_propagation

    edges = [(0, 1), (5, 5)]
    got = {
        r.node: r.community
        for r in label_propagation(_df(spark, edges), n_iters=2).collect()
    }
    assert got == py_lpa(edges, 2)
    assert got[5] == 5


# --- k-core ------------------------------------------------------------------


def py_kcore(edges, k, iters):
    """Reference synchronous peel with fixed rounds."""
    und = set()
    for a, b in edges:
        if a != b:
            und.add((a, b))
            und.add((b, a))
    nodes = {s for s, _ in edges} | {d for _, d in edges}
    alive = set(nodes)
    for _ in range(iters):
        deg = {}
        for a, b in und:
            if a in alive and b in alive:
                deg[a] = deg.get(a, 0) + 1
        alive = {v for v in alive if deg.get(v, 0) >= k}
    return {v: v in alive for v in nodes}


def test_kcore_matches_golden_and_converges(spark):
    from ocr_spark.operators.graph import kcore

    rnd = random.Random(43)
    edges = list({(rnd.randrange(30), rnd.randrange(30)) for _ in range(80)})
    want = py_kcore(edges, 3, 8)
    got = {r.node: r.in_core for r in kcore(_df(spark, edges), k=3, n_iters=8).collect()}
    assert got == want
    # fixed point: one more round changes nothing
    assert want == py_kcore(edges, 3, 9)


def test_kcore_peels_chain_keeps_clique(spark):
    from ocr_spark.operators.graph import kcore

    # 4-clique (3-core) + a pendant chain hanging off it
    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    chain = [(3, 10), (10, 11), (11, 12)]
    got = {
        r.node: r.in_core
        for r in kcore(_df(spark, clique + chain), k=3, n_iters=6).collect()
    }
    assert all(got[v] for v in range(4))
    assert not any(got[v] for v in (10, 11, 12))
    assert got == py_kcore(clique + chain, 3, 6)


# --- random walks ------------------------------------------------------------


def py_walks(edges, walk_len, seed="walk-v1"):
    import hashlib

    edges = sorted(set(edges))
    nbrs: dict[int, list[int]] = {}
    for s, d in edges:
        nbrs.setdefault(s, []).append(d)
    for v in nbrs:
        nbrs[v].sort()
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    rows = set()
    for start in nodes:
        cur = start
        rows.add((start, 0, start))
        for t in range(1, walk_len + 1):
            nb = nbrs.get(cur)
            if not nb:
                break
            h = int(
                hashlib.md5(f"walk-v1:{start}:{t}:{cur}".encode()).hexdigest()[:12],
                16,
            )
            cur = nb[h % len(nb)]
            rows.add((start, t, cur))
    return rows


def test_random_walks_match_golden(spark):
    from ocr_spark.operators.graph import random_walks

    rnd = random.Random(57)
    edges = list({(rnd.randrange(25), rnd.randrange(25)) for _ in range(60)})
    got = {
        (r.walk_id, r.step, r.node)
        for r in random_walks(_df(spark, edges), walk_len=4).collect()
    }
    assert got == py_walks(edges, 4)


def test_random_walks_dead_end_truncates(spark):
    from ocr_spark.operators.graph import random_walks

    # 0 -> 1 -> 2, 2 has no outlinks: every walk ends at 2 within 2 hops
    edges = [(0, 1), (1, 2)]
    got = {
        (r.walk_id, r.step, r.node)
        for r in random_walks(_df(spark, edges), walk_len=5).collect()
    }
    assert got == py_walks(edges, 5)
    assert (0, 1, 1) in got and (0, 2, 2) in got and (0, 3, 2) not in got
    assert (2, 0, 2) in got and (2, 1, 2) not in got


# --- triangles ----------------------------------------------------------------


def py_triangles(edges):
    """Brute-force per-node triangle counts over the undirected simple graph."""
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    adj: dict[int, set[int]] = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tris = set()
    for a, b in und:
        for c in adj[a] & adj[b]:
            tris.add(tuple(sorted((a, b, c))))
    out = {n: 0 for n in adj}
    for x, y, z in tris:
        out[x] += 1
        out[y] += 1
        out[z] += 1
    return out, {n: len(s) for n, s in adj.items()}


def test_triangles_match_bruteforce_random_graph(spark):
    from ocr_spark.operators.graph import triangles

    rnd = random.Random(11)
    edges = list({(rnd.randrange(30), rnd.randrange(30)) for _ in range(180)})
    want_t, want_d = py_triangles(edges)
    rows = triangles(_df(spark, edges)).collect()
    got_t = {r["node"]: r["triangles"] for r in rows}
    got_d = {r["node"]: r["degree"] for r in rows}
    assert got_t == want_t
    assert got_d == want_d
    for r in rows:
        d, t = r["degree"], r["triangles"]
        want_c = (2.0 * t) / (d * (d - 1)) if d >= 2 else 0.0
        assert r["clustering"] == want_c


def test_triangles_known_shapes(spark):
    from ocr_spark.operators.graph import triangles

    # K4: every node has 3 triangles, clustering 1.0; plus a pendant node
    k4 = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (3, 4)]
    rows = {r["node"]: r for r in triangles(_df(spark, k4)).collect()}
    for n in (0, 1, 2):
        assert rows[n]["triangles"] == 3 and rows[n]["clustering"] == 1.0
    assert rows[3]["triangles"] == 3 and rows[3]["degree"] == 4
    assert rows[4]["triangles"] == 0 and rows[4]["clustering"] == 0.0
    # hub star (the skew shape): no triangles at all
    star = [(100, i) for i in range(20)]
    srows = triangles(_df(spark, star)).collect()
    assert all(r["triangles"] == 0 for r in srows)
    # duplicate + reversed + self-loop edges collapse to the simple graph
    noisy = k4 + [(1, 0), (0, 0), (2, 1), (3, 3)]
    nrows = {r["node"]: r["triangles"] for r in triangles(_df(spark, noisy)).collect()}
    assert nrows == {n: rows[n]["triangles"] for n in rows}
