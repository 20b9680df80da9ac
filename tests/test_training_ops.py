"""Training-data ops: dedup / similarity / textstats / media plumbing."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from ocr_spark.operators import dedup as D
from ocr_spark.operators import media as MM
from ocr_spark.operators import similarity as SIM
from ocr_spark.operators import textstats as TS

DOCS = [
    ("a", "the quick brown fox jumps over the lazy dog"),
    ("b", "the quick brown fox jumps over the lazy dog"),  # exact dup of a
    ("c", "the quick brown fox jumps over a sleepy dog today"),  # near dup
    ("d", "completely unrelated text about spark engines and shuffles"),
    ("e", "der hund und die katze sind nicht da und das ist gut"),
    ("f", ""),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id string, text string")


# --- python goldens for hash ops --------------------------------------------


def py_words(t):
    import re

    s = (t or "").lower().strip()
    return re.split(r"\s+", s) if s else []


def py_shingles(t, k=3):
    w = py_words(t)
    out = []
    for i in range(max(len(w) - k + 1, 0)):
        g = " ".join(w[i : i + k])
        if g not in out:
            out.append(g)
    return out


def py_md5_int(s, salt):
    return int(hashlib.md5(f"{salt}:{s}".encode()).hexdigest()[:8], 16)


def py_minhash(t, k=16):
    sh = py_shingles(t)
    return [min((py_md5_int(s, i) for s in sh), default=-1) for i in range(k)]


def py_char_hash(w):
    h = 0
    for ch in w:
        h = (h * TS.CHAR_BASE + ord(ch)) % TS.FNV_MOD
    return h


def py_fingerprint(t):
    h = 0
    for w in py_words(t):
        h = (h * TS.WORD_BASE + py_char_hash(w)) % TS.FNV_MOD
    return h


def py_simhash(t):
    words = list(dict.fromkeys(py_words(t)))
    votes = [0] * D.SIMHASH_BITS
    for w in words:
        h = int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
        for b in range(D.SIMHASH_BITS):
            votes[b] += 1 if (h >> b) & 1 else -1
    return sum(1 << b for b in range(D.SIMHASH_BITS) if votes[b] > 0)


# --- dedup -------------------------------------------------------------------


def test_dedup_exact(docs_df):
    rows = {r["doc_id"]: r for r in D.dedup_exact(docs_df).collect()}
    assert rows["a"]["keep"] is True
    assert rows["b"]["keep"] is False and rows["b"]["group_size"] == 2
    assert rows["c"]["keep"] is True and rows["c"]["group_size"] == 1


def test_minhash_signature_matches_python(spark, docs_df):
    out = docs_df.select(
        "doc_id", D.minhash_feats_pandas(F.col("text"))["sigs"].alias("sig")
    ).collect()
    for r in out:
        t = dict(DOCS)[r["doc_id"]]
        assert list(r["sig"]) == py_minhash(t), r["doc_id"]


def py_lsh_pairs(docs, threshold=0.5, band_size=4, num_hashes=16):
    """Python golden of the full LSH pipeline."""
    sigs = {d: py_minhash(t, num_hashes) for d, t in docs}
    bands = {
        d: [
            "_".join([str(b)] + [str(x) for x in sig[b * band_size : (b + 1) * band_size]])
            for b in range(num_hashes // band_size)
        ]
        for d, sig in sigs.items()
    }
    pairs = {}
    ids = [d for d, _ in docs]
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if set(bands[a]) & set(bands[b]):
                sa, sb = set(py_shingles(dict(docs)[a])), set(py_shingles(dict(docs)[b]))
                jac = len(sa & sb) / len(sa | sb) if (sa | sb) else 0.0
                if jac >= threshold:
                    pairs[(a, b)] = jac
    return pairs


def test_minhash_lsh_matches_python_golden(docs_df):
    got = {(r["a_id"], r["b_id"]): r["jaccard"] for r in D.dedup_minhash_lsh(docs_df).collect()}
    want = py_lsh_pairs(DOCS)
    assert set(got) == set(want)
    for k in want:
        assert math.isclose(got[k], want[k], rel_tol=1e-12)
    assert got[("a", "b")] == 1.0  # exact dup always collides
    assert ("a", "d") not in got


def test_ngram_jaccard(docs_df):
    pairs = {(r["a_id"], r["b_id"]): r["jaccard"] for r in D.dedup_ngram_jaccard(docs_df).collect()}
    assert pairs[("a", "b")] == 1.0
    # golden jaccard for (a, c)
    sa, sc = set(py_shingles(DOCS[0][1])), set(py_shingles(DOCS[2][1]))
    want = len(sa & sc) / len(sa | sc)
    assert math.isclose(pairs[("a", "c")], want, rel_tol=1e-12)


def test_simhash_matches_python(docs_df):
    out = {r["doc_id"]: r["simhash"] for r in D.dedup_simhash(docs_df).collect()}
    for doc_id, t in DOCS:
        assert out[doc_id] == py_simhash(t), doc_id
    # near-dups are close in hamming distance
    ham = bin(out["a"] ^ out["c"]).count("1")
    ham_far = bin(out["a"] ^ out["d"]).count("1")
    assert ham < ham_far


# --- embeddings / similarity --------------------------------------------------


@pytest.fixture(scope="module")
def emb_df(spark):
    rng = np.random.RandomState(0)
    base = rng.randn(4, 8)
    rows = []
    for i in range(12):
        v = base[i % 4] + rng.randn(8) * 0.05  # 4 clusters
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_embedding_cosine_neardup(emb_df):
    pairs = D.dedup_embedding_cosine(emb_df, threshold=0.98).collect()
    assert len(pairs) > 0
    for r in pairs:
        assert r["a_id"] % 4 == r["b_id"] % 4  # only same-cluster pairs


def test_topk_bruteforce(emb_df):
    queries = emb_df.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    out = SIM.topk_bruteforce(emb_df, queries, k=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        assert [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])] == [1, 2, 3]
        top = min(rows, key=lambda r: r["rank"])
        assert top["neighbor_id"] % 4 == q % 4  # nearest is same cluster


def test_topk_lsh_subset_of_bucket(emb_df):
    queries = emb_df.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    out = SIM.topk_lsh(emb_df, queries, k=3).collect()
    assert len(out) > 0
    for r in out:
        assert r["query_id"] != r["neighbor_id"]


def test_lsh_signature_deterministic(emb_df):
    a = emb_df.select(SIM.lsh_signature(F.col("embedding")).alias("s")).collect()
    b = emb_df.select(SIM.lsh_signature(F.col("embedding")).alias("s")).collect()
    assert [r["s"] for r in a] == [r["s"] for r in b]


def test_ngram_overlap_counts_golden(spark):
    """Exact clipped counts vs a brute-force python BLEU-count pass."""
    from ocr_spark.operators import textstats as TSm
    import collections

    cases = [
        (1, "the cat the cat sat", "the cat sat on the mat"),
        (2, "", "some reference text"),
        (3, "identical words here", "identical words here"),
    ]
    pairs = spark.createDataFrame(
        cases, "doc_id long, extracted string, ground_truth string"
    )
    got = {(r["doc_id"], r["n"]): r for r in TSm.ngram_overlap_counts(pairs).collect()}
    for doc_id, hyp, ref in cases:
        hw, rw = hyp.split(), ref.split()
        for n in range(1, 5):
            hg = collections.Counter(tuple(hw[i:i+n]) for i in range(len(hw) - n + 1))
            rg = collections.Counter(tuple(rw[i:i+n]) for i in range(len(rw) - n + 1))
            match = sum(min(c, rg[g]) for g, c in hg.items())
            r = got[(doc_id, n)]
            assert r["match_grams"] == match, (doc_id, n)
            assert r["hyp_grams"] == sum(hg.values())
            assert r["ref_grams"] == sum(rg.values())


def test_dedup_eval_embedding_scorecard(spark):
    """LSH pairs are exact-verified, so precision is pinned 1.0; recall
    reflects bucketing only."""
    from ocr_spark.plans import entry_queries as EQ

    rows = EQ.QUERIES["dedup_eval_embedding"](spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["fp"] == 0 and (r["tp"] == 0 or r["precision"] == 1.0)
    assert 0.0 <= r["recall"] <= 1.0


def test_curate_decisions_conjunction(spark):
    """final_keep is exactly the AND of the four stage bits on real data."""
    from ocr_spark.plans import entry_queries as EQ

    rows = EQ.QUERIES["curate_decisions"](spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 500
    for r in rows:
        assert r["final_keep"] == (
            r["gopher_keep"] and r["dedup_keep"] and r["cls_keep"] and r["mix_in"]
        )
    # the classifier and mix gates discriminate on this corpus; the Gopher
    # battery rejects the short synthetic docs wholesale (its feature
    # columns in the `gopher_quality` query show the 50-word floor doing
    # it), and the raw table has no exact dupes — both uniform, by design
    cls_vals = {r["cls_keep"] for r in rows}
    mix_vals = {r["mix_in"] for r in rows}
    assert cls_vals == {True, False} and mix_vals == {True, False}
    assert all(r["dedup_keep"] for r in rows)


def test_ngram_novelty_shared_vs_unique(spark):
    from ocr_spark.operators import textstats as TSm

    shared = "the exact same sentence appears here"
    docs = spark.createDataFrame(
        [
            (1, shared), (2, shared),                      # clones: 0 novelty
            (3, "a perfectly unique line of original text"),
            (4, "xy"),                                     # < 3 words
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in TSm.ngram_novelty(docs, n=3).collect()}
    assert out[1]["novelty"] == 0.0 and out[2]["novelty"] == 0.0
    assert out[3]["novelty"] == 1.0
    assert out[3]["n_distinct_grams"] == 5  # 7 words -> 5 trigrams, all distinct
    assert out[4] == out[4]  # present
    assert out[4]["n_distinct_grams"] == 0 and out[4]["novelty"] == 0.0


def test_vocab_coverage_python_golden(spark):
    """Exact parity with a brute-force python cumulative-coverage pass."""
    from ocr_spark.operators import textstats as TSm
    import collections

    texts = ["a a a a b b c", "a b b d e", "f g a a"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    cnt = collections.Counter(w for t in texts for w in t.split())
    total = sum(cnt.values())
    out = {r["target_permille"]: r for r in TSm.vocab_coverage(docs).collect()}
    for tp, row in out.items():
        # whole-count-value semantics: vocab = all terms with c >= cutoff
        kept = [c for c in cnt.values() if c >= row["cutoff_count"]]
        assert row["vocab_terms"] == len(kept)
        assert row["covered_mass"] == sum(kept)
        assert row["total_mass"] == total
        assert row["covered_mass"] * 1000 >= tp * total
        # minimality: the next-larger cutoff (smaller vocab) must miss target
        bigger = sorted({c for c in cnt.values() if c > row["cutoff_count"]})
        if bigger:
            smaller_mass = sum(c for c in cnt.values() if c >= bigger[0])
            assert smaller_mass * 1000 < tp * total


def test_cooccur_ppmi_pairs_and_window(spark):
    from ocr_spark.operators import textstats as TSm

    # "aa bb" always adjacent (collocation); "cc" floats alone
    docs = spark.createDataFrame(
        [(i, "aa bb filler%d cc other%d aa bb" % (i, i)) for i in range(6)],
        "doc_id long, text string",
    )
    out = {(r["term_a"], r["term_b"]): r for r in
           TSm.cooccur_ppmi(docs, window=2, min_count=3).collect()}
    assert ("aa", "bb") in out
    r = out[("aa", "bb")]
    assert r["n_pairs"] == 12  # two adjacent aa-bb per doc x 6
    assert r["ppmi_bits"] >= 1
    for (a, b) in out:
        assert a < b  # canonical unordered pairs


def test_cooccur_ppmi_python_golden(spark):
    """Exact pair counts vs a brute-force python window counter."""
    from ocr_spark.operators import textstats as TSm
    import itertools, collections

    texts = ["the quick brown fox the quick", "brown the the fox", ""]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    W = 3
    want = collections.Counter()
    for t in texts:
        ws = t.split()
        for i in range(len(ws)):
            for j in range(i + 1, min(i + W, len(ws))):
                want[tuple(sorted((ws[i], ws[j])))] += 1
    got = {(r["term_a"], r["term_b"]): r["n_pairs"]
           for r in TSm.cooccur_ppmi(docs, window=W - 1, min_count=1).collect()}
    # operator filters ppmi_bits >= 1; compare on the pairs it emits
    for k, v in got.items():
        assert want[k] == v


def test_tfidf_terms_ranks_rare_terms(spark):
    from ocr_spark.operators import textstats as TSm

    docs = spark.createDataFrame(
        [
            (1, "common common common zebra common"),
            (2, "common words here too"),
            (3, "common common again and again"),
            (4, "common filler filler"),
        ],
        "doc_id long, text string",
    )
    out = [r for r in TSm.tfidf_terms(docs, k=2).collect() if r["doc_id"] == 1]
    by_rank = {r["rank"]: r for r in out}
    # zebra (df=1, bits(4)-bits(1)=2, tf=1 -> 2) beats common
    # (df=4, bits(4)-bits(3)=1 ... df=4 -> bits diff 0 -> score 0)
    assert by_rank[1]["term"] == "zebra"
    assert by_rank[1]["score"] == 1 * (3 - 1)
    assert by_rank[2]["term"] == "common" and by_rank[2]["score"] == 0
    # determinism + exact integers
    for r in out:
        assert isinstance(r["score"], int) and r["df"] >= 1


def test_keyword_tags_positions_and_counts(spark):
    from ocr_spark.operators import textstats as TSm

    docs = spark.createDataFrame(
        [
            (1, "New York is big. I love New York City"),
            (2, "york new york"),
            (3, "nothing here"),
        ],
        "doc_id long, text string",
    )
    phrases = spark.createDataFrame(
        [("new york",), ("new york city",), ("york",), ("absent phrase",)],
        "phrase string",
    )
    out = {(r["doc_id"], r["phrase"]): r for r in TSm.keyword_tags(docs, phrases).collect()}
    # doc 1: "new york" at words 1 and 7 (lowered, punctuation kept in tokens)
    assert out[(1, "new york")]["n_hits"] == 2
    assert out[(1, "new york")]["first_pos"] == 1
    assert out[(1, "new york city")]["n_hits"] == 1
    assert out[(1, "new york city")]["first_pos"] == 7
    assert out[(1, "york")]["n_hits"] == 2 and out[(1, "york")]["first_pos"] == 2
    assert out[(2, "new york")]["n_hits"] == 1 and out[(2, "new york")]["first_pos"] == 2
    assert out[(2, "york")]["n_hits"] == 2 and out[(2, "york")]["first_pos"] == 1
    assert not any(p == "absent phrase" for (_, p) in out)
    assert not any(d == 3 for (d, _) in out)
    # shuffle-join fallback (broadcast_max=0) is result-identical
    out2 = {
        (r["doc_id"], r["phrase"]): (r["n_hits"], r["first_pos"])
        for r in TSm.keyword_tags(docs, phrases, broadcast_max=0).collect()
    }
    assert out2 == {k: (v["n_hits"], v["first_pos"]) for k, v in out.items()}


def test_doremi_mix_upweights_hard_domains(spark):
    from ocr_spark.operators import textstats as TSm

    # easy: context count == pair count everywhere -> 0-bit surprisal
    easy = "alpha beta " * 40
    rows = [(i, easy, "easy") for i in range(8)]
    # hard: every bigram "the w_k" has a COMMON context ("the") but a
    # count-1 pair -> bits(320) - bits(1) = 8 bits (avoids the documented
    # self-trained hapax blind spot where unique contexts score 0)
    for i in range(8, 16):
        ws = " ".join("the w%d" % (i * 40 + j) for j in range(40))
        rows.append((i, ws, "hard"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["domain"]: r for r in TSm.doremi_mix(docs).collect()}
    assert set(out) == {"easy", "hard"}
    # weights normalize exactly (fold is deterministic): sum to 1 bit-exact
    assert abs(out["easy"]["weight"] + out["hard"]["weight"] - 1.0) < 1e-12
    # the high-surprisal domain gains weight over its token share
    g_tot = out["easy"]["grams"] + out["hard"]["grams"]
    assert out["hard"]["weight"] > out["hard"]["grams"] / g_tot
    assert out["easy"]["weight"] < out["easy"]["grams"] / g_tot
    assert out["hard"]["excess_bits"] > 0 >= out["easy"]["excess_bits"]
    for r in out.values():
        assert -60 <= r["excess_bits"] <= 60


def test_minhash_band_planner_scurve(spark):
    from ocr_spark.operators import dedup as DDm

    rows = {(r["bands"], r["jaccard"]): r["p_capture"]
            for r in DDm.minhash_band_planner(spark).collect()}
    import math
    # matches the closed form within rounding for the production 4x4 config
    for j in (0.2, 0.5, 0.8):
        want = 1 - (1 - j ** 4) ** 4
        assert abs(rows[(4, j)] - want) < 1e-6
    # monotone in j for fixed config; b=16/r=1 dominates b=1/r=16 everywhere
    assert rows[(4, 0.2)] < rows[(4, 0.5)] < rows[(4, 0.8)]
    for j in (0.2, 0.5, 0.8):
        assert rows[(16, j)] > rows[(1, j)]


def test_simhash_pairs_and_pair_prf(docs_df, spark):
    """simhash_pairs finds the near-dup (a, c); pair_prf counts are exact."""
    from ocr_spark.operators import dedup as DDm
    shp = DDm.simhash_pairs(docs_df, max_hamming=20, id_col="doc_id").collect()
    assert all(r["a_id"] < r["b_id"] for r in shp)
    truth = spark.createDataFrame([("a", "c"), ("a", "x")], "a_id string, b_id string")
    pred = spark.createDataFrame([("a", "c"), ("b", "d")], "a_id string, b_id string")
    row = DDm.pair_prf(truth, pred, "t").collect()[0]
    assert (row["tp"], row["fp"], row["fn"]) == (1, 1, 1)
    assert row["precision"] == 0.5 and row["recall"] == 0.5
    empty = truth.limit(0)
    row0 = DDm.pair_prf(empty, empty, "z").collect()[0]
    assert (row0["tp"], row0["fp"], row0["fn"]) == (0, 0, 0)
    assert row0["precision"] == 0.0 and row0["recall"] == 0.0


def test_bitext_mine_recovers_alignment(spark):
    """6 aligned pairs (b_i = a_i + tiny noise) + one unaligned distractor
    in B: the miner must return exactly the true alignment, margin > 1."""
    rng = np.random.RandomState(7)
    base = rng.randn(6, 8) * 2.0
    rows = []
    for i in range(6):
        rows.append((i * 2, [float(x) for x in base[i] + rng.randn(8) * 0.01]))
        rows.append((i * 2 + 1, [float(x) for x in base[i] + rng.randn(8) * 0.01]))
    rows.append((101, [float(x) for x in rng.randn(8) * 5.0]))  # distractor (odd id)
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    out = SIM.bitext_mine(a, b, k=3, margin_threshold=1.0).collect()
    got = {r["a_id"]: r["b_id"] for r in out}
    assert got == {i * 2: i * 2 + 1 for i in range(6)}
    for r in out:
        assert r["margin"] > 1.0
        assert 0.99 < r["cosine"] <= 1.0


def test_bitext_mine_threshold_and_uniqueness(spark):
    rng = np.random.RandomState(3)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    lo = SIM.bitext_mine(a, b, k=3, margin_threshold=0.0).collect()
    hi = SIM.bitext_mine(a, b, k=3, margin_threshold=1.2).collect()
    # one row per a_id, and raising the threshold only shrinks the result
    assert len({r["a_id"] for r in lo}) == len(lo)
    hi_pairs = {(r["a_id"], r["b_id"]) for r in hi}
    lo_pairs = {(r["a_id"], r["b_id"]) for r in lo}
    assert hi_pairs <= lo_pairs
    assert all(r["margin"] >= 1.2 for r in hi)


def test_label_outliers_flags_planted_mislabel(spark):
    """Two tight clusters; one point of cluster A labeled B must be the
    unique mislabel flag, with exact integer distances."""
    rng = np.random.RandomState(4)
    a = rng.randn(8) * 3.0
    b = -a
    rows = []
    for i in range(5):
        rows.append((i, [float(x) for x in a + rng.randn(8) * 0.01], 0))
    for i in range(5, 10):
        rows.append((i, [float(x) for x in b + rng.randn(8) * 0.01], 1))
    rows.append((10, [float(x) for x in a + rng.randn(8) * 0.01], 1))  # planted
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r["vec_id"]: r for r in SIM.label_outliers(emb).collect()}
    assert len(out) == 11
    assert out[10]["mislabeled"] and out[10]["best_other_label"] == 0
    assert all(not out[i]["mislabeled"] for i in range(10))
    for r in out.values():
        assert isinstance(r["d_own"], int) and r["d_own"] >= 0


def test_label_outliers_excludes_ragged_and_null(spark):
    rows = [
        (0, [1.0, 0.0], 0), (1, [0.9, 0.1], 0),
        (2, [0.0, 1.0], 1), (3, [0.1, 0.9], 1),
        (4, None, 0), (5, [1.0, 0.0, 0.0], 1),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {r["vec_id"] for r in SIM.label_outliers(emb).collect()}
    assert got == {0, 1, 2, 3}


def test_topk_bruteforce_exclude_group(emb_df, spark):
    """The same-group mask: with labels = vec_id % 4 (the cluster id), every
    returned neighbor has a different label than its query, and equals the
    brute-force answer over the filtered candidate set."""
    lab = emb_df.withColumn("label", F.col("vec_id") % 4)
    queries = lab.limit(3).select(F.col("vec_id").alias("query_id"), "embedding", "label")
    out = SIM.topk_bruteforce(
        lab, queries, k=3, query_id_col="query_id", exclude_group_col="label"
    ).collect()
    assert out
    for r in out:
        assert r["query_id"] % 4 != r["neighbor_id"] % 4
    # parity with filter-then-rank over the complement corpus, per query
    for q in {r["query_id"] for r in out}:
        comp = lab.filter(F.col("vec_id") % 4 != q % 4)
        qdf = lab.filter(F.col("vec_id") == q).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        want = {
            (r["neighbor_id"], r["rank"])
            for r in SIM.topk_bruteforce(comp, qdf, k=3, query_id_col="query_id").collect()
        }
        got = {(r["neighbor_id"], r["rank"]) for r in out if r["query_id"] == q}
        assert got == want


def test_bitext_mine_lsh_tier_contract(spark):
    """knn_fn=topk_lsh (the bucketed 10^12-row tier) plugs in unchanged and
    mines a subset-quality alignment: pairs it finds at a threshold are a
    subset of the exact tier's candidate universe with identical margins
    for identical pairs recovered."""
    rng = np.random.RandomState(7)
    base = rng.randn(6, 8) * 2.0
    rows = []
    for i in range(6):
        rows.append((i * 2, [float(x) for x in base[i] + rng.randn(8) * 0.01]))
        rows.append((i * 2 + 1, [float(x) for x in base[i] + rng.randn(8) * 0.01]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    out = SIM.bitext_mine(a, b, k=3, margin_threshold=1.0, knn_fn=SIM.topk_lsh)
    got = {r["a_id"]: r["b_id"] for r in out.collect()}
    true = {i * 2: i * 2 + 1 for i in range(6)}
    assert got  # LSH collides aligned near-identical vectors
    assert all(true[aid] == bid for aid, bid in got.items())


def test_plane_signs_are_diverse():
    """Regression: the old LCG-parity plane hash collapsed every plane to
    one of TWO ±1 patterns (odd multiplier preserves parity of p+j)."""
    planes = SIM.plane_signs(16, 32)
    assert len({tuple(p) for p in planes}) == 16
    # roughly balanced signs
    flat = [s for p in planes for s in p]
    assert 0.35 < flat.count(1) / len(flat) < 0.65


def test_multiset_signatures_pandas_matches_expression(emb_df):
    expr = emb_df.select(
        "vec_id", SIM.multiset_signatures(F.col("embedding"), bits=4, sets=6).alias("s")
    ).collect()
    fast = emb_df.select(
        "vec_id", SIM.multiset_signatures_pandas(F.col("embedding"), bits=4, sets=6).alias("s")
    ).collect()
    assert {r["vec_id"]: r["s"] for r in expr} == {r["vec_id"]: r["s"] for r in fast}


def py_quant_cosine_pairs(rows, threshold):
    """All-pairs quantized-cosine golden (the demoted exact form)."""
    out = {}
    ids = [r[0] for r in rows]
    qs = [np.where(np.asarray(v) * 1000 >= 0,
                   np.floor(np.asarray(v, dtype=np.float64) * 1000 + 0.5),
                   np.ceil(np.asarray(v, dtype=np.float64) * 1000 - 0.5)) for _, v in rows]
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            na, nb = (qs[i] ** 2).sum(), (qs[j] ** 2).sum()
            c = float(qs[i] @ qs[j] / (np.sqrt(na) * np.sqrt(nb))) if na > 0 and nb > 0 else 0.0
            c = math.floor(abs(c) * 1e6 + 0.5) / 1e6 * (1 if c >= 0 else -1)
            if c >= threshold:
                a, b = sorted((ids[i], ids[j]))
                out[(a, b)] = c
    return out


def test_embedding_blocked_gemm_exact(emb_df):
    """Blocked GEMM must equal the all-pairs golden for every block count."""
    rows = [(r["vec_id"], list(r["embedding"])) for r in emb_df.collect()]
    want = py_quant_cosine_pairs(rows, 0.9)
    for nb in (1, 3, 8):
        got = {
            (r["a_id"], r["b_id"]): r["cosine"]
            for r in D.dedup_embedding_cosine(emb_df, threshold=0.9, num_blocks=nb).collect()
        }
        assert set(got) == set(want), nb
        for k in want:
            assert math.isclose(got[k], want[k], rel_tol=1e-9), (nb, k)


def py_semdedup(rows, threshold, n_cells, scale=1000):
    """Pure-python SemDeDup golden replaying the operator's quantized
    arithmetic: seeded codebook, argmax cell assignment, within-cell
    pairwise cosine, keep-lowest-centroid-cosine."""

    def quant(v):
        m = np.asarray(v, dtype=np.float64) * scale
        return np.where(m >= 0, np.floor(m + 0.5), np.ceil(m - 0.5))

    ids = sorted(r[0] for r in rows)
    byid = dict(rows)
    cents = [quant(byid[i]) for i in ids[:n_cells]]
    cn = [float(np.sqrt((c * c).sum())) for c in cents]

    def cos(a, na, b, nb):
        return float(a @ b) / (na * nb) if na > 0 and nb > 0 else 0.0

    asgn = {}
    for i in ids:
        q = quant(byid[i])
        nq = float(np.sqrt((q * q).sum()))
        scored = [(cos(q, nq, c, n), -ci) for ci, (c, n) in enumerate(zip(cents, cn))]
        best = max(range(n_cells), key=lambda ci: scored[ci])
        asgn[i] = (best, scored[best][0])
    losers = set()
    for a in ids:
        for b in ids:
            if a >= b or asgn[a][0] != asgn[b][0]:
                continue
            qa, qb = quant(byid[a]), quant(byid[b])
            na, nb = float(np.sqrt((qa * qa).sum())), float(np.sqrt((qb * qb).sum()))
            if round(cos(qa, na, qb, nb), 6) >= threshold:
                losers.add(max((asgn[a][1], a), (asgn[b][1], b))[1])
    return asgn, losers


def test_semdedup_matches_golden(emb_df):
    rows = [(r["vec_id"], list(r["embedding"])) for r in emb_df.collect()]
    asgn, losers = py_semdedup(rows, threshold=0.9, n_cells=4)
    got = {r["vec_id"]: r for r in D.semdedup(emb_df, threshold=0.9, n_cells=4).collect()}
    assert len(got) == len(rows)  # one verdict per input, none dropped
    assert losers, "fixture should contain semantic dups"
    for i, (cell, cent) in asgn.items():
        assert got[i]["cell"] == cell, i
        assert math.isclose(got[i]["cent_cos"], round(cent, 6), rel_tol=1e-9), i
        assert got[i]["kept"] == (i not in losers), i


def test_semdedup_keep_low_policy(spark):
    """In a duplicate pair the member with the HIGHER centroid cosine is
    dropped (Abbas et al.'s keep-low: the far-from-center example carries
    more marginal information)."""
    rows = [
        (0, [1.0] + [0.0] * 7),            # codebook centroid 0
        (1, [0.0, 1.0] + [0.0] * 6),       # codebook centroid 1
        (2, [0.72, 0.3] + [0.0] * 6),      # cell 0 (cos to centroid ≈0.92)
        (3, [0.66, 0.4] + [0.0] * 6),      # cell 0, farther (≈0.86); cos(2,3)≈0.99
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r for r in D.semdedup(df, threshold=0.95, n_cells=2).collect()}
    assert got[2]["cell"] == 0 and got[3]["cell"] == 0
    assert got[2]["cent_cos"] > got[3]["cent_cos"]
    assert not got[2]["kept"]  # closer-to-centroid member loses
    assert got[3]["kept"]
    assert got[0]["kept"] and got[1]["kept"]


def test_embedding_lsh_high_threshold_recall(spark):
    """At real dedup thresholds (cos >= 0.95) the LSH path recovers every
    pair the exact form finds (same-cluster near-identical vectors)."""
    rng = np.random.RandomState(7)
    base = rng.randn(6, 16)
    rows = []
    for i in range(30):
        v = base[i % 6] + rng.randn(16) * 0.01  # tight clusters → cos ≈ 0.999
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {(r["a_id"], r["b_id"]) for r in
             D.dedup_embedding_cosine(df, threshold=0.95, num_blocks=2).collect()}
    approx = {(r["a_id"], r["b_id"]) for r in
              D.dedup_embedding_lsh(df, threshold=0.95, bits=8, sets=8).collect()}
    assert exact, "fixture should contain true near-dups"
    assert approx <= exact  # LSH never invents pairs (same verify expression)
    assert len(approx) / len(exact) == 1.0  # full recall on tight clusters


# --- textstats -----------------------------------------------------------------


def test_fingerprint_matches_python(docs_df):
    out = {r["doc_id"]: r["fp"] for r in docs_df.select("doc_id", TS.fingerprint(F.col("text")).alias("fp")).collect()}
    for doc_id, t in DOCS:
        assert out[doc_id] == py_fingerprint(t), doc_id


def test_language_id(docs_df):
    out = {r["doc_id"]: r["lang"] for r in docs_df.select("doc_id", TS.language_id(F.col("text")).alias("lang")).collect()}
    assert out["a"] == "en"
    assert out["e"] == "de"
    assert out["f"] == "und"


def test_token_counts(docs_df):
    out = docs_df.select(
        "doc_id",
        TS.token_count_ws(F.col("text")).alias("ws"),
        TS.token_count_bpe(F.col("text")).alias("bpe"),
    ).collect()
    by = {r["doc_id"]: r for r in out}
    assert by["a"]["ws"] == 9
    assert by["f"]["ws"] == 0
    import re

    for doc_id, t in DOCS:
        want = len(re.findall(r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]", t))
        assert by[doc_id]["bpe"] == want


# --- media plumbing -------------------------------------------------------------


def test_media_decode_plumbing(spark):
    from ocr_spark.sources import corpus

    docs = corpus.generate_docs(20, seed=3)
    import pyarrow as pa

    df = spark.createDataFrame(
        pa.Table.from_pylist(docs, schema=corpus.SCHEMA).to_pandas(),
        schema="doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    media = MM.media_spans_to_table(df)
    decoded = MM.decode_media(media).collect()
    n_media = sum(1 for d in docs for s in d["spans"] if s["kind"] == "media")
    assert len(decoded) == n_media
    for r in decoded:
        f, w, h, n = MM._fake_decode(r["media_ref"])
        assert (r["format"], r["width"], r["height"], r["n_frames"]) == (f, w, h, n)
        assert r["decode_ok"] is True


def test_real_decode_is_stubbed():
    with pytest.raises(NotImplementedError):
        MM.real_decode_stub(b"bytes")


def _cc_python(pairs):
    """Union-find ground truth: id -> min id in component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_connected_components_chain_and_disjoint(spark):
    # chain 1-2-3-4 (diameter 3: A~B, B~C transitivity) + clique {10,11,12}
    pairs = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)]
    df = spark.createDataFrame(pairs, "a_id long, b_id long")
    got = {r["id"]: (r["cluster_id"], r["is_canonical"]) for r in D.connected_components(df).collect()}
    assert got == {
        1: (1, True), 2: (1, False), 3: (1, False), 4: (1, False),
        10: (10, True), 11: (10, False), 12: (10, False),
    }


def test_connected_components_fuzz_vs_union_find(spark):
    import random

    rnd = random.Random(42)
    for trial in range(3):
        n = 60
        pairs = sorted({
            tuple(sorted(rnd.sample(range(n), 2))) for _ in range(40 + trial * 20)
        })
        df = spark.createDataFrame([(a, b) for a, b in pairs], "a_id long, b_id long")
        got = {r["id"]: r["cluster_id"] for r in D.connected_components(df).collect()}
        assert got == _cc_python(pairs)


def test_connected_components_nonconvergence_raises(spark):
    df = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "a_id long, b_id long")
    with pytest.raises(RuntimeError, match="converge"):
        D.connected_components(df, max_iter=1)


@pytest.fixture(scope="module")
def ivf_emb_df(spark):
    # 8 well-separated clusters; ids 0-7 are one member of each cluster, so
    # the seed codebook (lowest 8 ids) covers every cluster
    rng = np.random.RandomState(7)
    base = rng.randn(8, 16) * 4
    rows = [
        (i, [float(x) for x in base[i % 8] + rng.randn(16) * 0.05])
        for i in range(200)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_diversity_sample_balanced_and_deterministic(ivf_emb_df):
    """Per-cell cap holds, every cluster contributes, and the selected
    subset is identical across runs and physical layouts."""
    got = SIM.diversity_sample(ivf_emb_df, k_per_cell=4, n_cells=8)
    rows = got.collect()
    per_cell = {}
    for r in rows:
        per_cell.setdefault(r["cell"], []).append(r["sample_rank"])
    # 200 vectors over 8 tight clusters: every cell is populated and capped
    assert set(per_cell) == set(range(8))
    for ranks in per_cell.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)) and len(ranks) <= 4
    assert len(rows) == 32  # 8 cells × 4 (every cluster has ≥4 members)
    again = SIM.diversity_sample(ivf_emb_df.repartition(13), k_per_cell=4, n_cells=8)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again.collect()))


def test_topk_ivf_full_probe_equals_bruteforce(ivf_emb_df):
    """With nprobe = n_cells every cell is probed, so IVF degenerates to
    exact search: row-for-row equal to the brute-force baseline."""
    queries = ivf_emb_df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ivf = SIM.topk_ivf(ivf_emb_df, queries, k=3, n_cells=8, nprobe=8)
    bf = SIM.topk_bruteforce(ivf_emb_df, queries, k=3)
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert sorted(map(tuple, ivf.collect()), key=lambda t: (t[0], t[2])) == sorted(
        map(tuple, bf.collect()), key=lambda t: (t[0], t[2])
    )


def test_topk_ivf_recall_on_clustered_corpus(ivf_emb_df):
    """nprobe=2 of 8 cells: the true neighbors live in the query's own
    cluster=cell, so recall@3 stays perfect while candidate volume drops
    to ~nprobe/n_cells of the corpus."""
    queries = ivf_emb_df.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.topk_ivf(ivf_emb_df, queries, k=3, n_cells=8, nprobe=2).collect()
    }
    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.topk_bruteforce(ivf_emb_df, queries, k=3).collect()
    }
    assert len(ivf & bf) / len(bf) == 1.0
    for q, n in ivf:
        assert q != n


def test_ivf_codebook_deterministic(ivf_emb_df):
    a = SIM.ivf_codebook(ivf_emb_df, n_cells=8)
    b = SIM.ivf_codebook(ivf_emb_df, n_cells=8)
    assert a == b and len(a) == 8


def test_connected_components_long_chain_logarithmic(spark):
    """Pointer doubling: a 300-node path graph must converge in O(log n)
    rounds (max_iter=12 here), where plain one-hop propagation would need
    ~300 — the pathological shape for sorted-id duplicate runs."""
    n = 300
    df = spark.createDataFrame([(i, i + 1) for i in range(n)], "a_id long, b_id long")
    got = D.connected_components(df, max_iter=12).collect()
    assert all(r["cluster_id"] == 0 for r in got)
    assert sum(r["is_canonical"] for r in got) == 1


def test_gopher_quality_flags_repetition(spark):
    import ocr_spark.operators.textstats as TS

    clean = " ".join(
        f"the alpha{i} and beta{i} of gamma{i} delta{i} epsilon{i}" for i in range(12)
    )
    spammy = "buy cheap now " * 40                       # one 3-gram dominates
    dup_lines = "\n".join(["the same exact line here"] * 10 + ["a unique closing line"])
    docs = spark.createDataFrame(
        [(1, clean), (2, spammy), (3, dup_lines)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in TS.gopher_quality(docs).collect()}
    assert got[1]["quality_pass"]
    assert got[1]["frac_top_2gram"] < 0.05 and got[1]["frac_dup_line_chars"] == 0.0
    assert not got[2]["quality_pass"] and got[2]["frac_top_3gram"] > 0.5
    assert not got[3]["quality_pass"] and got[3]["frac_dup_line_chars"] > 0.8
    # fractions are in [0, 1] and mean_word_len is chars-per-word
    for r in got.values():
        for c in ("frac_dup_line_chars", "frac_top_2gram", "frac_top_3gram"):
            assert 0.0 <= r[c] <= 1.0


def test_pii_scrub_redacts_each_kind(spark):
    import ocr_spark.operators.textstats as TS

    df = spark.createDataFrame(
        [(1, "mail a.b+c@test.org or see https://x.io/a?b=1 from 192.168.1.1 call +44 20 7946 0958")],
        "doc_id long, text string",
    )
    p = TS.pii_scrub(F.col("text"))
    r = df.select(*[p[k].alias(k) for k in ("n_url", "n_email", "n_ip", "n_phone", "redacted")]).first()
    assert (r["n_url"], r["n_email"], r["n_ip"], r["n_phone"]) == (1, 1, 1, 1)
    red = r["redacted"]
    for tok in ("<URL>", "<EMAIL>", "<IP>", "<PHONE>"):
        assert tok in red
    assert "test.org" not in red and "192.168" not in red and "x.io" not in red


def test_pii_scrub_no_double_count_inside_url(spark):
    import ocr_spark.operators.textstats as TS

    # the IP lives inside the URL: the URL stage swallows it first
    df = spark.createDataFrame([(1, "go to http://10.0.0.1/path now")], "doc_id long, text string")
    p = TS.pii_scrub(F.col("text"))
    r = df.select(p["n_url"].alias("u"), p["n_ip"].alias("i"), p["redacted"].alias("t")).first()
    assert r["u"] == 1 and r["i"] == 0 and r["t"] == "go to <URL> now"


def test_top_terms_rarity_beats_frequency(spark):
    import ocr_spark.operators.textstats as TS

    # 'common' is in every doc; each doc also has a unique rare term that
    # appears twice. The rare term must outrank the 3x-frequent common one.
    docs = spark.createDataFrame(
        [(i, f"common common common rare{i} rare{i} filler{i}") for i in range(10)],
        "doc_id long, text string",
    )
    top1 = {r["doc_id"]: r["term"] for r in TS.top_terms(docs, k=1).collect()}
    assert top1 == {i: f"rare{i}" for i in range(10)}


def test_audio_chunk_boundaries(spark):
    # 16 kHz, 70 s clip, 30 s chunks -> 30/30/10 s
    decoded = spark.createDataFrame(
        [("1", "m1", 16000, 16000 * 70)],
        "doc_id string, media_ref string, sample_rate long, n_samples long",
    )
    rows = sorted(
        map(tuple, MM.audio_chunk(decoded, chunk_seconds=30).collect()),
        key=lambda t: t[2],
    )
    assert rows == [
        ("1", "m1", 0, 0, 480000),
        ("1", "m1", 1, 480000, 480000),
        ("1", "m1", 2, 960000, 160000),
    ]
    assert sum(r[4] for r in rows) == 16000 * 70  # chunks tile the clip exactly


def test_decode_audio_deterministic(spark):
    refs = spark.createDataFrame([("1", "a"), ("2", "b")], "doc_id string, media_ref string")
    a = sorted(map(tuple, MM.decode_audio(refs).collect()))
    b = sorted(map(tuple, MM.decode_audio(refs).collect()))
    assert a == b
    for r in a:
        assert r[3] in (8000, 16000, 22050, 44100) and r[4] % r[3] == 0


def test_dedup_lines_corpus_keeps_canonical(spark):
    docs = spark.createDataFrame(
        [
            (1, "shared footer\nunique one\n\nshared footer"),
            (2, "unique two\nshared footer"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in D.dedup_lines_corpus(docs).collect()}
    # doc 1 owns the canonical occurrence (min doc_id, min pos); its OWN
    # later repeat and doc 2's copy are both dropped; blank lines survive
    assert got[1]["text"] == "shared footer\nunique one\n"
    assert got[1]["n_lines"] == 4 and got[1]["n_removed"] == 1
    assert got[2]["text"] == "unique two"
    assert got[2]["n_lines"] == 2 and got[2]["n_removed"] == 1


def test_apply_line_dedup_equals_global(spark):
    """Index-and-apply (the resumable bucket path) must match the one-shot
    corpus operator on any bucketing, including bucket-of-one."""
    docs = spark.createDataFrame(
        [
            (1, "shared footer\nalpha\nshared footer"),
            (2, "beta\nshared footer\ngamma"),
            (3, "delta\n\nbeta line"),
        ],
        "doc_id long, text string",
    )
    want = {
        r["doc_id"]: r["text"] for r in D.dedup_lines_corpus(docs).collect()
    }
    idx = D.dup_line_index(docs)
    # apply per single-doc "bucket" — the worst-case split
    got = {}
    for i in (1, 2, 3):
        part = docs.filter(F.col("doc_id") == i)
        got.update(
            {r["doc_id"]: r["text"] for r in D.apply_line_dedup(part, idx).collect()}
        )
    assert got == want


def test_split_assign_stable_and_proportional(spark):
    import ocr_spark.operators.textstats as TS

    df = spark.createDataFrame([(i,) for i in range(20000)], "doc_id long")
    a = df.select("doc_id", TS.split_assign(F.col("doc_id")).alias("s"))
    counts = {r["s"]: r["c"] for r in a.groupBy("s").agg(F.count("*").alias("c")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert 0.97 < counts["train"] / 20000 < 0.99      # ~0.98
    assert 0.005 < counts["val"] / 20000 < 0.015      # ~0.01
    # stability: same ids -> identical assignment on a re-run
    b = df.select("doc_id", TS.split_assign(F.col("doc_id")).alias("s"))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # a different seed reshuffles some assignments
    j = a.withColumnRenamed("s", "s1").join(
        df.select("doc_id", TS.split_assign(F.col("doc_id"), seed="split-v2").alias("s2")),
        "doc_id",
    )
    assert j.filter(F.col("s1") != F.col("s2")).count() > 0


def test_split_by_cluster_leakage_safe(spark):
    """Near-dup cluster members always share a split; unclustered docs get
    exactly their plain split_assign label; assignment is deterministic
    under repartitioning."""
    import ocr_spark.operators.textstats as TS

    docs = spark.createDataFrame([(i,) for i in range(5000)], "doc_id long")
    # synthetic near-dup graph: {10k, 10k+1, 10k+2} form one cluster each
    pairs = spark.createDataFrame(
        [(b, b + 1) for b in range(0, 5000, 10)]
        + [(b + 1, b + 2) for b in range(0, 5000, 10)],  # chain, not clique
        "a_id long, b_id long",
    )
    clusters = D.connected_components(pairs)
    got = TS.split_by_cluster(docs, clusters)

    # 1) no near-dup pair straddles a boundary: one split per cluster
    per_cluster = (
        got.filter(F.col("doc_id") % 10 <= 2)
        .groupBy("split_key")
        .agg(F.countDistinct("split").alias("n"))
    )
    assert per_cluster.filter(F.col("n") != 1).count() == 0
    # every chain member keys on the cluster min
    keyed = {r["doc_id"]: r["split_key"] for r in got.collect()}
    for b in range(0, 5000, 10):
        assert keyed[b] == keyed[b + 1] == keyed[b + 2] == b

    # 2) unclustered docs match the plain per-doc assignment bit-for-bit
    plain = docs.select("doc_id", TS.split_assign(F.col("doc_id")).alias("plain"))
    diff = (
        got.filter(F.col("doc_id") % 10 > 2)
        .join(plain, "doc_id")
        .filter(F.col("split") != F.col("plain"))
    )
    assert diff.count() == 0

    # 3) deterministic under a different physical layout
    again = TS.split_by_cluster(docs.repartition(7), clusters)
    assert got.exceptAll(again).count() == 0 and again.exceptAll(got).count() == 0


def test_domain_report_dup_factor(spark):
    """Hosts normalize (case/www/port), exact-dup copies collapse into
    n_distinct_texts, and dup_factor = n_docs / n_distinct_texts."""
    import ocr_spark.operators.textstats as TS

    rows = [
        ("https://WWW.Farm.NET/a", "same block"),
        ("https://farm.net:8080/b", "same block"),
        ("http://farm.net/c", "same block"),
        ("https://farm.net/d", "other block"),
        ("https://real.org/x", "unique one"),
        ("https://real.org/y", "unique two"),
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    got = {r["host"]: r for r in TS.domain_report(df).collect()}
    assert set(got) == {"farm.net", "real.org"}
    farm = got["farm.net"]
    assert farm["n_docs"] == 4 and farm["n_distinct_texts"] == 2
    assert farm["dup_factor"] == 2.0
    assert farm["total_chars"] == 3 * len("same block") + len("other block")
    real = got["real.org"]
    assert real["n_docs"] == 2 and real["n_distinct_texts"] == 2
    assert real["dup_factor"] == 1.0


def test_keep_best_in_cluster(spark):
    """The cluster survivor is the max-score member (min id on ties);
    unclustered docs are their own canonical; output covers every doc."""
    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 5), (9, 7)],
        "doc_id long, score long",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "a_id long, b_id long")
    clusters = D.connected_components(pairs)
    got = {
        r["id"]: (r["cluster_id"], r["is_canonical"])
        for r in D.keep_best_in_cluster(docs, clusters, F.col("score")).collect()
    }
    assert got[2] == (1, True)    # top score, min id among the 30-tie
    assert got[3] == (1, False)   # tie loser
    assert got[1] == (1, False)   # lower score despite being cluster min id
    assert got[4] == (4, True) and got[9] == (9, True)  # singletons
    assert len(got) == 5


def test_blocklist_flag_whole_word(spark):
    import ocr_spark.operators.textstats as TS

    df = spark.createDataFrame(
        [(1, "Visit the CASINO now"), (2, "casinos are buildings"), (3, "clean text")],
        "doc_id long, text string",
    )
    b = TS.blocklist_flag(F.col("text"))
    got = {
        r["doc_id"]: (r["n"], r["f"])
        for r in df.select("doc_id", b["n_blocked_terms"].alias("n"), b["blocked"].alias("f")).collect()
    }
    assert got[1] == (1, True)      # case-insensitive whole word
    assert got[2] == (0, False)     # 'casinos' is not a whole-word match
    assert got[3] == (0, False)


def test_connected_components_string_ids(spark):
    """Regression: the old sum(label) fixpoint check cast STRING labels to
    NULL, compared None == None, and returned a half-propagated clustering
    after one round. The chain e~a~d~0 (diameter 3) must fully converge
    on string ids."""
    pairs = [("a", "e"), ("a", "d"), ("d", "0")]
    df = spark.createDataFrame(pairs, "a_id string, b_id string")
    got = {r["id"]: (r["cluster_id"], r["is_canonical"]) for r in D.connected_components(df).collect()}
    assert got == {
        "0": ("0", True), "a": ("0", False), "d": ("0", False), "e": ("0", False),
    }
    assert sum(v[1] for v in got.values()) == 1


def test_audio_chunk_skips_failed_decodes(spark):
    decoded = spark.createDataFrame(
        [("1", "ok", 16000, 16000), ("2", "bad", 0, 0), ("3", "empty", 16000, 0)],
        "doc_id string, media_ref string, sample_rate long, n_samples long",
    )
    rows = MM.audio_chunk(decoded, chunk_seconds=30).collect()
    assert {r["doc_id"] for r in rows} == {"1"}  # bad clips yield no chunks, no crash


def test_decontaminate_flags_ngram_overlap(spark):
    import ocr_spark.operators.textstats as TS

    ev = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "he said the quick brown fox jumps far away"),   # shares 5-grams
            (2, "completely unrelated content about other topics here"),
            (3, "quick brown fox"),                              # < n words shared
            (4, None),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in TS.decontaminate(train, ev, n=5).collect()}
    assert len(got) == 4
    # doc 1 shares exactly "the quick brown fox jumps" and "quick brown fox jumps far"?
    # only grams present in BOTH count: "the quick brown fox jumps" alone.
    assert got[1]["contaminated"] and got[1]["n_contaminated_grams"] == 1
    assert not got[2]["contaminated"] and got[2]["n_contaminated_grams"] == 0
    assert not got[3]["contaminated"]  # too short to form a 5-gram
    assert not got[4]["contaminated"]


def test_pack_sequences_layout(spark):
    import ocr_spark.operators.textstats as TS

    docs = spark.createDataFrame(
        [(i, "tok " * (600 * (i % 3 + 1))) for i in range(20)] + [(99, "")],
        "doc_id long, text string",
    )
    rows = TS.pack_sequences(docs, seq_len=1000, num_shards=4).collect()
    assert len(rows) == 21
    by_shard = {}
    for r in sorted(rows, key=lambda r: (r["shard"], r["doc_id"])):
        # positions are a contiguous concatenation within each shard
        assert r["tok_start"] == by_shard.get(r["shard"], 0)
        by_shard[r["shard"]] = r["tok_start"] + r["n_tokens"]
        assert r["seq_start"] == r["tok_start"] // 1000
        if r["n_tokens"] > 0:
            assert r["seq_end"] == (r["tok_start"] + r["n_tokens"] - 1) // 1000
        else:
            assert r["seq_end"] == r["seq_start"]
        assert r["crosses_boundary"] == (r["seq_end"] > r["seq_start"])
    empty = next(r for r in rows if r["doc_id"] == 99)
    assert empty["n_tokens"] == 0 and not empty["crosses_boundary"]
    # at least one doc straddles a 1000-token cut in this layout
    assert any(r["crosses_boundary"] for r in rows)


def test_gopher_shape_rules(spark):
    import ocr_spark.operators.textstats as TS

    prose = " ".join(
        f"the alpha{i} and beta{i} of gamma{i} delta{i} have epsilon{i} zeta{i}"
        for i in range(15)
    )
    bullets = "\n".join(f"- the item{i} and of" for i in range(20))
    numbers = " ".join("12345 67890 00000 11111 22222" for _ in range(15))
    docs = spark.createDataFrame(
        [(1, prose), (2, bullets), (3, numbers)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in TS.gopher_quality(docs).collect()}
    assert got[1]["quality_pass"] and got[1]["n_stopwords_present"] >= 4
    assert got[2]["frac_bullet_lines"] == 1.0 and not got[2]["quality_pass"]
    assert got[3]["frac_alpha_words"] == 0.0 and not got[3]["quality_pass"]
    assert got[3]["n_stopwords_present"] == 0


def test_domain_flag_host_extraction_and_suffix_match(spark):
    import ocr_spark.operators.textstats as TS

    df = spark.createDataFrame(
        [
            (1, "see https://ads.spamsite.com/offer/1 deal"),   # blocked subdomain
            (2, "read https://example.org/a and http://docs.example.org/b"),  # clean
            (3, "win http://WWW.Casino-Hub.NET/x now"),          # www + case
            (4, "api https://tracker.io:8080/t?d=4"),            # port stripped
            (5, "plain text, no links"),
            (6, "https://notspamsite.com/x"),                    # suffix must not match mid-label
            (7, "creds https://x:y@spamsite.com/u"),             # userinfo stripped
            (8, "line-final https://casino-hub.net\r\nnext"),    # CRLF: no trailing \r in host
        ],
        "doc_id long, text string",
    )
    d = TS.domain_flag(F.col("text"))
    got = {
        r["doc_id"]: (r["n"], r["b"], r["f"])
        for r in df.select(
            "doc_id",
            d["n_urls"].alias("n"),
            d["n_blocked_domains"].alias("b"),
            d["blocked"].alias("f"),
        ).collect()
    }
    assert got[1] == (1, 1, True)
    assert got[2] == (2, 0, False)
    assert got[3] == (1, 1, True)
    assert got[4] == (1, 1, True)
    assert got[5] == (0, 0, False)
    assert got[6] == (1, 0, False)  # 'notspamsite.com' !endswith '.spamsite.com'
    assert got[7] == (1, 1, True)
    assert got[8] == (1, 1, True)


# --- lm surprisal / paragraph dedup / url canon / temperature mix -----------


def test_lm_surprisal_hand_computed(spark):
    # model over the corpus: "a a"->2 (ctx a->3), "a b"->1; "c d"->1 (ctx c->1)
    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "c d"), (3, "one"), (4, "")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in TS.lm_surprisal(df).collect()}
    # doc 1: bits("a a") = bits(3)-bits(2) = 0 (x2); bits("a b") = bits(3)-bits(1) = 1
    assert (got[1]["n_bigrams"], got[1]["total_bits"]) == (3, 1)
    assert got[1]["avg_bits"] == round(1 / 3, 6)
    # hapax artifact: unique context "c" scores 0 bits (documented)
    assert (got[2]["n_bigrams"], got[2]["total_bits"]) == (1, 0)
    # <2 words: zero bigrams, zero score, row survives the left join
    assert (got[3]["n_bigrams"], got[3]["avg_bits"]) == (0, 0.0)
    assert (got[4]["n_bigrams"], got[4]["avg_bits"]) == (0, 0.0)


def test_lm_surprisal_external_model_oov(spark):
    docs = spark.createDataFrame([(1, "x y")], "doc_id long, text string")
    model = spark.createDataFrame([(9, "p q p q")], "doc_id long, text string")
    row = TS.lm_surprisal(docs, model_docs=model).collect()[0]
    assert (row["n_bigrams"], row["total_bits"]) == (1, 20)  # flat OOV penalty


def test_dedup_paragraphs_keeps_first_occurrence_order(spark):
    df = spark.createDataFrame(
        [(1, "b\na\nb\nc\na"), (2, "  \n\nx\n"), (3, None)],
        "doc_id long, text string",
    )
    d = TS.dedup_paragraphs(F.col("text"))
    got = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", d["n_lines"].alias("nl"), d["n_unique"].alias("nu"),
            d["n_removed"].alias("nr"), d["dedup_text"].alias("t"),
        ).collect()
    }
    assert (got[1]["nl"], got[1]["nu"], got[1]["nr"]) == (5, 3, 2)
    assert got[1]["t"] == "b\na\nc"  # reading order, first occurrence
    assert (got[2]["nl"], got[2]["t"]) == (1, "x")  # blanks dropped, trimmed
    assert (got[3]["nl"], got[3]["t"]) == (0, "")


def test_canonical_url_equivalence_classes(spark):
    cases = [
        # six spellings of one page -> one canonical form
        ("http://WWW.X.com:80/a?utm_source=1#top", "http://x.com/a"),
        ("http://x.com/a", "http://x.com/a"),
        ("http://user:pw@x.com/a", "http://x.com/a"),
        ("http://x.com/a/", "http://x.com/a"),
        ("http://x.com/a?utm_a=1&utm_b=2", "http://x.com/a"),
        ("http://x.com/a?fbclid=z", "http://x.com/a"),
        # differences that must SURVIVE canonicalization
        ("http://x.com:8080/a", "http://x.com:8080/a"),      # non-default port
        ("https://x.com/a", "https://x.com/a"),               # scheme
        ("http://x.com/a?q=2&gclid=z", "http://x.com/a?q=2"),  # real param kept
        ("http://x.com/a?utm_a=1&q=2", "http://x.com/a?q=2"),  # leading tracker
        ("http://x.com/a?UTM_SOURCE=mail", "http://x.com/a"),  # mixed-case tracker
        ("http://x.com/a?utm_x=1&", "http://x.com/a"),         # dangling '&' cleaned
        ("http://x.com/a?", "http://x.com/a"),                 # bare '?' cleaned
        ("ftp://x.com/a", ""),                                 # non-http
        (None, ""),
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)], "i long, u string")
    got = {r["i"]: r["c"] for r in df.select("i", TS.canonical_url(F.col("u")).alias("c")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, cases[i][0], got[i])


def test_temperature_sample_rates_and_determinism(spark):
    df = spark.range(0, 300).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "small").otherwise("big").alias("lang"),
    )
    out = TS.temperature_sample(df, "lang", cap=100).collect()
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r["bucket"], []).append(r)
    # small bucket (100 docs) is exactly at cap: rate 1.0, all kept
    assert all(r["rate"] == 1.0 and r["kept"] for r in by_bucket["small"])
    # big bucket (200 docs): rate sqrt(100/200), kept fraction near it
    assert by_bucket["big"][0]["rate"] == round(math.sqrt(0.5), 6)
    kept = sum(r["kept"] for r in by_bucket["big"])
    assert 0.55 * 200 < kept < 0.85 * 200
    # deterministic: same decision on re-run, independent of partitioning
    again = {r["doc_id"]: r["kept"] for r in TS.temperature_sample(
        df.repartition(7), "lang", cap=100).collect()}
    assert all(again[r["doc_id"]] == r["kept"] for r in out)


def test_fix_text_repairs_and_counts(spark):
    df = spark.createDataFrame(
        [(1, "“q” – d… a b\x07c\n\n\n\n\nend"), (2, None), (3, "clean")],
        "doc_id long, text string",
    )
    fx = TS.fix_text(F.col("text"))
    got = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", fx["n_control"].alias("nc"), fx["n_quote"].alias("nq"),
            fx["n_dash"].alias("nd"), fx["n_nbsp"].alias("nn"),
            fx["n_ellipsis"].alias("ne"), fx["fixed"].alias("t"),
        ).collect()
    }
    r = got[1]
    assert (r["nc"], r["nq"], r["nd"], r["nn"], r["ne"]) == (1, 2, 1, 1, 1)
    assert r["t"] == '"q" - d... a bc\n\nend'
    assert got[2]["t"] == "" and got[3]["t"] == "clean"


def test_chunk_documents_tiling_and_edges(spark):
    df = spark.createDataFrame(
        [(1, "w " * 1000), (2, "a b c"), (3, ""), (4, "x " * 512)],
        "doc_id long, text string",
    )
    rows = TS.chunk_documents(df, size=512, overlap=64).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["chunk_id"], r["tok_start"], r["tok_end"]))
    assert sorted(by_doc[1]) == [(0, 0, 512), (1, 448, 960), (2, 896, 1000)]
    assert by_doc[2] == [(0, 0, 3)]
    assert 3 not in by_doc  # empty doc: no chunks (not a descending sequence)
    assert by_doc[4] == [(0, 0, 512)]  # exactly size: one chunk
    # consecutive chunks overlap by exactly `overlap` and cover every token
    for cid, s, e in sorted(by_doc[1])[1:]:
        prev_e = sorted(by_doc[1])[cid - 1][2]
        assert s == prev_e - 64 or prev_e == 1000
    with pytest.raises(ValueError, match="overlap"):
        TS.chunk_documents(df, size=64, overlap=64)


def test_classifier_score_demo_and_weights_table(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, ""), (3, None)],
        "doc_id long, text string",
    )
    # demo-weight path: hand-compute the expected integer score
    import hashlib

    def bucket(w):
        return int(hashlib.md5(f"cls-v1:{w}".encode()).hexdigest()[:12], 16) % TS.CLS_BUCKETS

    def wt(b):
        return (b * TS.CLS_WEIGHT_A) % TS.CLS_WEIGHT_M - TS.CLS_WEIGHT_M // 2

    want_units = wt(bucket("alpha")) * 2 + wt(bucket("beta"))
    got = {r["doc_id"]: r for r in TS.classifier_score(df).collect()}
    assert (got[1]["n_tokens"], got[1]["score_units"]) == (3, want_units)
    assert got[1]["score"] == round(want_units / (3 * TS.CLS_WEIGHT_M), 6)
    assert (got[2]["n_tokens"], got[2]["score"]) == (0, 0.0)
    assert (got[3]["n_tokens"], got[3]["score"]) == (0, 0.0)

    # trained-weights path: a (bucket, weight) table overrides the formula;
    # unlisted buckets weigh 0
    w = spark.createDataFrame(
        [(bucket("alpha"), 100)], "bucket long, weight long"
    )
    got2 = {r["doc_id"]: r for r in TS.classifier_score(df, weights=w).collect()}
    assert got2[1]["score_units"] == 200  # two alphas, beta unlisted -> 0


def test_license_flag_classes(spark):
    df = spark.createDataFrame(
        [
            (1, "© 2019 Some Corp"),
            (2, "Copyright 2021 by X. All rights reserved."),
            (3, "licensed under the APACHE LICENSE v2"),
            (4, "this text is cc-by-sa licensed"),
            (5, "gnu general public license applies; also GPL-3"),
            (6, "plain text mentioning a copyright lawyer"),  # no year: no hit
            (7, None),
        ],
        "doc_id long, text string",
    )
    lf = TS.license_flag(F.col("text"))
    got = {
        r["doc_id"]: (r["c"], r["l"], r["f"])
        for r in df.select(
            "doc_id", lf["n_copyright_marks"].alias("c"),
            lf["n_license_phrases"].alias("l"), lf["flagged"].alias("f"),
        ).collect()
    }
    assert got[1] == (1, 0, True)
    assert got[2] == (2, 0, True)   # 'Copyright 2021' + 'All rights reserved'
    assert got[3] == (0, 1, True)
    assert got[4] == (0, 1, True)
    assert got[5] == (0, 2, True)
    assert got[6] == (0, 0, False)
    assert got[7] == (0, 0, False)


def test_classifier_weights_duplicates_sum_not_fanout(spark):
    df = spark.createDataFrame([(1, "alpha alpha beta")], "doc_id long, text string")
    import hashlib

    def bucket(w):
        return int(hashlib.md5(f"cls-v1:{w}".encode()).hexdigest()[:12], 16) % TS.CLS_BUCKETS

    # duplicate rows for alpha's bucket: must SUM (one row per bucket),
    # never fan out the probe join and inflate n_tokens
    w = spark.createDataFrame(
        [(bucket("alpha"), 10), (bucket("alpha"), 5)], "bucket long, weight long"
    )
    r = TS.classifier_score(df, weights=w).collect()[0]
    assert r["n_tokens"] == 3
    assert r["score_units"] == 2 * 15  # two alphas x summed weight


def test_dsir_importance_ranks_target_like_docs_higher(spark):
    """DSIR (Xie 2023): raw docs written in the target's vocabulary must
    carry a higher length-normalized importance weight than raw docs in a
    disjoint vocabulary, and weights must be exactly reproducible."""
    target_text = "the curated encyclopedia article discusses history and science"
    junk_text = "zzz click buy now cheap deals zzz win prizes casino"
    raw = spark.createDataFrame(
        [(i, target_text) for i in range(5)]
        + [(10 + i, junk_text) for i in range(5)]
        + [(99, "")],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(1000 + i, target_text) for i in range(3)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in TS.dsir_importance(raw, target).collect()}
    from ocr_spark.operators.dedup import release_feature_caches

    release_feature_caches()
    assert len(out) == 11
    # every target-vocabulary doc outranks every junk doc on avg_bits
    assert min(out[i]["avg_bits"] for i in range(5)) > max(
        out[10 + i]["avg_bits"] for i in range(5)
    )
    # featureless doc: zero counts, zero score
    assert (out[99]["n_feats"], out[99]["logw_bits"], out[99]["avg_bits"]) == (0, 0, 0.0)
    # integer-exact determinism: a second run reproduces bit-for-bit
    again = {r["doc_id"]: r for r in TS.dsir_importance(raw, target).collect()}
    release_feature_caches()
    assert all(
        (out[k]["logw_bits"], out[k]["avg_bits"]) == (again[k]["logw_bits"], again[k]["avg_bits"])
        for k in out
    )


def test_dsir_select_topk_order_and_rank(spark):
    raw = spark.createDataFrame(
        [(i, "history science article text") for i in range(4)]
        + [(50 + i, "casino deals spam") for i in range(4)],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(100, "history science article text")], "doc_id long, text string"
    )
    top = TS.dsir_select(raw, target, k=4).collect()
    from ocr_spark.operators.dedup import release_feature_caches

    release_feature_caches()
    assert [r["rank"] for r in top] == [1, 2, 3, 4]
    # the 4 target-like docs win, tie-broken by doc_id ascending
    assert [r["doc_id"] for r in top] == [0, 1, 2, 3]


def test_temperature_sample_null_bucket_gets_a_decision(spark):
    df = spark.createDataFrame(
        [(1, "en"), (2, None), (3, None), (4, "en")], "doc_id long, lang string"
    )
    out = {r["doc_id"]: r for r in TS.temperature_sample(df, "lang", cap=100).collect()}
    assert set(out) == {1, 2, 3, 4}  # NULL-bucket rows are not dropped
    assert out[2]["bucket"] is None and out[2]["n_bucket"] == 2
    assert out[2]["kept"] is True  # under cap: whole bucket kept


def test_dedup_substrings_exactsubstr_semantics(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta unique one two"),
            (2, "prefix words alpha beta gamma delta epsilon zeta suffix here"),
            (3, "alpha beta gamma delta epsilon zeta"),  # whole doc = the repeat
            (4, "totally different content with no repeats at all"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in TS.dedup_substrings(docs, k=6).collect()}
    # canonical occurrence (smallest doc_id, pos) keeps the repeat
    assert got[1]["n_removed"] == 0
    assert got[1]["clean_text"].startswith("alpha beta gamma")
    # later occurrences lose exactly the 6-token window, context survives
    assert got[2]["n_removed"] == 6
    assert got[2]["clean_text"] == "prefix words suffix here"
    # a doc that IS the repeat empties out
    assert (got[3]["n_removed"], got[3]["clean_text"]) == (6, "")
    # no repeats / empty: untouched
    assert got[4]["n_removed"] == 0
    assert (got[5]["n_tokens"], got[5]["clean_text"]) == (0, "")


def test_dedup_substrings_within_doc_repeat(spark):
    # the SAME doc repeating its own window: second occurrence removed
    docs = spark.createDataFrame(
        [(7, "a b c d e f X a b c d e f Y")], "doc_id long, text string"
    )
    r = TS.dedup_substrings(docs, k=6).collect()[0]
    assert r["n_removed"] == 6
    assert r["clean_text"] == "a b c d e f x y"


def test_apply_substr_dedup_matches_expression_twin(spark):
    """The production apply is an Arrow interval-stamping UDF (python
    lower/strip/\\s+ split); the oracle-facing :func:`TS.dedup_substrings`
    keeps the pure-expression form (words_of + per-token exists). The two
    tokenizations and the window-coverage logic must agree byte-for-byte —
    this runs both over a generated corpus plus handcrafted edges
    (unicode whitespace, NBSP, marks at the text tail, self-repeats)."""
    import random

    rnd = random.Random(11)
    vocab = [f"w{i}" for i in range(30)]  # tiny vocab → dense repeats
    rows = [
        (1000, "tab\tseparated tokens tab\tseparated tokens trailing"),
        (1001, "nbsp bound nbsp bound tail words here"),
        (1002, "  leading and trailing whitespace leading and trailing whitespace  "),
        (1003, "short"),
        (1004, ""),
        (1005, None),
        (1006, "a b c d a b c d a b c d"),  # overlapping self-repeats
        (1007, "x y z tail a b c d"),       # repeat ends exactly at the tail
    ]
    rows += [
        (i, " ".join(rnd.choice(vocab) for _ in range(rnd.randrange(0, 40))))
        for i in range(200)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for k in (3, 4):
        marks = TS.substr_marks(docs, k=k)
        got = {r["doc_id"]: r["text"]
               for r in TS.apply_substr_dedup(docs, marks, k=k).collect()}
        w = TS.words_of(F.col("text"))
        expr = (
            docs.join(marks, "doc_id", "left")
            .withColumn(
                "text",
                F.when(F.col("marks").isNull(), F.col("text")).otherwise(
                    F.array_join(TS._kept_tokens(w, F.col("marks"), k), " ")
                ),
            )
            .drop("marks")
        )
        want = {r["doc_id"]: r["text"] for r in expr.collect()}
        assert got == want, k


def test_bloom_filter_no_false_negatives(spark):
    seen = spark.createDataFrame(
        [(i, f"url-{i}") for i in range(0, 300, 3)], "doc_id long, u string"
    )
    probe = spark.createDataFrame(
        [(i, f"url-{i}") for i in range(300)], "doc_id long, u string"
    )
    bloom = D.bloom_build(seen, "u", m_words=64)
    out = {r["doc_id"]: r["maybe_member"]
           for r in D.bloom_probe(probe, "u", bloom, m_words=64).collect()}
    # the Bloom guarantee: every member hits
    assert all(out[i] for i in range(0, 300, 3))
    # at 100 keys in 64*63 bits with 4 hashes, FP rate is ~1e-4 — the
    # non-member side must be overwhelmingly (here: fully) misses
    fp = sum(out[i] for i in range(300) if i % 3)
    assert fp <= 2
    # bit image is non-negative (63 usable bits/word — engine parity)
    assert bloom.filter(F.col("bits") < 0).count() == 0


def test_bloom_filter_tiny_filter_saturates_not_lies(spark):
    # an undersized filter saturates to all-ones: false POSITIVES may
    # explode but members still always hit
    seen = spark.createDataFrame([(i, f"k{i}") for i in range(500)], "doc_id long, u string")
    bloom = D.bloom_build(seen, "u", m_words=2)
    out = {r["doc_id"]: r["maybe_member"]
           for r in D.bloom_probe(seen, "u", bloom, m_words=2).collect()}
    assert all(out.values())


def test_hll_cardinality_accuracy_merge_and_dup_invariance(spark):
    n = 5000
    df = spark.range(n).select(F.col("id").cast("string").alias("v"))
    regs = D.hll_registers(df, "v", p=10)
    est = D.hll_estimate(regs, p=10).collect()[0]
    assert abs(est["estimate"] - n) / n < 0.1  # ~3.3% stderr at p=10
    assert est["m"] == 1024
    # mergeable: per-bucket max of two half-sketches == the full sketch
    r1 = D.hll_registers(df.filter("id < 2500"), "v", p=10)
    r2 = D.hll_registers(df.filter("id >= 2500"), "v", p=10)
    merged = r1.unionByName(r2).groupBy("bucket").agg(F.max("reg").alias("reg"))
    assert D.hll_estimate(merged, p=10).collect()[0] == est
    # duplicate rows never move a register (cardinality, not count)
    dup = D.hll_registers(df.unionByName(df), "v", p=10)
    assert D.hll_estimate(dup, p=10).collect()[0] == est


def test_cms_overcounts_only_and_merges(spark):
    import collections

    rows = [(i, f"k{i % 40}") for i in range(400)] + [(1000 + i, "hot") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, v string")
    true = collections.Counter(v for _, v in rows)
    sketch = D.cms_build(df, "v", w=256, d=4)
    probes = spark.createDataFrame(
        [(i, k) for i, k in enumerate(sorted(true))], "doc_id long, v string"
    )
    got = {r["doc_id"]: r["est"] for r in
           D.cms_estimate(probes, sketch, "v", w=256, d=4).collect()}
    keys = sorted(true)
    for i, k in enumerate(keys):
        assert got[i] >= true[k], k            # never undercounts
        assert got[i] <= true[k] + 600 // 256 * 4 + 40, k  # loose collision bound
    # the heavy hitter reads (near-)exact: collisions only inflate it
    hot_i = keys.index("hot")
    assert got[hot_i] >= 200
    # mergeable: cell-wise sum of two half-sketches == the full sketch
    s1 = D.cms_build(df.filter("doc_id < 300"), "v", w=256, d=4)
    s2 = D.cms_build(df.filter("doc_id >= 300"), "v", w=256, d=4)
    merged = (s1.unionByName(s2).groupBy("row", "cell")
              .agg(F.sum("cnt").cast("long").alias("cnt")))
    got2 = {r["doc_id"]: r["est"] for r in
            D.cms_estimate(probes, merged, "v", w=256, d=4).collect()}
    assert got2 == got
    # absent key: min over cells may collide but usually reads 0/small;
    # at minimum it never errors and never goes negative
    miss = D.cms_estimate(
        spark.createDataFrame([(0, "never-seen-key")], "doc_id long, v string"),
        sketch, "v", w=256, d=4,
    ).collect()[0]["est"]
    assert miss >= 0


def test_sample_per_group_deterministic_and_total(spark):
    docs = spark.createDataFrame(
        [(i, f"g{i % 3}") for i in range(100)], "doc_id long, grp string"
    )
    a = TS.sample_per_group(docs, "grp", k=4).collect()
    b = TS.sample_per_group(docs, "grp", k=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # stable across runs
    by_g = {}
    for r in a:
        by_g.setdefault(r["grp"], []).append(r["sample_rank"])
    assert all(sorted(v) == [1, 2, 3, 4] for v in by_g.values())
    # k beyond the group size returns the whole group, ranked
    small = spark.createDataFrame([(1, "x"), (2, "x")], "doc_id long, grp string")
    assert TS.sample_per_group(small, "grp", k=10).count() == 2


def test_asof_join_golden_with_ties_and_missing(spark):
    from datetime import datetime

    from ocr_spark.operators.timeseries import asof_join

    T = datetime
    left = spark.createDataFrame(
        [
            (1, 10, T(2024, 1, 1, 0, 10)),   # after r at 0:05 → value 5.0
            (2, 10, T(2024, 1, 1, 0, 5)),    # EQUAL ts to right → inclusive match
            (3, 10, T(2024, 1, 1, 0, 1)),    # before any right → nulls
            (4, 20, T(2024, 1, 1, 1, 0)),    # tie: two rights at 0:30 → max event_id wins
            (5, 30, T(2024, 1, 1, 2, 0)),    # key with no right rows at all → nulls
        ],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (100, 10, T(2024, 1, 1, 0, 5), 5.0),
            (101, 20, T(2024, 1, 1, 0, 30), 7.0),
            (102, 20, T(2024, 1, 1, 0, 30), 9.0),  # same ts, higher id → wins
        ],
        "event_id long, user_id long, ts timestamp, value double",
    )
    got = {r["event_id"]: r for r in asof_join(
        left, right, key_col="user_id", ts_col="ts", left_id_col="event_id",
        value_cols=("value",), tie_col="event_id",
    ).collect()}
    assert len(got) == 5
    assert got[1]["value_asof"] == 5.0 and got[1]["ts_asof"] == T(2024, 1, 1, 0, 5)
    assert got[2]["value_asof"] == 5.0          # inclusive at equal ts
    assert got[3]["value_asof"] is None and got[3]["ts_asof"] is None
    assert got[4]["value_asof"] == 9.0          # deterministic tie-break
    assert got[5]["value_asof"] is None


def test_search_topk_ranking_order(spark):
    docs = spark.createDataFrame(
        [
            (1, "spark spark spark"),           # 1 term, tf 3
            (2, "spark shuffle"),               # 2 terms, tf 2 → outranks 1
            (3, "spark shuffle vector vector"), # 3 terms, tf 4 → rank 1
            (4, "nothing relevant here"),       # excluded
            (5, "spark spark spark"),           # ties doc 1 → id breaks
        ],
        "doc_id long, text string",
    )
    got = TS.search_topk(docs, ("spark", "shuffle", "vector"), k=10).collect()
    assert [(r["rank"], r["doc_id"]) for r in got] == [(1, 3), (2, 2), (3, 1), (4, 5)]
    assert got[0]["n_matched"] == 3 and got[0]["tf_sum"] == 4


def test_range_join_buckets_and_boundaries(spark):
    from ocr_spark.operators.timeseries import range_join

    points = spark.createDataFrame(
        [(1, 10, 100), (2, 10, 1800), (3, 10, 1801), (4, 10, 5000), (5, 20, 100)],
        "event_id long, user_id long, sec long",
    )
    # interval [100, 1800] spans two 1800s buckets; [4000, 4500] misses p4
    intervals = spark.createDataFrame(
        [(10, 100, 1800, "a"), (10, 4000, 4500, "b"), (20, 0, 99, "c")],
        "user_id long, s long, e long, tag string",
    )
    got = {r["event_id"]: r["tag"] for r in range_join(
        points, intervals, key_col="user_id", ts_col="sec",
        start_col="s", end_col="e", value_cols=("tag",), bucket=1800,
    ).collect()}
    # inclusive at both ends; out-of-range and wrong-key points drop
    assert got == {1: "a", 2: "a"}
    # a long interval replicated across MANY buckets still matches each
    # point exactly once (a point owns one bucket)
    wide = spark.createDataFrame([(10, 0, 100000, "w")],
                                 "user_id long, s long, e long, tag string")
    rows = range_join(points.filter("user_id = 10"), wide,
                      key_col="user_id", ts_col="sec", start_col="s",
                      end_col="e", value_cols=("tag",), bucket=100).collect()
    assert sorted(r["event_id"] for r in rows) == [1, 2, 3, 4]


def test_length_quantiles_exact_rank_semantics(spark):
    # lengths: 1..10 (one each) → p50 = 5 (ceil(0.5*10)=5th), p90 = 9, p99 = 10
    docs = spark.createDataFrame(
        [(i, "x" * i) for i in range(1, 11)], "doc_id long, text string"
    )
    got = {r["q"]: r["n_chars"] for r in TS.length_quantiles(docs).collect()}
    assert got == {0.5: 5, 0.9: 9, 0.99: 10}
    # null text counts as length 0
    with_null = docs.union(spark.createDataFrame([(11, None)], "doc_id long, text string"))
    got2 = {r["q"]: r["n_chars"] for r in TS.length_quantiles(with_null).collect()}
    assert got2[0.5] == 5  # ceil(0.5*11)=6th of [0,1..10] = 5


def test_hll_small_range_correction(spark):
    # raw HLL overestimates badly below ~2.5m; linear counting fixes it
    n = 45
    df = spark.range(n).select(F.col("id").cast("string").alias("v"))
    regs = D.hll_registers(df, "v", p=10)
    raw = D.hll_estimate(regs, p=10).collect()[0]["estimate"]
    fixed = D.hll_estimate(regs, p=10, small_range_correct=True).collect()[0]["estimate"]
    assert raw > 10 * n            # the documented bias zone
    assert abs(fixed - n) / n < 0.15


def test_semdedup_null_embedding_is_inert(spark):
    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 0.0]), (3, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r for r in D.semdedup(df, threshold=0.9, n_cells=2).collect()}
    assert len(got) == 4
    assert got[3]["cell"] == 0 and got[3]["cent_cos"] == 0.0 and got[3]["kept"]
    assert not got[2]["kept"]  # the real dup pair still resolves


def test_asof_join_random_matches_python_golden(spark):
    import random

    from ocr_spark.operators.timeseries import asof_join

    rnd = random.Random(42)
    lefts = [(i, rnd.randrange(5), rnd.randrange(0, 10_000)) for i in range(300)]
    rights = [(1000 + i, rnd.randrange(5), rnd.randrange(0, 10_000), float(i))
              for i in range(150)]
    l_df = spark.createDataFrame(lefts, "event_id long, user_id long, ts long")
    r_df = spark.createDataFrame(rights, "event_id long, user_id long, ts long, value double")
    got = {r["event_id"]: (r["ts_asof"], r["value_asof"]) for r in asof_join(
        l_df, r_df, key_col="user_id", ts_col="ts", left_id_col="event_id",
        value_cols=("value",), tie_col="event_id",
    ).collect()}
    # python golden: per (key, ts) keep max-id right row, then latest <= ts
    best = {}
    for rid, k, ts, v in rights:
        cur = best.get((k, ts))
        if cur is None or rid > cur[0]:
            best[(k, ts)] = (rid, v)
    by_key = {}
    for (k, ts), (rid, v) in best.items():
        by_key.setdefault(k, []).append((ts, v))
    for k in by_key:
        by_key[k].sort()
    for lid, k, ts in lefts:
        cand = [(rt, v) for rt, v in by_key.get(k, []) if rt <= ts]
        want = max(cand) if cand else (None, None)
        assert got[lid] == want, (lid, k, ts)


def test_range_join_random_matches_python_golden(spark):
    import random

    from ocr_spark.operators.timeseries import range_join

    rnd = random.Random(7)
    points = [(i, rnd.randrange(4), rnd.randrange(0, 5000)) for i in range(200)]
    ivals = []
    for i in range(60):
        s = rnd.randrange(0, 5000)
        ivals.append((rnd.randrange(4), s, s + rnd.randrange(0, 800), f"t{i}"))
    p_df = spark.createDataFrame(points, "event_id long, user_id long, sec long")
    i_df = spark.createDataFrame(ivals, "user_id long, s long, e long, tag string")
    got = sorted(
        (r["event_id"], r["tag"]) for r in range_join(
            p_df, i_df, key_col="user_id", ts_col="sec",
            start_col="s", end_col="e", value_cols=("tag",), bucket=300,
        ).collect()
    )
    want = sorted(
        (pid, tag)
        for pid, pk, ts in points
        for ik, s, e, tag in ivals
        if pk == ik and s <= ts <= e
    )
    assert got == want


def test_embedding_gemm_kernels_tolerate_null_vectors(spark):
    rows = [(0, [1.0, 0.0]), (1, None), (2, [1.0, 0.0]), (3, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r["a_id"], r["b_id"]) for r in
             D.dedup_embedding_cosine(df, threshold=0.9, num_blocks=2).collect()}
    assert pairs == {(0, 2)}  # the null row never pairs, never crashes
    queries = df.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = SIM.topk_bruteforce(df, queries, k=3).collect()
    assert {r["neighbor_id"] for r in out} == {1, 2, 3}
    by_n = {r["neighbor_id"]: r["cosine"] for r in out}
    assert by_n[2] == 1.0 and by_n[1] == 0.0  # null reads as zero vector


def test_incremental_dedup_equals_full_run_all_modes(spark):
    """dedup_losers_incremental(new, index(old_kept)) must equal the full
    corpus_dedup_losers over (old_kept ∪ new) restricted to new ids, for
    every mode — old ids order before new ids, so old docs always win."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    old_rows = [(i, f"old{i} " + base + f" tail{i} " * 4) for i in range(12)]
    old_rows += [(100, old_rows[2][1]), (101, old_rows[3][1] + " x")]  # dups in raw old
    old = spark.createDataFrame(old_rows, "doc_id long, text string")
    for mode in ("exact", "minhash", "minhash-cc"):
        old_losers = D.corpus_dedup_losers(old, mode=mode, threshold=0.5)
        old_kept = old.join(old_losers, "doc_id", "left_anti")

        new_rows = [
            (1000, old_rows[5][1]),                      # exact dup of old
            (1001, old_rows[6][1] + " drift"),           # near dup of old
            (1002, "completely fresh content " + base),
            (1003, "completely fresh content " + base),  # exact dup within new
            (1004, "completely fresh content " + base + " shifted"),  # near dup within new
            (1005, "isolated brand new words nothing shared with anyone else here"),
        ]
        new = spark.createDataFrame(new_rows, "doc_id long, text string")

        full = D.corpus_dedup_losers(old_kept.unionByName(new), mode=mode, threshold=0.5)
        want = sorted(
            r["doc_id"] for r in full.collect() if r["doc_id"] >= 1000
        )
        got = sorted(
            r["id"] for r in D.dedup_losers_incremental(
                D.minhash_index(new), D.minhash_index(old_kept),
                mode=mode, threshold=0.5,
            ).collect()
        )
        D.release_feature_caches()
        assert got == want, mode
        if mode != "exact":
            assert 1000 in got and 1001 in got  # old always wins
            assert 1003 in got and 1005 not in got


def test_incremental_dedup_equivalence_randomized(spark):
    """Randomized reinforcement of the incremental≡full claim: seeded
    corpora with heavy cross-drop duplication, all three modes."""
    import random

    rnd = random.Random(17)
    vocab = [f"tok{i}" for i in range(60)]

    def mk(n, id0):
        rows = []
        for i in range(n):
            words = [rnd.choice(vocab) for _ in range(rnd.randrange(12, 30))]
            rows.append((id0 + i, " ".join(words)))
        return rows

    for trial in range(2):
        old_rows = mk(25, trial * 10_000)
        # contaminate: new drop reuses old texts verbatim and near-verbatim
        new_rows = mk(10, trial * 10_000 + 5000)
        new_rows += [(trial * 10_000 + 5100 + j, old_rows[j][1]) for j in range(4)]
        new_rows += [(trial * 10_000 + 5200 + j, old_rows[4 + j][1] + " extra")
                     for j in range(3)]
        old = spark.createDataFrame(old_rows, "doc_id long, text string")
        for mode in ("exact", "minhash", "minhash-cc"):
            ol = D.corpus_dedup_losers(old, mode=mode, threshold=0.5)
            old_kept = old.join(ol, "doc_id", "left_anti")
            new = spark.createDataFrame(new_rows, "doc_id long, text string")
            full = D.corpus_dedup_losers(
                old_kept.unionByName(new), mode=mode, threshold=0.5
            )
            want = sorted(r["doc_id"] for r in full.collect()
                          if r["doc_id"] >= trial * 10_000 + 5000)
            got = sorted(r["id"] for r in D.dedup_losers_incremental(
                D.minhash_index(new), D.minhash_index(old_kept),
                mode=mode, threshold=0.5,
            ).collect())
            D.release_feature_caches()
            assert got == want, (trial, mode)


def test_containment_catches_what_jaccard_misses(spark):
    quoted = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    wrapper = (
        " ".join(f"nav{i} menu{i} header{i}" for i in range(20)) + " "
        + quoted
        + " " + " ".join(f"footer{i} legal{i} tracker{i}" for i in range(20))
    )
    docs = spark.createDataFrame(
        [(1, quoted), (2, wrapper), (3, "entirely different content nothing shared here at all")],
        "doc_id long, text string",
    )
    got = {(r["a_id"], r["b_id"]): r["containment"]
           for r in D.dedup_containment(docs, threshold=0.9, max_df=100).collect()}
    D.release_feature_caches()
    assert (1, 2) in got and got[(1, 2)] == 1.0  # every shingle of 1 is in 2
    assert (1, 3) not in got and (2, 3) not in got
    # the same pair is invisible to Jaccard at any realistic threshold
    jac = {(r["a_id"], r["b_id"]): r["jaccard"]
           for r in D.dedup_ngram_jaccard(docs, jaccard_threshold=0.0).collect()}
    D.release_feature_caches()
    assert jac.get((1, 2), 0.0) < 0.2


def test_containment_df_cap_drops_ubiquitous_evidence(spark):
    # every doc shares one boilerplate sentence; with the cap below the
    # corpus size, that shingle alone cannot generate candidates
    boiler = "shared cookie banner sentence appearing on every single page"
    docs = spark.createDataFrame(
        [(i, f"unique{i}a unique{i}b unique{i}c {boiler}") for i in range(30)],
        "doc_id long, text string",
    )
    out = D.dedup_containment(docs, threshold=0.5, max_df=10).collect()
    D.release_feature_caches()
    assert out == []  # the only shared shingles are over the cap


def test_containment_adaptive_cap_two_vocab_scales(spark):
    """The corpus-derived df cap (derive_df_cap) must adapt to vocabulary
    shape: on a LARGE-vocabulary corpus the 0.999-quantile lands at the
    floor and the ubiquitous boilerplate (df = n_docs) is dropped from the
    inverted index, while the df=2 quote evidence survives — so the wrapped
    pair is still found with containment 1.0 and candidate volume stays
    bounded.  On a SMALL-vocabulary boiler-heavy corpus the quantile rises
    to include the boilerplate df (the corpus really is mostly boilerplate),
    recall is maximal, and exact verification still rejects boiler-only
    pairs below threshold.  Either way recall of the quote pair is 1."""
    boiler = " ".join(f"cookie{i} banner{i} legal{i}" for i in range(6))

    def corpus(n_docs: int, words_per_doc: int):
        rows = [
            (
                i,
                " ".join(f"u{i}w{j}" for j in range(words_per_doc)) + " " + boiler,
            )
            for i in range(n_docs)
        ]
        # doc n_docs quotes doc 0's unique body inside fresh boilerplate
        quoted = " ".join(f"u0w{j}" for j in range(words_per_doc))
        rows.append((n_docs, boiler + " " + quoted + " " + boiler))
        return spark.createDataFrame(rows, "doc_id long, text string")

    # -- large vocabulary: cap should hit the floor, boiler dropped --------
    big = corpus(300, 80)
    feats = big.select(
        F.col("doc_id").alias("id"),
        D.shingle_hashes_pandas(F.col("text")).alias("hv"),
    )
    dfreq = feats.select(F.explode("hv").alias("h")).groupBy("h").agg(
        F.count(F.lit(1)).alias("df")
    )
    cap_big = D.derive_df_cap(dfreq, quantile=0.999, floor=8)
    assert cap_big == 8  # 0.999-quantile of a df=1-dominated vocabulary
    got = {
        (r["a_id"], r["b_id"]): r["containment"]
        for r in D.dedup_containment(big, threshold=0.9).collect()
    }
    D.release_feature_caches()
    # doc 0's body is not fully contained (its boiler-boundary shingles
    # differ), but the quote evidence keys both directions; the (0, 300)
    # pair must be found via the df=2 body shingles
    assert (0, 300) in got
    assert all(a == 0 and b == 300 for (a, b) in got), got

    # -- small boiler-heavy vocabulary: cap rises with the corpus ----------
    small = corpus(40, 6)
    feats_s = small.select(
        F.col("doc_id").alias("id"),
        D.shingle_hashes_pandas(F.col("text")).alias("hv"),
    )
    dfreq_s = feats_s.select(F.explode("hv").alias("h")).groupBy("h").agg(
        F.count(F.lit(1)).alias("df")
    )
    cap_small = D.derive_df_cap(dfreq_s, quantile=0.999, floor=8)
    assert cap_small > 8  # boiler is >0.1% of this vocabulary → included
    got_s = {
        (r["a_id"], r["b_id"]): r["containment"]
        for r in D.dedup_containment(small, threshold=0.9).collect()
    }
    D.release_feature_caches()
    assert (0, 40) in got_s  # recall preserved
    # boiler-only overlap verifies well below 0.9 → exact check rejects it
    assert all(a == 0 and b == 40 for (a, b) in got_s), got_s


def test_ngram_jaccard_shuffle_join_fallback_equals_broadcast(spark):
    """With ``vocab_broadcast_max`` below the actual vocabulary (the
    open-vocab / >10^7-shingle regime), the DF-rank join must run WITHOUT
    the broadcast hint and still produce the identical pair set."""
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}x{j}" for j in range(12)) + " shared tail words here")
         for i in range(30)]
        + [(100, " ".join(f"w0x{j}" for j in range(12)) + " shared tail words here")],
        "doc_id long, text string",
    )
    fast = sorted(
        map(tuple, D.dedup_ngram_jaccard(docs, jaccard_threshold=0.3).collect())
    )
    D.release_feature_caches()
    slow = sorted(
        map(
            tuple,
            D.dedup_ngram_jaccard(
                docs, jaccard_threshold=0.3, vocab_broadcast_max=1
            ).collect(),
        )
    )
    D.release_feature_caches()
    assert fast == slow and any(a == 0 and b == 100 for a, b, _ in fast)


def test_containment_hot_tail_shuffle_fallback_equals_broadcast(spark):
    """With ``hot_broadcast_max`` = 0 (the regime where the above-cap
    vocabulary tail is too large to broadcast), the hot-shingle exclusion
    must run as a shuffle anti-join and still produce the identical
    containment pair set."""
    quote = "the exact quoted passage that reappears verbatim elsewhere"
    docs = spark.createDataFrame(
        [(0, quote)]
        + [(i, f"host page {i} unique filler body text " * 3 + quote)
           for i in range(1, 6)]
        + [(9, "unrelated document with its own words entirely")],
        "doc_id long, text string",
    )
    fast = sorted(map(tuple, D.dedup_containment(docs, threshold=0.9, df_floor=8).collect()))
    D.release_feature_caches()
    slow = sorted(
        map(
            tuple,
            D.dedup_containment(
                docs, threshold=0.9, df_floor=8, hot_broadcast_max=0
            ).collect(),
        )
    )
    D.release_feature_caches()
    assert fast == slow and any(a == 0 for a, b, c in fast)


def test_derive_df_cap_quantile_and_floor(spark):
    # 9990 shingles at df=1, 10 at df=500: the 0.999 quantile is df=1 →
    # floor wins; at quantile=1.0 the cap is the max df
    rows = [(h, 1) for h in range(9990)] + [(10_000 + h, 500) for h in range(10)]
    dfreq = spark.createDataFrame(rows, "h long, df long")
    assert D.derive_df_cap(dfreq, quantile=0.999, floor=8) == 8
    assert D.derive_df_cap(dfreq, quantile=1.0, floor=8) == 500


def test_pack_interleaved_media_budget(spark):
    from pyspark.sql import Row

    rows = [
        Row(doc_id=1, spans=[
            Row(kind="text", text="three little words", media_ref="", offset=0),
            Row(kind="media", text="", media_ref="img-1", offset=16),
        ]),
        Row(doc_id=2, spans=[
            Row(kind="media", text="", media_ref="img-2", offset=0),
        ]),
        Row(doc_id=3, spans=[]),
    ]
    df = spark.createDataFrame(rows)
    got = {r["doc_id"]: r for r in
           TS.pack_interleaved(df, seq_len=300, media_tokens=256).collect()}
    assert got[1]["n_tokens"] == 3 + 256   # text BPE count + media budget
    assert got[2]["n_tokens"] == 256
    assert got[3]["n_tokens"] == 0         # empty spans occupy nothing
    # layout invariants hold (same math as pack_sequences)
    for r in got.values():
        assert r["tok_start"] >= 0 and r["seq_end"] >= r["seq_start"]


def test_bm25_matches_hand_computed_integer_model(spark):
    from ocr_spark.operators.textstats import search_bm25

    texts = {
        1: "spark shuffle spark spark",          # tf(spark)=3, tf(shuffle)=1, dl=4
        2: "spark " + "filler " * 19,            # tf(spark)=1, dl=21
        3: "vector shuffle",                     # dl=2
        4: "nothing relevant here",              # no match
        5: "",                                   # empty
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["rank"], r["score_units"], r["n_matched"])
        for r in search_bm25(docs, ("spark", "shuffle", "vector"), k=10).collect()
    }

    # pure-Python replica of the documented integer model
    qt = sorted(("spark", "shuffle", "vector"))
    words = {i: t.lower().split() for i, t in texts.items()}
    dls = {i: len(w) for i, w in words.items()}
    n, sumdl = len(words), sum(dls.values())
    am = (1000 * sumdl) // n
    df = {t: sum(1 for w in words.values() if t in w) for t in qt}
    idf = {t: (n + 1).bit_length() - df[t].bit_length() for t in qt}

    def score(i):
        dl = dls[i]
        dln = (dl * 1000000) // am
        K = (1200 * (1000 - 750 + (750 * dln) // 1000)) // 1000
        s = 0
        for t in qt:
            tf = words[i].count(t)
            s += idf[t] * ((tf * 2200 * 1000) // (tf * 1000 + K))
        return s

    exp_scored = sorted(
        ((score(i), i) for i in words if any(t in words[i] for t in qt)),
        key=lambda x: (-x[0], x[1]),
    )
    assert sorted(got) == sorted(i for _, i in exp_scored)
    for rank, (s, i) in enumerate(exp_scored, start=1):
        assert got[i] == (rank, s, sum(1 for t in qt if t in words[i]))
    # the repetition-heavy short doc must outrank the diluted long one
    assert got[1][0] < got[2][0]


def test_decontaminate_fuzzy_flags_near_dup_leakage(spark):
    """Fuzzy decontamination flags exact copies AND paraphrase-level
    near-dups of eval docs (edits that break every exact n-gram probe),
    leaves unrelated docs clean, and never matches sub-shingle snippets."""
    from pyspark.sql import functions as F

    from ocr_spark.operators.dedup import decontaminate_fuzzy

    base = " ".join(f"benchmark question token{i} answer" for i in range(12))
    # one-token edit: J≈0.85 vs the eval doc AND (deterministic for the
    # fixed hash family) a guaranteed band collision — a two-token edit at
    # J≈0.71 measurably misses all 4 bands, which is the LSH recall curve
    # working as specified, not a bug
    edited = base.replace("token3", "tokenX")
    corpus = spark.createDataFrame(
        [
            (1, base),                        # exact copy of eval 100
            (2, edited),                      # near-dup (one-token edit)
            (3, "completely unrelated prose about weather and shipping " * 4),
            (4, "tiny"),                      # below one shingle
        ],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame(
        [(100, base), (101, "another benchmark nobody copied " * 6)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["leaked"]
        for r in decontaminate_fuzzy(corpus, eval_docs, 0.5).collect()
    }
    assert got == {1: True, 2: True, 3: False, 4: False}

    # threshold is honored: at 1.0 only the exact copy survives the gate
    strict = {
        r["doc_id"]: r["leaked"]
        for r in decontaminate_fuzzy(corpus, eval_docs, 1.0).collect()
    }
    assert strict[1] is True and strict[2] is False


def test_shuffle_shards_deterministic_balanced_and_epoch_seeded(spark):
    from ocr_spark.operators.textstats import shuffle_shards

    docs = spark.range(2000).select(F.col("id").alias("doc_id"))
    a = shuffle_shards(docs, n_shards=16).collect()
    b = shuffle_shards(docs.repartition(7), n_shards=16).collect()
    key = lambda rows: sorted((r["doc_id"], r["shard"], r["position"]) for r in rows)
    assert key(a) == key(b)  # partitioning-invariant

    by_shard = {}
    for r in a:
        by_shard.setdefault(r["shard"], []).append(r)
    # balanced: uniform hash, no hot shard
    sizes = [len(v) for v in by_shard.values()]
    assert len(by_shard) == 16 and max(sizes) <= 2 * min(sizes)
    # positions are a clean 0..n-1 sequence in rank order per shard
    for rows in by_shard.values():
        rows.sort(key=lambda r: r["position"])
        assert [r["position"] for r in rows] == list(range(len(rows)))
        ranks = [(r["rank"], r["doc_id"]) for r in rows]
        assert ranks == sorted(ranks)

    # a new epoch = a new seed: same docs, different order
    c = shuffle_shards(docs, n_shards=16, seed="shuffle-v1:epoch2").collect()
    assert {r["doc_id"] for r in c} == {r["doc_id"] for r in a}
    assert key(c) != key(a)


def test_rrf_fuse_union_ranks_and_missing_sides(spark):
    from ocr_spark.operators.textstats import rrf_fuse

    a = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "rank long, doc_id long"
    ).select("doc_id", "rank")
    b = spark.createDataFrame(
        [(1, 20), (2, 40), (3, 50)], "rank long, doc_id long"
    ).select("doc_id", "rank")
    got = {r["doc_id"]: (r["rank"], r["rrf_score"], r["in_a"], r["in_b"])
           for r in rrf_fuse(a, b, k_rrf=60, top_k=10).collect()}
    # doc 20 appears in both lists (ranks 2 and 1) and must win
    assert set(got) == {10, 20, 30, 40, 50}
    assert got[20][0] == 1 and got[20][2] and got[20][3]
    assert abs(got[20][1] - (1 / 62 + 1 / 61)) < 1e-15
    # single-list docs carry only their own term
    assert got[10] == (2, 1 / 61.0, True, False)
    assert got[50][3] and not got[50][2]
    # ties impossible here; ordering is (score desc, id asc)
    ranks = [got[d][0] for d in sorted(got, key=lambda d: got[d][0])]
    assert ranks == [1, 2, 3, 4, 5]


def test_rrf_fuse_top_k_truncates(spark):
    from ocr_spark.operators.textstats import rrf_fuse

    a = spark.createDataFrame(
        [(i, 100 + i) for i in range(1, 11)], "rank long, doc_id long"
    ).select("doc_id", "rank")
    b = spark.createDataFrame(
        [(i, 200 + i) for i in range(1, 11)], "rank long, doc_id long"
    ).select("doc_id", "rank")
    out = rrf_fuse(a, b, top_k=5).collect()
    assert len(out) == 5
    # equal scores tie-break by id: 101 vs 201 at rank 1 each -> 101 first
    assert [r["doc_id"] for r in out[:2]] == [101, 201]


def test_media_ref_integrity_and_orphans(spark):
    """Hand-built corpus with every defect class: resolved refs, a dangling
    ref, a REPEATED dangling ref (must count per span but join once), a
    text-only doc (all-zero row), and an orphan asset."""
    docs = [
        ("d1", [("media", "", "m1", 0), ("text", "hello", "", 16),
                ("media", "", "m2", 32)]),
        ("d2", [("media", "", "mX", 0), ("media", "", "mX", 16),
                ("media", "", "m1", 32)]),
        ("d3", [("text", "only text", "", 0)]),
    ]
    df = spark.createDataFrame(
        docs,
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    media = spark.createDataFrame(
        [("d1", "m1", 0), ("d1", "m2", 32), ("zz", "unused", -1)],
        "doc_id string, media_ref string, offset int",
    )

    rows = {r["doc_id"]: r for r in MM.media_ref_integrity(df, media).collect()}
    assert rows["d1"]["n_media_spans"] == 2 and rows["d1"]["n_dangling"] == 0
    assert rows["d1"]["first_dangling_ref"] is None
    # mX appears twice: both spans dangle, counted per span
    assert rows["d2"]["n_media_spans"] == 3
    assert rows["d2"]["n_resolved"] == 1 and rows["d2"]["n_dangling"] == 2
    assert rows["d2"]["first_dangling_ref"] == "mX"
    assert rows["d3"]["n_media_spans"] == 0 and rows["d3"]["n_dangling"] == 0

    orphans = MM.orphan_media(media, df).collect()
    assert [(r["media_ref"], r["doc_id"]) for r in orphans] == [("unused", "zz")]


def test_media_captions_adjacency_and_boilerplate_skip(spark):
    """Caption heuristic: nearest qualifying text each side, 'after'
    preferred; boilerplate and empty text spans are skipped; media at the
    document edge gets NULL on the open side."""
    spans = [
        ("media", "", "m-first", 0),                      # no text before
        ("text", "a good caption with enough words here", "", 16),
        ("media", "", "m-mid", 32),
        ("text", "copyright 2026 all rights reserved", "", 48),  # boiler marker
        ("text", "", "", 64),                             # empty — skipped
        ("media", "", "m-last", 80),                      # boiler+empty after
    ]
    df = spark.createDataFrame(
        [("d1", spans)],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    rows = {r["media_ref"]: r for r in MM.media_captions(df).collect()}
    good = "a good caption with enough words here"
    assert rows["m-first"]["caption_before"] is None
    assert rows["m-first"]["caption_after"] == good
    assert rows["m-first"]["caption"] == good
    assert rows["m-mid"]["caption_before"] == good
    # the copyright span and the empty span never qualify
    assert rows["m-mid"]["caption_after"] is None
    assert rows["m-mid"]["caption"] == good     # falls back to 'before'
    assert rows["m-last"]["caption_before"] == good
    assert rows["m-last"]["caption_after"] is None


def test_compression_ratio_separates_prose_from_spam(spark):
    """Repetitive text compresses far below prose; empty text reports the
    neutral 10^6 ratio; the flag thresholds at 0.30."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog and keeps going "
            "with fresh unrepeated words every clause of the way onward"),
        (2, "spam spam spam " * 200),
        (3, ""),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in TS.compression_ratio(df).collect()}
    assert got[2]["zlib_ratio_micro"] < 100_000 and got[2]["too_repetitive"]
    assert got[1]["zlib_ratio_micro"] > 400_000 and not got[1]["too_repetitive"]
    for i in (3, 4):
        assert got[i]["n_bytes"] == 0
        assert got[i]["zlib_ratio_micro"] == 1_000_000
        assert not got[i]["too_repetitive"]
    # exactness against stdlib zlib, byte for byte
    import zlib
    raw = rows[0][1].encode()
    assert got[1]["n_zlib_bytes"] == len(zlib.compress(raw, TS.COMPRESS_LEVEL))


def test_compress_golden_fresh(spark):
    """The committed golden parquet regenerates bit-identically in this
    environment (zlib drift or synth-corpus edits must fail here, not
    silently break the driver oracle)."""
    import duckdb

    from tools.make_compress_golden import golden_rows

    path = "tests/golden/compress_ratio.parquet"
    want = {r["doc_id"]: r for r in golden_rows()}
    got = duckdb.sql(f"SELECT * FROM read_parquet('{path}')").fetchall()
    assert len(got) == len(want)
    for doc_id, nb, nz, ratio, flag in got:
        w = want[doc_id]
        assert (nb, nz, ratio, flag) == (
            w["n_bytes"], w["n_zlib_bytes"], w["zlib_ratio_micro"],
            w["too_repetitive"],
        )


def test_langid_model_shape_and_determinism(spark):
    """Model-shaped langid: argmax over per-language hashed-trigram scores,
    alphabetical tie-break via the rank field, 'und' below one trigram,
    and bit-stable across partition layouts."""
    rows = [(1, "the quick brown fox and the lazy dog"),
            (2, "ab"),            # < 3 chars → no trigram
            (3, None),
            (4, "x" * 5000)]      # long uniform text still one scan
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in TS.langid_model(df).collect()}
    assert got[2]["lang"] == "und" and got[2]["score_units"] == 0
    assert got[3]["lang"] == "und" and got[3]["n_grams"] == 0
    assert got[1]["lang"] in TS.LANGID_MODEL_LANGS
    assert got[1]["n_grams"] == len("the quick brown fox and the lazy dog") - 2
    # repartitioning must not change a single output value
    got2 = {r["doc_id"]: r for r in TS.langid_model(df.repartition(7)).collect()}
    for k in got:
        assert tuple(got[k]) == tuple(got2[k])
    # the demo weights are a stand-in for a trained table: the score is the
    # exact integer sum of the per-gram weights
    import hashlib
    text = rows[0][1].lower()
    grams = [text[i:i + 3] for i in range(len(text) - 2)]
    langs = TS.LANGID_MODEL_LANGS
    def score(rank):
        s = 0
        for g in grams:
            b = int(hashlib.md5(f"langid-v1:{g}".encode()).hexdigest()[:12], 16) % TS.CLS_BUCKETS
            s += ((b + rank * TS._LANGID_PRIME) * TS.CLS_WEIGHT_A) % TS.CLS_WEIGHT_M - TS.CLS_WEIGHT_M // 2
        return s
    scores = [score(r) for r in range(len(langs))]
    best = max(scores)
    assert got[1]["score_units"] == best
    assert got[1]["lang"] == langs[scores.index(best)]


def test_ccnet_tiers_thirds_and_determinism(spark):
    """Per-language thirds by LM surprisal: tier populations differ by at
    most the tie mass, every doc is assigned, cutoffs are value-based (ties
    share a tier), and output is partition-invariant."""
    import random
    rng = random.Random(7)
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    rows = []
    for i in range(90):
        # mixed structure: some repetitive (low surprisal), some shuffled
        if i % 3 == 0:
            words = ["alpha", "beta"] * 12
        else:
            words = [rng.choice(vocab) for _ in range(24)]
        rows.append((i, " ".join(words)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = TS.ccnet_tiers(df).collect()
    assert len(out) == 90
    by_tier = {}
    for r in out:
        by_tier.setdefault(r["tier"], []).append(r["milli_bits"])
    assert set(by_tier) <= {"head", "middle", "tail"} and "head" in by_tier
    # value-based cutoffs: every head milli_bits <= every middle <= every tail
    if "middle" in by_tier:
        assert max(by_tier["head"]) <= min(by_tier["middle"])
    if "tail" in by_tier:
        assert max(by_tier.get("middle", by_tier["head"])) <= min(by_tier["tail"])
    # head holds at least a third (ties can only grow it), never the whole set
    assert len(by_tier["head"]) >= 30
    assert len(by_tier["head"]) < 90
    out2 = TS.ccnet_tiers(df.repartition(13)).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_split_sentences_rules(spark):
    """Terminator runs break sentences; known abbreviations and dotted
    two-letter forms don't; trailing terminator without whitespace ends the
    last sentence; empties drop."""
    rows = [
        (1, "First sentence. Second one! Third?? Fourth"),
        (2, "Dr. Smith met Mr. Jones e.g. at 5 p.m. sharp. Next sentence."),
        (3, ""),
        (4, None),
        (5, "No terminator at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {}
    for r in TS.split_sentences(df).collect():
        out.setdefault(r["doc_id"], []).append((r["sent_idx"], r["sentence"]))
    for v in out.values():
        v.sort()
    assert [s for _, s in out[1]] == [
        "First sentence.", "Second one!", "Third??", "Fourth"]
    # the abbreviation dots survive inside ONE sentence
    assert [s for _, s in out[2]] == [
        "Dr. Smith met Mr. Jones e.g. at 5 p.m. sharp.", "Next sentence."]
    assert 3 not in out and 4 not in out
    assert [s for _, s in out[5]] == ["No terminator at all"]
    assert [i for i, _ in out[1]] == [0, 1, 2, 3]


def test_corpus_digest_order_independence_and_sensitivity(spark):
    """Same content in any row order/partitioning → same digest; one
    changed character, one dropped row, or a swapped id → different."""
    rows = [(i, f"document body {i} with words") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    base = TS.corpus_digest(df).first()
    assert base["n_docs"] == 50
    shuffled = spark.createDataFrame(list(reversed(rows)), "doc_id long, text string")
    assert TS.corpus_digest(shuffled.repartition(11)).first()["digest"] == base["digest"]
    mutated = rows[:20] + [(20, "document body 20 with wordz")] + rows[21:]
    assert TS.corpus_digest(
        spark.createDataFrame(mutated, "doc_id long, text string")
    ).first()["digest"] != base["digest"]
    assert TS.corpus_digest(
        spark.createDataFrame(rows[:-1], "doc_id long, text string")
    ).first()["digest"] != base["digest"]
    swapped = [(1 - i if i < 2 else i, t) for i, (j, t) in enumerate(rows)]
    assert TS.corpus_digest(
        spark.createDataFrame(swapped, "doc_id long, text string")
    ).first()["digest"] != base["digest"]


def test_sentence_windows_overlap_and_partials(spark):
    """window=3 stride=2: consecutive chunks overlap by one sentence, no
    sentence splits mid-chunk, short docs emit one partial chunk, empties
    emit nothing; window/stride validation refuses zero."""
    import pytest as _pt

    rows = [(1, "One. Two. Three. Four. Five. Six. Seven."),
            (2, "Solo"), (3, ""), (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {}
    for r in TS.sentence_windows(df, window=3, stride=2).collect():
        out.setdefault(r["doc_id"], []).append((r["win_idx"], r["chunk"], r["n_sents"]))
    for v in out.values():
        v.sort()
    assert [c for _, c, _ in out[1]] == [
        "One. Two. Three.", "Three. Four. Five.", "Five. Six. Seven."]
    assert out[2] == [(0, "Solo", 1)]
    assert 3 not in out and 4 not in out
    with _pt.raises(ValueError):
        TS.sentence_windows(df, window=0)


def test_decontaminate_sentences_redacts_only_leaked(spark):
    """Only the sentence sharing a 5-gram with the eval set is redacted;
    the rest of the doc survives verbatim in order; whole-doc leak empties
    the text; eval-free docs pass through untouched."""
    leaked = "the secret benchmark passage appears here word for word today."
    clean1 = "This first sentence is entirely original and quite safe."
    clean2 = "Another harmless sentence closes the document neatly and well."
    train = spark.createDataFrame(
        [(1, f"{clean1} {leaked} {clean2}"),
         (2, leaked),
         (3, f"{clean1} {clean2}"),
         (4, "")],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame([(100, leaked)], "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           TS.decontaminate_sentences(train, evals, n=5).collect()}
    assert got[1]["n_sentences"] == 3 and got[1]["n_contaminated"] == 1
    assert got[1]["clean_text"] == f"{clean1} {clean2}"
    assert got[2]["n_contaminated"] == 1 and got[2]["clean_text"] == ""
    assert got[3]["n_contaminated"] == 0
    assert got[3]["clean_text"] == f"{clean1} {clean2}"
    assert got[4] == got[4] and got[4]["n_sentences"] == 0 and got[4]["clean_text"] == ""


def test_c4_line_filters_rules(spark):
    """Each published C4 rule fires: terminal-punctuation line keep,
    >=3-word line keep, javascript-line drop, >=5-sentence page gate,
    lorem-ipsum and curly-brace page kills; clean pages pass."""
    five = ("Alpha one two three. Beta four five six. Gamma seven eight "
            "nine. Delta ten eleven twelve. Epsilon ends the page now.")
    df = spark.createDataFrame(
        [
            (1, f"{five}\nno terminal punct line\nok tail sentence here."),
            (2, f"{five}\nShort one."),          # <3 words -> dropped
            (3, f"{five}\nPlease enable javascript to continue reading."),
            (4, f"{five}\nLorem ipsum dolor sit amet."),
            (5, f"{five}\nconst x = {{}}; fine."),
            (6, "Only two tiny sentences here. That is all there is."),
            (7, None),
            (8, f'{five}\nHe shouted "stop right there!"'),
        ],
        "doc_id long, text string",
    )
    d = TS.c4_line_filters(F.col("text"))
    got = {r["doc_id"]: r for r in df.select("doc_id", *[
        d[k].alias(k) for k in
        ("n_lines", "n_kept_lines", "n_sentences", "has_lorem",
         "has_brace", "clean_text", "c4_pass")]).collect()}
    assert got[1]["n_lines"] == 3 and got[1]["n_kept_lines"] == 2
    assert "no terminal punct" not in got[1]["clean_text"]
    assert got[1]["c4_pass"]                       # 6 sentences survive
    assert got[2]["n_kept_lines"] == 1             # short line dropped
    assert got[3]["n_kept_lines"] == 1             # javascript dropped
    assert got[3]["c4_pass"]                       # page itself still ok
    assert got[4]["has_lorem"] and not got[4]["c4_pass"]
    assert got[5]["has_brace"] and not got[5]["c4_pass"]
    assert not got[6]["c4_pass"] and got[6]["n_sentences"] == 2
    assert got[7]["n_lines"] == 0 and not got[7]["c4_pass"]
    # a closing double quote is terminal punctuation (the paper's rule)
    assert got[8]["n_kept_lines"] == 2 and 'stop right there!"' in got[8]["clean_text"]


def test_budget_sample_matches_naive_greedy(spark):
    """budget_sample's sliced plan equals the naive rule: take docs in
    seeded-hash order while the inclusive token cumsum stays <= the
    source's budget; absent sources drop whole; huge budgets keep whole.
    bucket_bits=2 forces real slice boundaries (4 slices)."""
    rows = []
    for i in range(60):
        src = ("web", "code", "books")[i % 3]
        rows.append((i, src, "tok " * (i % 7 + 1)))        # 1..7 tokens
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    budgets = {"web": 30, "code": 10**9}                    # books absent
    got = {r["doc_id"]: r for r in
           TS.budget_sample(df, budgets, bucket_bits=2).collect()}
    assert len(got) == 60

    def h(i):
        return int(hashlib.md5(f"budget-v1:{i}".encode()).hexdigest()[:12], 16)

    for src, budget in (("web", 30), ("code", 10**9), ("books", 0)):
        docs = sorted((r for r in rows if r[1] == src),
                      key=lambda r: (h(r[0]), r[0]))
        cum = 0
        for i, _, t in docs:
            toks = len(t.split())
            cum += toks
            assert got[i]["kept"] == (cum <= budget), (src, i, cum, budget)
            assert got[i]["n_tokens"] == toks
    with pytest.raises(ValueError):
        TS.budget_sample(df, budgets, bucket_bits=0)


# --- interleaved span-level dedup --------------------------------------------


def _mk_span_docs(spark):
    rows = [
        # doc 1: canonical "shared nav" at offset 4; unique line; media
        ("1", [("text", "shared nav", None, 4),
               ("media", None, "img://1/0", 9),
               ("text", "unique to one", None, 12)]),
        # doc 2: dup of "shared nav" (dropped), blank text span (kept),
        # its own unique line
        ("2", [("text", "shared nav", None, 2),
               ("text", "   ", None, 5),
               ("text", "only in two", None, 8)]),
        # doc 3: within-doc duplicate of its own line — second drops
        ("3", [("text", "thrice line", None, 1),
               ("text", "thrice line", None, 7),
               ("media", None, "img://3/0", 9)]),
    ]
    return spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )


def test_dedup_spans_canonical_media_and_order(spark):
    out = D.dedup_spans_corpus(_mk_span_docs(spark)).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for v in by_doc.values():
        v.sort(key=lambda r: r.ord)
    # doc 1 keeps everything (canonical "shared nav", media, unique)
    assert [(r.kind, r.text, r.ord) for r in by_doc["1"]] == [
        ("text", "shared nav", 0), ("media", None, 1), ("text", "unique to one", 2)
    ]
    # doc 2: dup "shared nav" dropped; blank kept; order re-ranked dense
    assert [(r.kind, (r.text or "").strip(), r.ord) for r in by_doc["2"]] == [
        ("text", "", 0), ("text", "only in two", 1)
    ]
    # doc 3: within-doc dup dropped, media kept, order dense
    assert [(r.kind, r.ord) for r in by_doc["3"]] == [
        ("text", 0), ("media", 1)
    ]
    # media refs survive untouched
    assert by_doc["1"][1].media_ref == "img://1/0"


def test_dup_span_index_only_duplicated(spark):
    idx = {r.span_md5: (r.canonical_doc_id, r.canonical_offset)
           for r in D.dup_span_index(_mk_span_docs(spark)).collect()}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert md5("shared nav") in idx and idx[md5("shared nav")] == ("1", 4)
    assert md5("thrice line") in idx and idx[md5("thrice line")] == ("3", 1)
    assert md5("unique to one") not in idx  # singletons absent from the index


# --- per-host template-line removal ------------------------------------------


def _mk_host_docs(spark):
    rows = []
    # host A: 6 docs; nav on all, cookie on 4/6 (>=0.5), promo on 1/6 (<0.5)
    for i in range(6):
        lines = ["top nav bar", f"body content {i} alpha"]
        if i < 4:
            lines.append("cookie banner text")
        if i == 0:
            lines.append("promo line rare")
        rows.append((f"a{i}", "hostA", "\n".join(lines)))
    # host B: 3 docs (< min_docs=5) — nothing is template even at 100%
    for i in range(3):
        rows.append((f"b{i}", "hostB", "top nav bar\nbody b {i}"))
    return spark.createDataFrame(rows, "doc_id string, source string, text string")


def test_host_templates_threshold_and_min_docs(spark):
    out = {r.doc_id: r for r in D.remove_host_templates(_mk_host_docs(spark)).collect()}
    # hostA: nav + cookie are template; promo + body survive
    a0 = out["a0"]
    assert "top nav bar" not in a0.text and "cookie banner" not in a0.text
    assert "promo line rare" in a0.text and "body content 0 alpha" in a0.text
    assert a0.n_removed == 2
    a5 = out["a5"]  # no cookie on a5
    assert a5.text == "body content 5 alpha" and a5.n_removed == 1
    # hostB below min_docs: untouched
    b0 = out["b0"]
    assert "top nav bar" in b0.text and b0.n_removed == 0


def test_host_template_index_keys(spark):
    idx = D.host_template_index(_mk_host_docs(spark)).collect()
    hosts = {r.host for r in idx}
    assert hosts == {"hostA"}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    keys = {r.line_md5 for r in idx}
    assert keys == {md5("top nav bar"), md5("cookie banner text")}


# --- PII scrub on the interleaved span shape ----------------------------------


def test_pii_scrub_spans_in_place_media_untouched(spark):
    docs = spark.createDataFrame(
        [
            ("1", [("text", "mail me at bob@x.example.com now", None, 0),
                   ("media", None, "img://1/0", 16),
                   ("text", "see https://a.example/p?q=1 and 10.0.0.7", None, 32)]),
            ("2", [("text", "call +1 (555) 123-4567 twice +44 20 7946 0958", None, 0)]),
            ("3", []),
        ],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    out = {r.doc_id: r for r in TS.pii_scrub_spans(docs).collect()}
    d1 = out["1"]
    assert d1.n_email == 1 and d1.n_url == 1 and d1.n_ip == 1 and d1.n_phone == 0
    texts = [s.text for s in d1.spans]
    assert texts[0] == "mail me at <EMAIL> now"
    assert texts[1] is None  # media text untouched (null stays null)
    assert "<URL>" in texts[2] and "<IP>" in texts[2]
    # media_ref and offsets preserved
    assert d1.spans[1].media_ref == "img://1/0" and d1.spans[2].offset == 32
    d2 = out["2"]
    assert d2.n_phone == 2 and "<PHONE>" in d2.spans[0].text
    d3 = out["3"]
    assert d3.n_url == 0 and d3.spans == []


def test_pii_scrub_spans_matches_flat_scrub(spark):
    """Span-shape scrub == flat pii_scrub on each span's text."""
    txt = "x bob@x.example v https://a.example/p 10.1.2.3 +7 905 123-45-67"
    docs = spark.createDataFrame(
        [("1", [("text", txt, None, 0)])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    flat = spark.createDataFrame([("1", txt)], "doc_id string, text string")
    p = TS.pii_scrub(F.col("text"))
    frow = flat.select(
        p["redacted"].alias("r"), p["n_url"].alias("u"), p["n_email"].alias("e"),
        p["n_ip"].alias("i"), p["n_phone"].alias("p")
    ).collect()[0]
    srow = TS.pii_scrub_spans(docs).collect()[0]
    assert srow.spans[0].text == frow.r
    assert (srow.n_url, srow.n_email, srow.n_ip, srow.n_phone) == (
        frow.u, frow.e, frow.i, frow.p
    )


# --- Gopher repetition battery (dup-ngram half) --------------------------------


def test_gopher_repetition_fracs_and_gate(spark):
    docs = spark.createDataFrame(
        [
            # "a b c d e" repeats at word 1 and 6: union coverage = 10/11 words
            ("g5", "a b c d e a b c d e f"),
            # duplicated line: 2 of 3 line occurrences share text
            ("gl", "x\nx\ny"),
            # duplicated paragraph
            ("gp", "p q\n\np q"),
            ("ok", "one two three four five six seven"),
            ("empty", ""),
        ],
        "doc_id string, text string",
    )
    out = {r.doc_id: r for r in TS.gopher_repetition(docs).collect()}
    g5 = out["g5"]
    assert abs(g5.frac_dup_5gram_chars - 10 / 11) < 1e-6
    assert g5.frac_dup_6gram_chars == 0.0  # all 6-grams distinct
    assert not g5.repetition_pass
    gl = out["gl"]
    assert abs(gl.frac_dup_lines - 1 / 3) < 1e-6
    assert abs(gl.frac_dup_line_chars - 1 / 3) < 1e-6
    assert gl.frac_dup_paras == 0.0 and not gl.repetition_pass
    gp = out["gp"]
    assert gp.frac_dup_paras == 0.5 and gp.frac_dup_para_chars == 0.5
    assert gp.frac_dup_5gram_chars == 0.0  # only 4 words
    ok = out["ok"]
    assert ok.repetition_pass
    assert all(
        getattr(ok, c) == 0.0
        for c in ("frac_dup_lines", "frac_dup_paras", "frac_dup_5gram_chars",
                  "frac_dup_10gram_chars")
    )
    emp = out["empty"]
    assert emp.repetition_pass and emp.frac_dup_lines == 0.0


def test_gopher_repetition_overlap_counts_once(spark):
    # "w w w w w w" (6 words): every 5-gram is "w w w w w" at starts 1,2 ->
    # duplicated; union coverage = all 6 words, NOT 10
    docs = spark.createDataFrame([("d", "w w w w w w")], "doc_id string, text string")
    r = TS.gopher_repetition(docs).collect()[0]
    assert r.frac_dup_5gram_chars == 1.0


# --- readability (Flesch) -------------------------------------------------------


def test_syllable_heuristic(spark):
    from ocr_spark.operators.textstats import syllable_count

    words = ["cat", "table", "create", "strength", "7", "молоко", "the"]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {
        r.w: r.s
        for r in df.select("w", syllable_count(F.col("w")).alias("s")).collect()
    }
    assert got["cat"] == 1        # one vowel run
    assert got["table"] == 1      # runs a,e minus the silent trailing -le e
    assert got["create"] == 1     # runs ea,e minus the silent trailing -te e
    assert got["strength"] == 1   # single e run
    assert got["7"] == 1          # vowel-less words floor at 1
    assert got["молоко"] == 3     # cyrillic vowels count
    assert got["the"] == 1        # single run: silent-e deduction needs >= 2 runs


def test_readability_scores_formula_and_edges(spark):
    from ocr_spark.operators.textstats import readability_scores

    docs = spark.createDataFrame(
        [
            (1, "The cat sat. The dog ran."),   # 6 words, 2 sentences, 6 syllables
            (2, ""),                             # empty: NULL metrics
            (3, "word"),                         # terminator-less text is 1 sentence
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in readability_scores(docs).collect()}
    r1 = out[1]
    assert (r1.n_words, r1.n_sentences, r1.n_syllables) == (6, 2, 6)
    # fre = 206835 - 1015*6//2 - 84600*6//6
    assert r1.fre_milli == 206835 - 3045 - 84600
    assert r1.fk_grade_milli == 390 * 6 // 2 + 11800 * 6 // 6 - 15590
    assert out[2].n_words == 0 and out[2].fre_milli is None
    assert out[3].n_sentences == 1 and out[3].fre_milli is not None


# --- Stupid Backoff trigram LM ---------------------------------------------------


def test_stupid_backoff_levels(spark):
    """External model 'a b c a b c' gives hand-checkable counts: t3{a b c:2,
    b c a:1, c a b:1}, b2{b c:2, c a:1, a b:1}, u1{c:2, a:1, b:1}, n0=4 —
    one probe doc per backoff level."""
    from ocr_spark.operators.textstats import lm_stupid_backoff

    model = spark.createDataFrame([(100, "a b c a b c")], "doc_id long, text string")
    probes = spark.createDataFrame(
        [
            (1, "a b c"),   # trigram hit: bits(c2=2)-bits(t=2) = 0
            (2, "x b c"),   # bigram level: 1322 + bits(c1[b]=2)-bits(b2=2) = 1322
            (3, "b c c"),   # unigram level: 2644 + bits(n0=4)-bits(u1[c]=2) = 3644
            (4, "q q q"),   # full OOV: 2644 + 20000
            (5, "a b"),     # <3 words: 0 trigrams
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in lm_stupid_backoff(probes, model_docs=model).collect()}
    assert (out[1].n_trigrams, out[1].total_millibits) == (1, 0)
    assert out[2].total_millibits == 1322
    assert out[3].total_millibits == 3644
    assert out[4].total_millibits == 22644
    assert (out[5].n_trigrams, out[5].total_millibits, out[5].avg_millibits) == (0, 0, 0.0)


def test_stupid_backoff_self_trained_never_backs_off(spark):
    from ocr_spark.operators.textstats import lm_stupid_backoff

    docs = spark.createDataFrame(
        [(1, "a b c a"), (2, "z z")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in lm_stupid_backoff(docs).collect()}
    # both trigrams unique: bits(1)-bits(1) = 0 at the trigram level
    assert (out[1].n_trigrams, out[1].total_millibits) == (2, 0)
    assert out[2].n_trigrams == 0


# --- winnowing fingerprints ---------------------------------------------------


def py_winnow(text, k=5, w=4):
    """Golden: Schleimer 2003 with min-hash / rightmost-tie selection."""
    import hashlib
    import re

    t = re.sub(r"\s+", "", text or "", flags=re.UNICODE).lower()
    n = len(t) - (k - 1)
    if n < 1:
        return set()
    hashes = [
        int(hashlib.md5(t[i : i + k].encode()).hexdigest()[:9], 16)
        for i in range(n)
    ]
    out = set()
    for j in range(max(n - (w - 1), 1)):
        win = hashes[j : j + w]
        m = min(win)
        # rightmost occurrence of the min within the window
        pos = j + max(p for p, h in enumerate(win) if h == m)
        out.add((m, pos))
    return out


def test_winnow_matches_golden_and_guarantee(spark):
    from ocr_spark.operators.dedup import winnow_fingerprints

    texts = [
        (1, "The quick brown fox jumps over the lazy dog"),
        (2, "a shared long passage appears here verbatim in both documents"),
        (3, "prefix junk THEN a shared long passage appears here verbatim in both documents AND tail"),
        (4, "tiny"),   # < k after strip -> no fingerprints
        (5, ""),
        (6, "aaaaaaaaaaaa"),  # degenerate: all grams identical (tie storm)
        (7, "exact12"),       # k <= n < k+w-1: single window
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got: dict[int, set] = {}
    for r in winnow_fingerprints(df).collect():
        got.setdefault(r.doc_id, set()).add((r.fp_hash, r.pos))
    for doc_id, text in texts:
        assert got.get(doc_id, set()) == py_winnow(text), doc_id
    # coverage guarantee: docs 2 and 3 share a >= w+k-1 char substring ->
    # at least one common fp_hash
    shared = {h for h, _ in got[2]} & {h for h, _ in got[3]}
    assert shared


# --- span-level decontamination ----------------------------------------------


def test_decontaminate_spans_surgical(spark):
    from ocr_spark.operators.textstats import decontaminate_spans

    span_t = "doc_id long, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    docs = spark.createDataFrame(
        [
            (
                1,
                [
                    ("text", "totally clean opening words here", "", 0),
                    ("media", "", "ref-a", 16),
                    ("text", "the secret eval answer is forty two", "", 32),
                    ("text", "another clean closing paragraph of text", "", 48),
                ],
            ),
            # whole doc clean -> untouched
            (2, [("text", "nothing shared with the benchmark", "", 0)]),
            # media-only doc -> untouched even though it has no text
            (3, [("media", "", "ref-b", 0)]),
        ],
        span_t,
    )
    eval_docs = spark.createDataFrame(
        [(100, "the secret eval answer is forty two indeed")],
        "doc_id long, text string",
    )
    got = {}
    for r in decontaminate_spans(docs, eval_docs, n=5).collect():
        got.setdefault(r.doc_id, []).append((r.kind, r.text, r.media_ref, r.ord))
    # doc 1: contaminated span dropped, media + clean spans re-ranked dense
    assert got[1] == [
        ("text", "totally clean opening words here", "", 0),
        ("media", "", "ref-a", 1),
        ("text", "another clean closing paragraph of text", "", 2),
    ]
    assert got[2] == [("text", "nothing shared with the benchmark", "", 0)]
    assert got[3] == [("media", "", "ref-b", 0)]


def test_winnow_pairs_quote_and_cap(spark):
    from ocr_spark.operators.dedup import winnow_pairs

    boiler = "universal footer boilerplate appearing everywhere on this site"
    quote = "a distinctive quoted passage long enough to fingerprint reliably"
    texts = [
        (1, f"first document body {quote} and its own words {boiler}"),
        (2, f"unrelated opener THEN {quote} syndicated into another page {boiler}"),
        (3, f"wholly unrelated content about something different {boiler}"),
        (4, f"fourth page with its own unique material entirely {boiler}"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    # golden with the same explicit cap
    fps = {i: {h for h, _ in py_winnow(t)} for i, t in texts}
    from collections import Counter

    dfc = Counter(h for s in fps.values() for h in s)
    kept = {h for h, c in dfc.items() if c <= 3}
    want = {}
    ids = sorted(fps)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            n = len(fps[ids[x]] & fps[ids[y]] & kept)
            if n >= 2:
                want[(ids[x], ids[y])] = n
    got = {
        (r.id_a, r.id_b): r.n_shared
        for r in winnow_pairs(df, min_shared=2, max_df=3, k=5, w=4).collect()
    }
    assert got == want
    assert (1, 2) in got  # the quote pair survives
    # boilerplate shared by all 4 docs is above the cap: no pair rests on it
    assert (3, 4) not in got


def test_bitext_mine_shared_id_spaces(spark):
    """Round-5 ADVICE regression: independently numbered sides (both ids
    0..5) — the aligned A_i/B_i pair must NOT be swallowed by the
    bruteforce self-id mask. The parity remap inside bitext_mine makes the
    id spaces disjoint around the k-NN kernels and restores originals on
    output."""
    rng = np.random.RandomState(7)
    base = rng.randn(6, 8) * 2.0
    a_rows, b_rows = [], []
    for i in range(6):
        a_rows.append((i, [float(x) for x in base[i] + rng.randn(8) * 0.01]))
        b_rows.append((i, [float(x) for x in base[i] + rng.randn(8) * 0.01]))
    a = spark.createDataFrame(a_rows, "vec_id long, embedding array<float>")
    b = spark.createDataFrame(b_rows, "vec_id long, embedding array<float>")
    out = SIM.bitext_mine(a, b, k=3, margin_threshold=1.0).collect()
    got = {r["a_id"]: r["b_id"] for r in out}
    assert got == {i: i for i in range(6)}
    for r in out:
        assert 0.99 < r["cosine"] <= 1.0 and r["margin"] > 1.0


def test_bitext_mine_disjoint_ids_unchanged_by_remap(spark):
    """The parity remap is a no-op on results when ids were already
    disjoint: same pairs, same cosines, same margins as the original
    even/odd fixture contract (regression anchor for the oracle)."""
    rng = np.random.RandomState(7)
    base = rng.randn(6, 8) * 2.0
    rows = []
    for i in range(6):
        rows.append((i * 2, [float(x) for x in base[i] + rng.randn(8) * 0.01]))
        rows.append((i * 2 + 1, [float(x) for x in base[i] + rng.randn(8) * 0.01]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    out = SIM.bitext_mine(a, b, k=3, margin_threshold=1.0).collect()
    assert {r["a_id"]: r["b_id"] for r in out} == {i * 2: i * 2 + 1 for i in range(6)}


def test_topk_bruteforce_null_group_never_masks(spark):
    """Round-5 ADVICE regression: a NULL exclude-group value follows SQL
    semantics (matches nothing) instead of raising an executor-side
    TypeError in the int64 cast — null-group corpus rows stay eligible as
    neighbors for every query, including null-group queries."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 7),
        (1, [0.9, 0.1, 0.0, 0.0], 7),     # same group as q0 → masked
        (2, [0.8, 0.2, 0.0, 0.0], None),  # null group → never masked
        (3, [0.0, 1.0, 0.0, 0.0], 9),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    out = SIM.topk_bruteforce(
        emb, q, k=3, query_id_col="query_id", exclude_group_col="label"
    ).collect()
    got = {r["neighbor_id"]: r["rank"] for r in out}
    assert 1 not in got          # same non-null group masked
    assert got.get(2) == 1       # null-group row ranks first (closest eligible)
    assert got.get(3) == 2
    # null-group QUERY: nothing is masked against it except itself
    qn = emb.filter(F.col("vec_id") == 2).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    out2 = SIM.topk_bruteforce(
        emb, qn, k=3, query_id_col="query_id", exclude_group_col="label"
    ).collect()
    assert {r["neighbor_id"] for r in out2} == {0, 1, 3}


def test_pair_prf_dedups_inputs(spark):
    """Round-5 ADVICE regression: repeated (a_id, b_id) rows in either
    input no longer fan out through the full-outer join — pair_prf is
    dup-safe as the public scorecard."""
    from ocr_spark.operators import dedup as DDm

    truth = spark.createDataFrame(
        [("a", "c"), ("a", "c"), ("a", "x")], "a_id string, b_id string"
    )
    pred = spark.createDataFrame(
        [("a", "c"), ("a", "c"), ("a", "c"), ("b", "d")], "a_id string, b_id string"
    )
    row = DDm.pair_prf(truth, pred, "t").collect()[0]
    assert (row["tp"], row["fp"], row["fn"]) == (1, 1, 1)
    assert row["precision"] == 0.5 and row["recall"] == 0.5
