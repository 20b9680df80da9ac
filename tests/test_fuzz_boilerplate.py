"""Seeded fuzz parity for the HTML boilerplate extractor: random adversarial
HTML through the Spark expression pipeline must match the DuckDB oracle —
the same comparison the driver's correctness gate runs, on nastier inputs
than the wrapped documents corpus (nested containers, stray close tags,
anchors straddling word-count thresholds, unicode whitespace, tag soup,
script/style/comment bodies that hold block tags)."""

from __future__ import annotations

import random

import duckdb
import pytest

from ocr_spark.operators.boilerplate import extract_html_documents
from ocr_spark.plans.entry_queries import _sql_html_extract

_WORDS = [
    "data", "pipeline", "spark", "слово", "текст", "ёж", "x1", "NO", "the",
    "quick", "brown", "fox", "jumps", "über", "naïve",
]
_TAGS_OPEN = ["<div>", "<div class='x'>", "<ul>", "<ol>", "<table>", "<section>", "<nav>"]
_TAGS_CLOSE = ["</div>", "</ul>", "</ol>", "</table>", "</section>", "</nav>"]
_SEP = ["<p>", "</p>", "<br>", "<br/>", "<h2>", "</h2>", "<li>", "</li>", "<tr>", "<td>"]
_WS = [" ", "  ", "\t", "\n", " ", "　"]


def _words(rng: random.Random, n: int) -> str:
    return rng.choice(_WS).join(rng.choice(_WORDS) for _ in range(n))


def _decoy(rng: random.Random) -> str:
    """A script, style or comment body holding block tags and enough words
    to be content: the engine strips the body before it splits the page,
    so none of it may reach a block."""
    body = f"<div><p>{_words(rng, rng.choice([5, 20, 45]))}</p>\n<br>{_words(rng, 18)}</div>"
    return rng.choice([
        f"<script>var a = '{body}';</script>",
        f"<SCRIPT type='text/javascript'>\n{body}\n</Script>",
        f"<style>/* {body} */ .x {{ color: red }}</style>",
        f"<!-- {body} -->",
    ])


def _gen_html(rng: random.Random) -> str:
    out = []
    for _ in range(rng.randint(0, 14)):
        roll = rng.random()
        if roll < 0.22:
            out.append(rng.choice(_TAGS_OPEN))
        elif roll < 0.38:
            out.append(rng.choice(_TAGS_CLOSE))  # may be unbalanced — fine
        elif roll < 0.55:
            out.append(rng.choice(_SEP))
        elif roll < 0.72:
            # plain text block, word counts clustered on the classifier's
            # 4/16/17/40 thresholds
            out.append(_words(rng, rng.choice([0, 1, 4, 5, 15, 16, 17, 18, 40, 41, 60])))
        else:
            # anchor-bearing block with tunable link density
            total = rng.choice([3, 5, 10, 20])
            in_anchor = rng.randint(0, total)
            out.append(
                _words(rng, total - in_anchor)
                + f" <a href='/{rng.randint(0, 9)}'>"
                + _words(rng, in_anchor)
                + "</a>"
            )
        if rng.random() < 0.3:
            out.append(rng.choice(_WS))
        if rng.random() < 0.1:
            out.append(_decoy(rng))
    return "".join(out)


def _py_boilerpipe(html: str):
    """Linear-time pure-Python twin of operators/boilerplate — used where
    the DuckDB oracle's per-block depth slice (quadratic in tag count)
    would make pathological-HTML parity checks impractically slow."""
    import re

    block_re = re.compile(
        r"</?(?:p|div|br|h[1-6]|li|ul|ol|table|tr|td|article|section|"
        r"header|footer|nav)\b[^>]*>",
        re.I,
    )
    open_re = re.compile(r"^<(?:div|ul|ol|table|article|section|header|footer|nav)\b", re.I)
    close_re = re.compile(r"^</(?:div|ul|ol|table|article|section|header|footer|nav)\b", re.I)
    anchor_re = re.compile(r"<a\b[^>]*>(.*?)</a>", re.I | re.S)
    tag_re = re.compile(r"<[^>]*>", re.S)

    html = html or ""
    parts = block_re.split(html)
    tags = block_re.findall(html)
    depth, blocks = 0, []
    for i, p in enumerate(parts):
        if i > 0:
            t = tags[i - 1]
            depth += 1 if open_re.match(t) else (-1 if close_re.match(t) else 0)
        text = tag_re.sub("", p).strip()
        if text == "":
            continue
        anchor = "".join(tag_re.sub("", a) for a in anchor_re.findall(p))
        ld = min(len(anchor) / len(text), 1.0) if text else 0.0
        blocks.append({"text": text, "n_words": len(text.split()), "ld": ld, "depth": depth})

    def feat(j, f, default):
        return blocks[j][f] if 0 <= j < len(blocks) else default

    flags = []
    for j in range(len(blocks)):
        if feat(j, "ld", 0.0) <= 0.333333:
            if feat(j - 1, "ld", 0.0) <= 0.555556:
                if feat(j, "n_words", 0) <= 16:
                    ok = feat(j - 1, "n_words", 0) > 4 if feat(j + 1, "n_words", 0) <= 15 else True
                else:
                    ok = True
            else:
                ok = feat(j + 1, "n_words", 0) > 17 if feat(j, "n_words", 0) <= 40 else True
        else:
            ok = False
        flags.append(ok)
    main = "\n".join(b["text"] for b, f in zip(blocks, flags) if f)
    return (
        main,
        len(blocks),
        sum(flags),
        max((b["depth"] for b in blocks), default=0),
        sum(len(b["text"]) for b, f in zip(blocks, flags) if not f),
    )


def test_pathological_html_depth_stays_linear(spark):
    """A doc with thousands of boundary tags (the 100×-scale-up HTML the
    per-block slice-sum was quadratic on): correct output, sane wall time.
    The quadratic form evaluated ~2·(2n)² interpreted rlike lambdas per doc
    (~10⁸ at n=3000 — minutes); the prefix-sum form does one regex pair per
    tag."""
    import time

    n = 3000
    body = "".join(
        f"<div>word {'w ' * 19}</div>" if i % 7 else f"<div><a href='/x'>link {i}</a></div>"
        for i in range(n)
    )
    docs = [(i, f"<section>{body}</section>") for i in range(4)]
    df = spark.createDataFrame(docs, "doc_id long, html string")
    t0 = time.monotonic()
    got = {
        r["doc_id"]: (
            r["main_text"], r["n_blocks"], r["n_content_blocks"], r["max_depth"], r["boiler_chars"]
        )
        for r in extract_html_documents(df).collect()
    }
    wall = time.monotonic() - t0
    want = _py_boilerpipe(docs[0][1])
    assert all(v == want for v in got.values())
    assert want[1] == n and want[3] == 2
    # the quadratic-depth regression this guards against ran for many
    # minutes; 120s leaves ~2× headroom over the worst observed healthy
    # run (63.6s under heavy host steal) without masking a real blowup
    assert wall < 120, f"pathological-HTML extraction took {wall:.1f}s — depth likely quadratic again"


@pytest.mark.parametrize("seed", [20260817])
def test_fuzz_html_extract_matches_duckdb_oracle(spark, seed):
    rng = random.Random(seed)
    rows = [(i, _gen_html(rng)) for i in range(150)]
    rows += [(150, ""), (151, None), (152, "<a>only a link</a>"), (153, "no tags at all")]

    df = spark.createDataFrame(rows, "doc_id long, html string")
    got = {
        r["doc_id"]: (
            r["main_text"], r["n_blocks"], r["n_content_blocks"], r["max_depth"], r["boiler_chars"]
        )
        for r in extract_html_documents(df).collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE fuzz_html(doc_id BIGINT, html VARCHAR)")
    con.executemany("INSERT INTO fuzz_html VALUES (?, ?)", rows)
    sql = _sql_html_extract("SELECT doc_id, coalesce(html, '') AS html FROM fuzz_html")
    want = {r[0]: (r[1], r[2], r[3], r[4], r[5]) for r in con.execute(sql).fetchall()}

    assert set(got) == set(want)
    mismatches = [(k, got[k], want[k]) for k in got if got[k] != want[k]]
    assert not mismatches, mismatches[:3]


# --- Readability fuzz parity -------------------------------------------------

_RB_CLASSES = [
    "article", "content", "entry", "main", "post", "story",          # positive
    "sidebar", "comment", "footer", "widget", "promo", "related",    # negative
    "xyz", "wrapper", "",                                            # neutral
]


def _gen_html_readability(rng: random.Random) -> str:
    """Adversarial HTML for the Readability scorer: classed/id'd containers
    (double-quoted, as the extractor matches), nested structures, stray
    closes, script/style/comment decoys, and paragraphs straddling the
    25-char scoring minimum and the /100 length-bonus steps."""
    out = []
    for _ in range(rng.randint(0, 16)):
        roll = rng.random()
        if roll < 0.2:
            cls = rng.choice(_RB_CLASSES)
            idv = rng.choice(_RB_CLASSES)
            attrs = ""
            if cls:
                attrs += f' class="{cls}"'
            if rng.random() < 0.4 and idv:
                attrs += f' id="{idv}"'
            out.append(f"<{rng.choice(['div', 'section', 'table'])}{attrs}>")
        elif roll < 0.34:
            out.append(rng.choice(_TAGS_CLOSE))
        elif roll < 0.42:
            out.append(rng.choice(_SEP))
        elif roll < 0.5:
            out.append(
                rng.choice(
                    [
                        "<script>var d = '<div><p>decoy, decoy</p></div>';</script>",
                        "<style>.x { color: red; }</style>",
                        "<!-- <div><p>ghost, ghost</p></div> -->",
                    ]
                )
            )
        elif roll < 0.75:
            # text with comma density and char counts around 25 and 100
            n = rng.choice([2, 4, 5, 6, 18, 20, 22, 40])
            words = _words(rng, n)
            if rng.random() < 0.5:
                words = words.replace(" ", ", ", rng.randint(1, 3))
            out.append(words)
        else:
            total = rng.choice([4, 10, 24])
            in_anchor = rng.randint(0, total)
            out.append(
                _words(rng, total - in_anchor)
                + f' <a href="/{rng.randint(0, 9)}">'
                + _words(rng, in_anchor)
                + "</a>"
            )
        if rng.random() < 0.25:
            out.append(rng.choice(_WS))
    return "".join(out)


@pytest.mark.parametrize("seed", [20260818])
def test_fuzz_readability_matches_duckdb_oracle(spark, seed):
    from ocr_spark.operators.boilerplate import readability_extract
    from ocr_spark.plans.entry_queries import _sql_readability

    rng = random.Random(seed)
    rows = [(i, _gen_html_readability(rng)) for i in range(150)]
    rows += [
        (150, ""),
        (151, None),
        (152, '<div class="content"><a href="/x">only a link</a></div>'),
        (153, "no tags at all but long enough, with a comma, to score points"),
        (154, "</div></div><div><p>stray closes before, commas, a real container "
              "with enough length</p></div>"),
    ]

    df = spark.createDataFrame(rows, "doc_id long, html string")
    cols = ("main_text", "top_candidate", "top_score", "n_candidates", "n_selected")
    got = {r["doc_id"]: tuple(r[c] for c in cols)
           for r in readability_extract(df).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE fuzz_html(doc_id BIGINT, html VARCHAR)")
    con.executemany("INSERT INTO fuzz_html VALUES (?, ?)", rows)
    sql = _sql_readability("SELECT doc_id, coalesce(html, '') AS html FROM fuzz_html")
    want = {r[0]: tuple(r[1:]) for r in con.execute(sql).fetchall()}

    assert set(got) == set(want)
    mismatches = [(k, got[k], want[k]) for k in got if got[k] != want[k]]
    assert not mismatches, mismatches[:3]


# --- jusText fuzz parity ------------------------------------------------------

# ~50% stopwords so block densities land all around the 0.30/0.32 cutoffs;
# lengths straddle the 70/200-char boundaries via word-count choice
_JT_WORDS = [
    "the", "and", "of", "it", "is", "was", "that", "they",
    "data", "pipeline", "spark", "corpus", "слово", "extraction",
    "x1", "naïve", "threshold",
]


def _gen_html_justext(rng: random.Random) -> str:
    out = []
    for _ in range(rng.randint(0, 16)):
        roll = rng.random()
        if roll < 0.16:
            out.append(rng.choice(_TAGS_OPEN))
        elif roll < 0.28:
            out.append(rng.choice(_TAGS_CLOSE))
        elif roll < 0.42:
            out.append(rng.choice(_SEP))
        elif roll < 0.5:
            out.append(
                rng.choice(
                    [
                        "© 2026 Example",
                        "this text mentions &copy somewhere inside it",
                        "<script>var x = '<p>decoy the the the</p>';</script>",
                        "<style>.x { color: red }</style>",
                        "<!-- the the the ghost -->",
                    ]
                )
            )
        elif roll < 0.78:
            # word counts chosen so char lengths cluster around 70 and 200
            out.append(_words(rng, rng.choice([1, 3, 8, 12, 14, 16, 30, 40, 55])))
        else:
            total = rng.choice([4, 10, 20, 40])
            in_anchor = rng.randint(0, total)
            out.append(
                _words(rng, total - in_anchor)
                + f" <a href='/{rng.randint(0, 9)}'>"
                + _words(rng, in_anchor)
                + "</a>"
            )
        if rng.random() < 0.25:
            out.append(rng.choice(_WS))
    return "".join(out)


def _py_justext_sequential(html: str):
    """Pure-Python model following the PUBLISHED jusText control flow
    LITERALLY — the short pass batched over the context-free classes, the
    near-good pass as a sequential in-place forward loop whose neighbour
    scans see earlier revisions.  The Spark/DuckDB implementations use a
    closed-form collapse of that sequential loop; this model is the proof
    obligation that the collapse is exact."""
    import re

    from ocr_spark.operators.boilerplate import (
        JT_LENGTH_HIGH,
        JT_LENGTH_LOW,
        JT_MAX_LINK_DENSITY,
        JT_STOPWORDS_HIGH,
        JT_STOPWORDS_LOW,
        JUSTEXT_STOPLIST_EN,
    )

    stop = set(JUSTEXT_STOPLIST_EN)
    html = html or ""
    html = re.sub(r"(?is)<script\b[^>]*>.*?</script>", "", html)
    html = re.sub(r"(?is)<style\b[^>]*>.*?</style>", "", html)
    html = re.sub(r"(?s)<!--.*?-->", "", html)
    block_re = re.compile(
        r"</?(?:p|div|br|h[1-6]|li|ul|ol|table|tr|td|article|section|"
        r"header|footer|nav)\b[^>]*>",
        re.I,
    )
    tag_re = re.compile(r"(?s)<[^>]*>")
    anchor_re = re.compile(r"(?is)<a\b[^>]*>(.*?)</a>")

    blocks = []
    for part in block_re.split(html):
        text = tag_re.sub("", part).strip()
        if not text:
            continue
        anchor = "".join(tag_re.sub("", a) for a in anchor_re.findall(part))
        words = text.split()
        n_stop = sum(1 for w in words if w.lower() in stop)
        blocks.append((text, len(text), len(anchor), len(words), n_stop))

    cls = []
    for text, chars, link_chars, n_words, n_stop in blocks:
        ld = link_chars / chars
        density = n_stop / n_words if n_words else 0.0
        if ld > JT_MAX_LINK_DENSITY:
            cls.append("bad")
        elif "©" in text or "&copy" in text:
            cls.append("bad")
        elif chars < JT_LENGTH_LOW:
            cls.append("bad" if link_chars > 0 else "short")
        elif density >= JT_STOPWORDS_HIGH:
            cls.append("good" if chars > JT_LENGTH_HIGH else "neargood")
        elif density >= JT_STOPWORDS_LOW:
            cls.append("neargood")
        else:
            cls.append("bad")

    def neigh(i, inc, ignore_neargood, classes):
        j = i + inc
        while 0 <= j < len(classes):
            c = classes[j]
            if c in ("good", "bad"):
                return c
            if c == "neargood" and not ignore_neargood:
                return c
            j += inc
        return "bad"

    classes = list(cls)
    new = {}
    for i, c in enumerate(classes):
        if c != "short":
            continue
        p = neigh(i, -1, True, classes)
        n = neigh(i, 1, True, classes)
        if {p, n} == {"good"}:
            new[i] = "good"
        elif {p, n} == {"bad"}:
            new[i] = "bad"
        elif (p == "bad" and neigh(i, -1, False, classes) == "neargood") or (
            n == "bad" and neigh(i, 1, False, classes) == "neargood"
        ):
            new[i] = "good"
        else:
            new[i] = "bad"
    for i, v in new.items():
        classes[i] = v

    # the sequential near-good loop, verbatim shape
    for i in range(len(classes)):
        if classes[i] != "neargood":
            continue
        p = neigh(i, -1, True, classes)
        n = neigh(i, 1, True, classes)
        classes[i] = "bad" if (p, n) == ("bad", "bad") else "good"

    main = "\n".join(b[0] for b, c in zip(blocks, classes) if c == "good")
    boiler = sum(b[1] for b, c in zip(blocks, classes) if c != "good")
    n_content = sum(1 for c in classes if c == "good")
    return (main, len(blocks), n_content, boiler)


@pytest.mark.parametrize("seed", [20260819])
def test_fuzz_justext_matches_duckdb_oracle_and_sequential_model(spark, seed):
    from ocr_spark.operators.boilerplate import justext_extract
    from ocr_spark.plans.entry_queries import _sql_justext

    rng = random.Random(seed)
    rows = [(i, _gen_html_justext(rng)) for i in range(200)]
    rows += [
        (200, ""),
        (201, None),
        (202, "<a>only a link</a>"),
        (203, "the and of it is was that they " * 12),      # pure stopwords, long
        (204, "<p>short one</p><p>" + "the and of it is was that they " * 12
              + "</p><p>short two</p>"),                     # shorts flanking good
        (205, "<p>" + "the and of it " * 4 + "</p>"),        # neargood, no flanks
        (206, "&copy inside text"),
        (207, "© 2026"),
    ]

    cols = ("main_text", "n_blocks", "n_content_blocks", "boiler_chars")
    df = spark.createDataFrame(rows, "doc_id long, html string")
    got = {
        r["doc_id"]: tuple(r[c] for c in cols)
        for r in justext_extract(df).collect()
    }

    # 1. sequential-model parity: the closed-form revision passes must agree
    #    with the published sequential control flow on every document
    model = {k: _py_justext_sequential(h) for k, h in rows}
    mismatches = [(k, got[k], model[k]) for k in got if got[k] != model[k]]
    assert not mismatches, mismatches[:3]

    # 2. oracle parity: the exact comparison the driver runs
    con = duckdb.connect()
    con.execute("CREATE TABLE fuzz_html(doc_id BIGINT, html VARCHAR)")
    con.executemany("INSERT INTO fuzz_html VALUES (?, ?)", rows)
    sql = _sql_justext("SELECT doc_id, coalesce(html, '') AS html FROM fuzz_html")
    want = {r[0]: tuple(r[1:]) for r in con.execute(sql).fetchall()}
    assert set(got) == set(want)
    mismatches = [(k, got[k], want[k]) for k in got if got[k] != want[k]]
    assert not mismatches, mismatches[:3]


# --- HTML → interleaved spans fuzz parity -------------------------------------

_IMGS = [
    '<img src="/a{n}.png">',
    "<img alt='x' src='/b{n}.jpg'>",
    '<IMG SRC="/C{n}.GIF">',
    "<IMG SRC='/d{n}.png' width=2>",
    '<img src="">',
    "<p><img src=\"/fig{n}.png\"></p>",                  # image-only unit
    "<br><IMG SRC='/fig{n}.png'><img src=\"/g{n}.png\"><br>",  # two-image unit
]


def _gen_html_spans(rng: random.Random) -> str:
    """`_gen_html` fragments with `<img>` tags between them: inline in a
    text block (an illustrated paragraph), or alone in their own unit
    between kept and dropped blocks (a standalone figure)."""
    out = []
    for _ in range(rng.randint(1, 4)):
        out.append(_gen_html(rng))
        if rng.random() < 0.7:
            out.append(rng.choice(_IMGS).format(n=rng.randint(0, 99)))
    return "".join(out)


@pytest.mark.parametrize("seed", [20260820])
def test_fuzz_html_to_spans_matches_duckdb_oracle(spark, seed):
    from ocr_spark.operators.boilerplate import html_to_spans
    from ocr_spark.plans.entry_queries import _sql_html_spans

    rng = random.Random(seed)
    rows = [(i, _gen_html_spans(rng)) for i in range(200)]
    rows += [
        (200, ""),
        (201, None),
        (202, '<img src="/only.png">'),
        (203, "<p>" + _words(rng, 30) + "</p><p><IMG SRC='/between.png'></p>"
              "<div><a href='/n'>nav nav nav</a></div>"),
    ]

    df = spark.createDataFrame(rows, "doc_id long, html string")
    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in html_to_spans(df).collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE fuzz_html(doc_id BIGINT, html VARCHAR)")
    con.executemany("INSERT INTO fuzz_html VALUES (?, ?)", rows)
    sql = _sql_html_spans("SELECT doc_id, coalesce(html, '') AS html FROM fuzz_html")
    want = {k: [] for k, _ in rows}
    for doc_id, kind, text, media_ref, offset in sorted(
        con.execute(sql).fetchall(), key=lambda r: (r[0], r[4])
    ):
        want[doc_id].append((kind, text, media_ref, offset))

    assert set(got) == set(want)
    assert sum(s[0] == "media" for v in got.values() for s in v) > 50
    mismatches = [(k, got[k], want[k]) for k in got if got[k] != want[k]]
    assert not mismatches, mismatches[:3]
