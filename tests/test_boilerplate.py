"""HTML boilerplate strip (Boilerpipe NumWordsRules) — operators/boilerplate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_spark.operators import boilerplate as BP


def _extract(spark, html):
    df = spark.createDataFrame([(1, html)], "doc_id long, html string")
    return BP.extract_html_documents(df).first()


def _blocks(spark, html):
    df = spark.createDataFrame([(1, html)], "doc_id long, html string")
    return df.select(BP.html_blocks(F.col("html")).alias("b")).first()["b"]


LONG_P = (
    "<p>This paragraph carries a comfortably large number of genuinely "
    "meaningful words so that any shallow text feature classifier will "
    "count well past the sixteen word threshold used by the tree.</p>"
)


def test_block_segmentation_and_features(spark):
    html = '<div><p>Hello world</p><p>Visit <a href="/x">our links page</a> now</p></div>'
    b = _blocks(spark, html)
    assert [x["text"] for x in b] == ["Hello world", "Visit our links page now"]
    assert [x["n_words"] for x in b] == [2, 5]
    # anchor text "our links page" = 14 chars of 24-char text
    assert b[1]["link_density"] == pytest.approx(14 / 24)
    assert [x["depth"] for x in b] == [1, 1]


def test_tag_depth_tracks_nesting(spark):
    html = "<div>top<div><ul><li>deep item text</li></ul></div>after</div>"
    b = _blocks(spark, html)
    by_text = {x["text"]: x["depth"] for x in b}
    assert by_text["top"] == 1
    assert by_text["deep item text"] == 3  # div > div > ul
    assert by_text["after"] == 1  # back out of the inner div/ul


def test_classifier_drops_nav_and_footer_keeps_body(spark):
    html = (
        '<div class="nav"><a>Home</a> <a>About</a> <a>Contact</a></div>'
        + "<div>" + LONG_P + LONG_P + "</div>"
        + '<div class="footer"><a>All rights reserved forever</a></div>'
    )
    r = _extract(spark, html)
    assert r["n_blocks"] == 4
    assert r["n_content_blocks"] == 2
    assert "meaningful words" in r["main_text"]
    assert "Home" not in r["main_text"]
    assert "rights reserved" not in r["main_text"]
    assert r["boiler_chars"] > 0


def test_short_isolated_text_is_boilerplate(spark):
    r = _extract(spark, "<p>tiny snippet</p>")
    assert r["n_content_blocks"] == 0 and r["main_text"] == ""


def test_short_block_between_long_neighbors_is_content(spark):
    # curr<=16 words but next>15 words → CONTENT by the tree
    html = LONG_P + "<p>short bridge sentence</p>" + LONG_P
    r = _extract(spark, html)
    assert r["n_content_blocks"] == 3
    assert "short bridge sentence" in r["main_text"]


def test_high_link_density_is_always_boilerplate(spark):
    html = "<p><a>Every single word of this long enough block lives inside one anchor tag and therefore scores full link density</a></p>"
    r = _extract(spark, html)
    assert r["n_content_blocks"] == 0


def test_null_and_empty_html(spark):
    df = spark.createDataFrame([(1, None), (2, "")], "doc_id long, html string")
    rows = {r["doc_id"]: r for r in BP.extract_html_documents(df).collect()}
    for i in (1, 2):
        assert rows[i]["n_blocks"] == 0
        assert rows[i]["main_text"] == ""
        assert rows[i]["boiler_chars"] == 0


def test_boilerpipe_drops_script_bodies_before_the_split(spark):
    """A script body holding block tags is stripped before the block split,
    as in every other extractor, so none of its words reach main_text."""
    words = lambda tag, n: " ".join(f"{tag}{i}" for i in range(n))  # noqa: E731
    first, last = words("lead", 30), words("body", 30) + " end"
    html = f"<p>{first}</p><script>var a = '<p>{words('script', 20)}</p>';</script><p>{last}</p>"
    r = _extract(spark, html)
    assert "script" not in r["main_text"]
    assert r["main_text"] == f"{first}\n{last}"
    assert r["n_blocks"] == 2


# --- Readability (Arc90) candidate scoring ---------------------------------


def _readability(spark, html):
    from ocr_spark.operators.boilerplate import readability_extract

    df = spark.createDataFrame([(1, html)], "doc_id long, html string")
    return readability_extract(df).first()


_LONG_P = (
    "<p>This is a long paragraph of article prose, with commas, clauses, "
    "and plenty of words so the paragraph scores well above the minimum.</p>"
)


def test_readability_article_beats_sidebar_and_footer(spark):
    r = _readability(
        spark,
        '<div class="sidebar"><ul><li><a href="/a">One link</a></li>'
        '<li><a href="/b">Two links</a></li></ul></div>'
        f'<div class="article">{_LONG_P}{_LONG_P}</div>'
        '<div class="footer"><p><a href="/c">(c) 2026, all rights reserved, '
        "contact us please</a></p></div>",
    )
    assert "long paragraph of article prose" in r["main_text"]
    assert "One link" not in r["main_text"]
    assert "(c) 2026" not in r["main_text"]
    assert r["n_selected"] == 1 and r["top_score"] > 25


def test_readability_class_weight_breaks_tie(spark):
    # identical content; only the class differs — the positive class must win
    r = _readability(
        spark,
        f'<div class="sidebar">{_LONG_P}</div><div class="content">{_LONG_P}</div>',
    )
    # boundary-tag indices count <p>/</p> too: sidebar div=1, p=2, /p=3,
    # /div=4, content div=5
    assert r["top_candidate"] == 5
    r2 = _readability(
        spark,
        f'<div class="content">{_LONG_P}</div><div class="sidebar">{_LONG_P}</div>',
    )
    assert r2["top_candidate"] == 1


def test_readability_link_density_scales_score_down(spark):
    # the link-heavy container has MORE text but is mostly anchors
    linky = (
        "<p>Read <a href='/1'>this long anchor full of words and words</a> and "
        "<a href='/2'>this other long anchor, also full of words, commas</a> "
        "now</p>"
    )
    r = _readability(spark, f"<div>{linky}{linky}</div><div>{_LONG_P}</div>")
    assert r["top_candidate"] == 7  # div=1, 2×(p,/p)=2..5, /div=6, div=7
    assert "long paragraph of article prose" in r["main_text"]


def test_readability_sibling_inclusion_threshold(spark):
    # two root-level content divs: the second scores >= max(10, 0.2*top) and
    # joins the article; a weak third does not
    strong = _LONG_P * 4
    r = _readability(
        spark,
        f"<div>{strong}</div><div>{strong}</div><div><p>tiny note, small</p></div>",
    )
    assert r["n_selected"] == 2
    assert r["main_text"].count("long paragraph of article prose") == 8
    assert "tiny note" not in r["main_text"]


def test_readability_grandparent_half_credit_fuses_children(spark):
    # three child divs inside one article: each child earns its own score,
    # the parent earns half of ALL of them and wins — the fused article is
    # all three children, not the best single child
    child = f"<div>{_LONG_P}{_LONG_P}</div>"
    r = _readability(spark, f'<div id="main">{child}{child}{child}</div>')
    assert r["top_candidate"] == 1
    assert r["main_text"].count("long paragraph of article prose") == 6


def test_readability_script_style_comments_stripped(spark):
    r = _readability(
        spark,
        "<script>var x = '<div><p>decoy, decoy, decoy, decoy, decoy</p></div>';"
        "</script><style>.a { color: red; }</style>"
        f"<!-- <div>{_LONG_P}</div> --><div>{_LONG_P}</div>",
    )
    assert "decoy" not in r["main_text"]
    assert "color: red" not in r["main_text"]
    assert r["main_text"].count("long paragraph of article prose") == 1


def test_readability_no_candidates_falls_back_to_all_text(spark):
    r = _readability(spark, "<p>short one</p><p>short two</p>")
    assert r["top_candidate"] == -1 and r["n_candidates"] == 0
    assert r["main_text"] == "short one\nshort two"
    for html in ("", None):
        r = _readability(spark, html)
        assert r["main_text"] == "" and r["top_candidate"] == -1


def test_readability_unmatched_close_tags(spark):
    r = _readability(spark, f"</div></div><div>{_LONG_P}</div></div>")
    assert r["top_candidate"] == 3  # the real open tag is the third boundary
    assert "long paragraph of article prose" in r["main_text"]


def test_extractor_family_recovers_known_main_text(spark):
    """Comparative harness over pages with KNOWN main text: both family
    members must recover every content paragraph and drop the chrome;
    per-document char precision/recall against the ground truth is 1.0
    on this synthetic corpus for both (they may differ on real pages —
    that's the point of shipping both)."""
    from ocr_spark.operators.boilerplate import (
        extract_html_documents,
        justext_extract,
        readability_extract,
    )

    paras = [
        f"Paragraph {i} of the story has plenty of words, commas, and a "
        f"length well above every scoring minimum in any of the extractors, "
        f"and it is the kind of paragraph that the reader was hoping for "
        f"when they opened the page in the first place."
        for i in range(4)
    ]
    # jusText's good class needs >200 chars AND stopword density >= 0.32
    assert all(len(p) > 200 for p in paras)
    truth = "\n".join(paras)
    html = (
        '<div class="sidebar"><ul>'
        + "".join(f'<li><a href="/{i}">Related {i}</a></li>' for i in range(5))
        + '</ul></div><div class="article"><p>'
        + "</p><p>".join(paras)
        + '</p></div><div class="footer"><p><a href="/c">(c) 2026 Synth, '
        "contact, sitemap</a></p></div>"
    )
    df = spark.createDataFrame([(1, html)], "doc_id long, html string")

    for name, got in (
        ("boilerpipe", extract_html_documents(df).first()["main_text"]),
        ("readability", readability_extract(df).first()["main_text"]),
        ("justext", justext_extract(df).first()["main_text"]),
    ):
        truth_chars = set(truth.replace("\n", " ").split())
        got_words = set(got.replace("\n", " ").split())
        recall = len(truth_chars & got_words) / len(truth_chars)
        precision = len(truth_chars & got_words) / max(len(got_words), 1)
        assert recall == 1.0, f"{name} dropped content: {recall}"
        assert precision == 1.0, f"{name} kept chrome: {precision}"
        assert "Related" not in got and "(c) 2026" not in got, name


# --- jusText ------------------------------------------------------------------

# stopword-saturated filler: density 1.0, ~4.6 chars/word
_JT_GOODTEXT = "the and of it is was that they " * 12      # 384 chars → good
_JT_NEARTEXT = "the and of it is was that they " * 4       # 128 chars → neargood


def _justext(spark, html):
    from ocr_spark.operators.boilerplate import justext_extract

    df = spark.createDataFrame([(1, html)], "doc_id long, html string")
    return justext_extract(df).first()


def test_justext_good_short_and_bad_classes(spark):
    r = _justext(
        spark,
        "<div><a href='/'>Home</a> <a href='/x'>Nav</a></div>"
        f"<p>{_JT_GOODTEXT}</p>"
        "<p>alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
        " nu xi omicron pi rho sigma tau</p>",   # ≥70 chars, density 0 → bad
    )
    assert r["n_blocks"] == 3
    assert r["n_content_blocks"] == 1
    assert r["main_text"].startswith("the and of")
    assert "alpha" not in r["main_text"] and "Home" not in r["main_text"]


def test_justext_copyright_marks_bad(spark):
    for marker in ("© 2026 Corp and the rest of the long filler " * 5,
                   "&copy 2026 Corp and the rest of the long filler " * 5):
        r = _justext(spark, f"<p>{marker}</p><p>{_JT_GOODTEXT}</p>")
        assert r["n_content_blocks"] == 1
        assert "Corp" not in r["main_text"]


def test_justext_short_promoted_between_goods(spark):
    r = _justext(
        spark, f"<p>{_JT_GOODTEXT}</p><p>short note</p><p>{_JT_GOODTEXT}</p>"
    )
    assert r["n_content_blocks"] == 3
    assert "short note" in r["main_text"]


def test_justext_short_with_mixed_flanks_needs_neargood(spark):
    # bad | short | good, no near-good on the bad side → short stays bad
    r = _justext(
        spark,
        "<p>zz " + "xx yy " * 20 + "</p><p>short note</p>"
        f"<p>{_JT_GOODTEXT}</p>",
    )
    assert "short note" not in r["main_text"]
    # bad | neargood | short | good → the near-good between the short and
    # its bad-side neighbour rescues it (and the near-good itself goes good)
    r = _justext(
        spark,
        "<p>zz " + "xx yy " * 20 + "</p>"
        f"<p>{_JT_NEARTEXT}</p><p>short note</p><p>{_JT_GOODTEXT}</p>",
    )
    assert "short note" in r["main_text"]
    assert r["n_content_blocks"] == 3


def test_justext_neargood_flank_resolution(spark):
    # neargood flanked by bads on both sides → bad
    bad = "<p>zz " + "xx yy " * 20 + "</p>"
    r = _justext(spark, f"{bad}<p>{_JT_NEARTEXT}</p>{bad}")
    assert r["n_content_blocks"] == 0 and r["main_text"] == ""
    # neargood adjacent to a good → good
    r = _justext(spark, f"{bad}<p>{_JT_NEARTEXT}</p><p>{_JT_GOODTEXT}</p>")
    assert r["n_content_blocks"] == 2


def test_justext_link_density_gate(spark):
    # anchor text >20% of chars → bad even with perfect stopword density
    words = "the and of it is was that they " * 8
    r = _justext(spark, f"<p>{words}<a href='/'>{'the ' * 30}</a></p>")
    assert r["n_content_blocks"] == 0


def test_justext_script_style_null_empty(spark):
    r = _justext(
        spark,
        f"<script>var x = '<p>{_JT_GOODTEXT}</p>';</script>"
        f"<style>.x {{}}</style><!-- {_JT_GOODTEXT} --><p>{_JT_GOODTEXT}</p>",
    )
    assert r["n_blocks"] == 1 and r["n_content_blocks"] == 1
    from ocr_spark.operators.boilerplate import justext_extract

    df = spark.createDataFrame([(1, None), (2, "")], "doc_id long, html string")
    rows = {x["doc_id"]: x for x in justext_extract(df).collect()}
    assert rows[1]["n_blocks"] == 0 and rows[2]["main_text"] == ""


def test_justext_stoplist_selects_language(spark):
    """The stoplist IS the language model: German text passes with a German
    stoplist and fails with the English default (public jusText is
    multilingual purely via stoplists)."""
    from ocr_spark.operators.boilerplate import justext_extract

    de_stop = ("der die das und ist es war dass sie er wir ich nicht ein "
               "eine im in den dem von zu mit für auf als auch").split()
    de_text = "der hund und die katze das ist es war dass sie kamen " * 8
    df = spark.createDataFrame([(1, f"<p>{de_text}</p>")],
                               "doc_id long, html string")
    assert justext_extract(df).first()["n_content_blocks"] == 0
    got = justext_extract(df, stopwords=de_stop).first()
    assert got["n_content_blocks"] == 1 and got["main_text"].startswith("der hund")


def test_page_metadata_precedence_and_fallbacks(spark):
    """og:title beats the title element but an EMPTY og:title falls back;
    description prefers og: over name=; published prefers
    article:published_time over <time datetime>; lang lowercases the
    declared attribute; entities decode; absent fields are ''."""
    from ocr_spark.operators.boilerplate import page_metadata

    full = (
        '<html lang="en"><head><title>El</title>'
        '<meta property="og:title" content=" OG t ">'
        '<meta property="og:description" content="D&amp;d">'
        '<meta property="og:site_name" content="Site A">'
        '<meta property="article:published_time" content="2026-03-04T05:06:07Z">'
        "</head><body><time datetime='2025-01-01'>x</time></body></html>"
    )
    plain = (
        "<html lang='EN-us'><head><title>  Pad &amp; title </title>"
        "<meta content='Plain desc' name='description'></head>"
        "<body><time datetime='2026-01-05'>Jan 5</time></body></html>"
    )
    upper = (
        "<TITLE>Up</TITLE><META PROPERTY='og:title' CONTENT=''>"
        '<META NAME="DESCRIPTION" CONTENT="Shout">'
    )
    df = spark.createDataFrame(
        [(1, full), (2, plain), (3, "<p>none</p>"), (4, upper)],
        "doc_id long, html string",
    )
    rows = {r["doc_id"]: r for r in page_metadata(df).collect()}
    assert rows[1]["title"] == "OG t"  # og wins, stripped
    assert rows[1]["description"] == "D&d"
    assert rows[1]["site_name"] == "Site A"
    assert rows[1]["published"] == "2026-03-04T05:06:07Z"  # meta beats <time>
    assert rows[1]["lang"] == "en"
    assert rows[2]["title"] == "Pad & title"
    assert rows[2]["description"] == "Plain desc"
    assert rows[2]["published"] == "2026-01-05"  # <time datetime> fallback
    assert rows[2]["lang"] == "en-us"
    assert rows[3] == {
        "doc_id": 3, "title": "", "description": "", "site_name": "",
        "published": "", "lang": "",
    } or all(rows[3][f] == "" for f in
             ("title", "description", "site_name", "published", "lang"))
    assert rows[4]["title"] == "Up"  # empty og:title falls back
    assert rows[4]["description"] == "Shout"


def test_extraction_ensemble_agreement_and_pick(spark):
    """On a page whose only content is one stopword-rich paragraph inside
    a positive-class container, all three extractors agree exactly →
    pairwise Jaccards 1.0 and pick=boilerpipe (the tie precedence); on a
    pathological all-links page the word sets diverge and the invariants
    (jaccard bounds, consensus ≤ max pairwise union) still hold; the
    chained keep_cols plan returns one row per input doc."""
    from ocr_spark.operators.boilerplate import extraction_ensemble

    body = (
        "the quick brown fox jumps over the lazy dog and then the other "
        "dog is also there with the fox in the field for a while longer "
        "because it is the best of all the fields in the whole of the land"
    )
    agree = (
        f'<div class="article" id="main"><p>{body} {body}</p>'
        f"<p>{body} {body}</p></div>"
    )
    linky = (
        '<div><a href="/a">one</a> <a href="/b">two</a></div>'
        f'<div class="entry"><p>{body}</p></div>'
        '<div class="footer"><a href="/c">menu menu menu</a></div>'
    )
    df = spark.createDataFrame(
        [(1, agree), (2, linky)], "doc_id long, html string"
    )
    rows = {r["doc_id"]: r for r in extraction_ensemble(df).collect()}
    assert set(rows) == {1, 2}
    r1 = rows[1]
    assert r1["j_bp_rb"] == r1["j_bp_jt"] == r1["j_rb_jt"] == 1.0
    assert r1["pick"] == "boilerpipe"  # tie precedence
    assert r1["n_uniq_bp"] == r1["n_uniq_rb"] == r1["n_uniq_jt"]
    assert r1["consensus_words"] == r1["n_uniq_bp"]
    for r in rows.values():
        for k in ("j_bp_rb", "j_bp_jt", "j_rb_jt"):
            assert 0.0 <= r[k] <= 1.0
        assert r["pick"] in ("boilerpipe", "readability", "justext")
        assert r["consensus_words"] <= max(
            r["n_uniq_bp"] + r["n_uniq_rb"],
            r["n_uniq_bp"] + r["n_uniq_jt"],
            r["n_uniq_rb"] + r["n_uniq_jt"],
        )


def test_justext_multilingual_stoplist_dispatch(spark):
    """Per-row stoplist dispatch (justext_stoplist_for as a Column passed
    to stopwords=): a Spanish page inflated with Spanish function words
    extracts its main paragraph under the per-row dispatch, but yields
    NOTHING under the English default (the wrong stoplist reads the text
    as low-stopword-density boilerplate) — and the English page extracts
    identically under both, proving the dispatch is per-row, not global."""
    from ocr_spark.operators.boilerplate import (
        justext_extract,
        justext_stoplist_for,
    )

    base = "palabras interesantes sobre temas importantes aqui " * 8
    es_body = base.replace(" ", " de la ")
    en_body = ("interesting words about important topics here " * 8).replace(
        " ", " the "
    )
    mk = lambda b: f'<div class="nav"><a href="/">Home</a></div><p>{b}</p>'
    df = spark.createDataFrame(
        [(1, "es", mk(es_body)), (2, "en", mk(en_body))],
        "doc_id long, lang string, html string",
    )
    from pyspark.sql import functions as F

    multi = {
        r["doc_id"]: r
        for r in justext_extract(
            df, stopwords=justext_stoplist_for(F.col("lang"))
        ).collect()
    }
    en_only = {
        r["doc_id"]: r for r in justext_extract(df).collect()
    }
    assert multi[1]["n_content_blocks"] == 1  # Spanish page, Spanish list
    assert en_only[1]["n_content_blocks"] == 0  # Spanish page, English list
    assert multi[2]["main_text"] == en_only[2]["main_text"] != ""


def test_lang_mismatch_statuses(spark):
    """The declared-vs-detected composition assigns all four statuses:
    missing <html lang> → undeclared; empty text → undetected; base-subtag
    comparison makes 'es-MX' match a detected 'es'."""
    from ocr_spark.operators.boilerplate import page_metadata
    from ocr_spark.operators.textstats import langid_model

    df = spark.createDataFrame(
        [
            (1, '<html lang="es-MX">x</html>', "hola mundo de la gente"),
            (2, "<p>no declaration</p>", "some text here"),
            (3, '<html lang="en">x</html>', ""),
        ],
        "doc_id long, html string, text string",
    )
    d1 = page_metadata(df, keep_cols=("text",)).select(
        "doc_id", F.col("lang").alias("declared_lang"), "text"
    )
    d2 = langid_model(d1, keep_cols=("declared_lang",))
    rows = {r["doc_id"]: r for r in d2.collect()}
    assert rows[1]["declared_lang"] == "es-mx"
    assert rows[2]["declared_lang"] == ""
    assert rows[3]["lang"] == "und"  # empty text yields no trigram
    # base-subtag match semantics (regex, not equality on the full tag)
    import re
    base = re.match(r"^([a-z]+)", rows[1]["declared_lang"]).group(1)
    assert base == "es"


def test_html_to_spans_interleaving_and_keep_policy(spark):
    """Content paragraphs become text spans; a standalone figure between
    kept paragraphs becomes a media span at its document position; an
    image INSIDE a kept paragraph is kept (own unit); the nav icon and
    footer badge drop with their boilerplate units; offsets stride by 16
    in span order; a content-free page yields an empty span array."""
    from ocr_spark.operators.boilerplate import html_to_spans

    p1 = (
        "This paragraph carries a comfortably large number of genuinely "
        "meaningful words so that the shallow classifier counts well past "
        "its decision thresholds every time."
    )
    p2 = (
        'Another long paragraph with an inline <img src="inline.jpg"> '
        "figure and plenty of additional words so it also classifies as "
        "main content without any doubt at all."
    )
    page = (
        '<div class="nav"><img src="/icon.png"><a href="/">Home</a> '
        '<a href="/x">About</a> <a href="/y">More</a></div>'
        f'<p>{p1}</p><img src="fig.png"><p>{p2}</p>'
        '<div class="footer"><img src="foot.gif"><a>(c) legal legal</a></div>'
    )
    df = spark.createDataFrame(
        [(1, page), (2, "<div><a>only menu links here</a></div>")],
        "doc_id long, html string",
    )
    rows = {r["doc_id"]: r["spans"] for r in html_to_spans(df).collect()}
    s1 = rows[1]
    kinds = [s["kind"] for s in s1]
    refs = [s["media_ref"] for s in s1 if s["kind"] == "media"]
    assert kinds == ["text", "media", "media", "text"]
    assert refs == ["fig.png", "inline.jpg"]  # standalone + in-paragraph
    assert "/icon.png" not in refs and "foot.gif" not in refs
    assert [s["offset"] for s in s1] == [0, 16, 32, 48]
    assert s1[0]["text"].startswith("This paragraph carries")
    assert rows[2] == []


def test_html_to_spans_feeds_flagship_assembler(spark):
    """The crawl bridge emits the exact corpus shape the flagship span
    assembler consumes: exploding html_to_spans output and running
    assemble_spans yields ordered (kind, text, media_ref, order)
    sequences with order = rank of offset."""
    from ocr_spark.operators.boilerplate import html_to_spans
    from ocr_spark.operators.spans import assemble_spans

    body = (
        "A long and steady paragraph of real article prose with enough "
        "words to pass the classifier thresholds comfortably every time."
    )
    page = f'<p>{body}</p><img src="a.png"><p>{body}</p>'
    df = spark.createDataFrame([(7, page)], "doc_id long, html string")
    exploded = (
        html_to_spans(df)
        .select("doc_id", F.explode("spans").alias("s"))
        .select(
            "doc_id", "s.kind", "s.text", "s.media_ref", "s.offset",
            F.lit(False).alias("is_boilerplate"),
        )
    )
    out = assemble_spans(exploded).collect()
    assert len(out) == 1
    seq = out[0]["spans"]
    assert [s["kind"] for s in seq] == ["text", "media", "text"]
    assert [s["order"] for s in seq] == [0, 1, 2]
    assert seq[1]["media_ref"] == "a.png"


def test_html_tables_structure(spark):
    """Header rows flag via <th>; inline markup strips; entities decode;
    cells trim; cell-less rows drop; nested markup inside cells survives
    as text; two tables index independently; mixed tag case parses."""
    from ocr_spark.operators.boilerplate import html_tables

    page = (
        '<table><tr><th>Name</th><TH>Value</TH></tr>'
        "<tr><td><b>A&amp;B</b></td><td>42</td></tr>"
        "<tr><td> padded </td></tr><tr></tr></table>"
        "<p>between</p><table><TR><TD>solo</TD></TR></table>"
    )
    df = spark.createDataFrame([(1, page)], "doc_id long, html string")
    rows = html_tables(df).collect()
    key = {(r["table_idx"], r["row_idx"]): r for r in rows}
    assert len(rows) == 4  # the empty <tr></tr> dropped
    assert key[(0, 0)]["is_header"] and key[(0, 0)]["cells"] == ["Name", "Value"]
    assert not key[(0, 1)]["is_header"]
    assert key[(0, 1)]["cells"] == ["A&B", "42"]
    assert key[(0, 2)]["cells"] == ["padded"] and key[(0, 2)]["n_cells"] == 1
    assert key[(1, 0)]["cells"] == ["solo"]


def test_html_headings_outline(spark):
    """Levels come from the opening tag (mismatched close tolerated);
    uppercase tags parse; empty headings drop but indices keep document
    positions."""
    from ocr_spark.operators.boilerplate import html_headings

    page = (
        "<h1>Title</h1><H2>Sec &amp; more</H2><h3>  </h3>"
        "<h2>Mismatch</h3><p>x</p>"
    )
    df = spark.createDataFrame([(1, page)], "doc_id long, html string")
    rows = {r["heading_idx"]: r for r in html_headings(df).collect()}
    assert set(rows) == {0, 1, 3}  # idx 2 (empty h3) dropped, gap kept
    assert (rows[0]["level"], rows[0]["text"]) == (1, "Title")
    assert (rows[1]["level"], rows[1]["text"]) == (2, "Sec & more")
    assert (rows[3]["level"], rows[3]["text"]) == (2, "Mismatch")


def test_page_lead_image_precedence(spark):
    """og:image wins over a page <img>; an EMPTY og:image falls through
    to <link rel=image_src>; the first-<img> fallback fires only when
    both hints are absent; stylesheet links never match; image-free
    pages emit ('', ''); entities decode in the chosen ref."""
    from ocr_spark.operators.boilerplate import page_lead_image

    pages = [
        (1, '<meta property="og:image" content="/a&amp;b.jpg">'
            '<link rel="stylesheet" href="/s.css"><img src="/decoy.png">'),
        (2, "<meta property='og:image' content=''>"
            "<link href='/hint.webp' rel='image_src'><img src='/later.gif'>"),
        (3, '<BODY><IMG ALT="x" SRC="/hero.jpeg"><img src="/2.png"></BODY>'),
        (4, "<p>no images</p>"),
        (5, None),
    ]
    df = spark.createDataFrame(pages, "doc_id long, html string")
    rows = {r["doc_id"]: r for r in page_lead_image(df).collect()}
    assert (rows[1]["lead_image"], rows[1]["lead_source"]) == ("/a&b.jpg", "og")
    assert (rows[2]["lead_image"], rows[2]["lead_source"]) == ("/hint.webp", "link")
    assert (rows[3]["lead_image"], rows[3]["lead_source"]) == ("/hero.jpeg", "img")
    assert (rows[4]["lead_image"], rows[4]["lead_source"]) == ("", "")
    assert (rows[5]["lead_image"], rows[5]["lead_source"]) == ("", "")


def test_html_lists_items(spark):
    """Ordered flag from the opening tag (mismatched </ol> close on a
    <ul> tolerated); uppercase <LI>; inline markup strips; entities
    decode; empty items drop but item_idx keeps document positions;
    lists index independently."""
    from ocr_spark.operators.boilerplate import html_lists

    page = (
        "<ul><li>Home &amp; start</li><LI><b>Bold</b> one</LI>"
        "<li>  </li></ul><p>x</p>"
        '<ol start="3"><li>first</li><li>second</li></ol>'
        "<UL><li>mix</li></ol>"
    )
    df = spark.createDataFrame([(1, page)], "doc_id long, html string")
    rows = {(r["list_idx"], r["item_idx"]): r for r in html_lists(df).collect()}
    assert set(rows) == {(0, 0), (0, 1), (1, 0), (1, 1), (2, 0)}
    assert rows[(0, 0)]["text"] == "Home & start" and not rows[(0, 0)]["ordered"]
    assert rows[(0, 1)]["text"] == "Bold one"
    assert rows[(1, 0)]["ordered"] and rows[(1, 1)]["text"] == "second"
    assert rows[(2, 0)]["text"] == "mix" and not rows[(2, 0)]["ordered"]


def test_html_code_blocks(spark):
    """Language hint reads class="language-x"/"lang-x" off <pre> or the
    inner <code> ('' when absent, and a non-boundary prefix like
    "mylanguage-" never matches); interior whitespace is preserved
    exactly while the outer edges trim; entities decode after tag strip;
    whitespace-only blocks drop with block_idx gaps; uppercase <PRE>
    parses."""
    from ocr_spark.operators.boilerplate import html_code_blocks

    page = (
        '<pre><code class="language-python">def f():\n'
        "    return a &amp; b</code></pre>"
        "<pre><code>   </code></pre>"
        "<PRE>plain  text\nline2\nline3</PRE>"
        "<pre class='lang-c++'>x++;</pre>"
        '<pre><code class="mylanguage-q">y</code></pre>'
    )
    df = spark.createDataFrame([(1, page)], "doc_id long, html string")
    rows = {r["block_idx"]: r for r in html_code_blocks(df).collect()}
    assert set(rows) == {0, 2, 3, 4}  # idx 1 (whitespace-only) dropped
    assert rows[0]["lang_hint"] == "python"
    assert rows[0]["code"] == "def f():\n    return a & b"
    assert rows[0]["n_lines"] == 2
    assert rows[2]["lang_hint"] == "" and rows[2]["n_lines"] == 3
    assert rows[2]["code"] == "plain  text\nline2\nline3"  # double space kept
    assert rows[3]["lang_hint"] == "c++"
    assert rows[4]["lang_hint"] == ""  # \b blocks the mylanguage- prefix


def test_html_structure_empty_inputs(spark):
    """Null/empty/structure-free pages yield no list or code rows."""
    from ocr_spark.operators.boilerplate import html_code_blocks, html_lists

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "<p>just prose</p>")],
        "doc_id long, html string",
    )
    assert html_lists(df).count() == 0
    assert html_code_blocks(df).count() == 0


def test_html_sections_chunking(spark):
    """Preamble is section 0 (no heading); each heading opens a section
    holding blocks up to the next heading; a whitespace-only heading
    drops as a unit (its would-be section merges away); a trailing
    body-less heading is kept; levels come from the heading tag."""
    from ocr_spark.operators.boilerplate import html_sections

    page = (
        "<p>preamble</p><h1>Title</h1><p>intro one</p><p>intro two</p>"
        "<H2>Sub &amp; sec</H2><p>sub body</p><h3>  </h3><h2>Tail</h2>"
    )
    df = spark.createDataFrame(
        [(1, page), (2, "<p>only prose</p>"), (3, "")],
        "doc_id long, html string",
    )
    rows = [r for r in html_sections(df).collect()]
    by = {(r["doc_id"], r["section_idx"]): r for r in rows}
    assert by[(1, 0)]["heading"] == "" and by[(1, 0)]["text"] == "preamble"
    assert by[(1, 1)]["heading"] == "Title" and by[(1, 1)]["level"] == 1
    assert by[(1, 1)]["text"] == "intro one\nintro two"
    assert by[(1, 2)]["heading"] == "Sub & sec" and by[(1, 2)]["level"] == 2
    assert by[(1, 2)]["text"] == "sub body"
    assert by[(1, 3)]["heading"] == "Tail" and by[(1, 3)]["n_blocks"] == 0
    assert by[(2, 0)]["text"] == "only prose"  # heading-free page
    assert (3, 0) not in by  # empty page yields nothing
    assert len([r for r in rows if r["doc_id"] == 3]) == 0


def test_jsonld_blocks_extraction(spark):
    """Only application/ld+json scripts extract (plain scripts are
    decoys); blank payloads drop; flat string fields lift; datePublished
    normalizes through web_date_iso; raw JSON is kept verbatim."""
    from ocr_spark.operators.boilerplate import jsonld_blocks

    page = (
        "<script>var decoy = 1;</script>"
        '<script type="application/ld+json">{"@type": "Article", '
        '"headline": "Big story", "datePublished": "2 Jan 2026"}</script>'
        "<SCRIPT TYPE='application/ld+json'>{\"@type\": \"Person\"}</SCRIPT>"
        '<script type="application/ld+json">  </script>'
    )
    df = spark.createDataFrame([(1, page)], "doc_id long, html string")
    rows = {r["block_idx"]: r for r in jsonld_blocks(df).collect()}
    assert set(rows) == {0, 1}  # blank block dropped
    a = rows[0]
    assert a["ld_type"] == "Article" and a["headline"] == "Big story"
    assert a["date_published"] == "2 Jan 2026"
    assert a["pub_date"] == "2026-01-02"
    assert '"@type": "Article"' in a["raw_json"]
    assert rows[1]["ld_type"] == "Person" and rows[1]["pub_date"] == ""


# --- markdown emit ------------------------------------------------------------


def test_html_to_markdown_elements(spark):
    from ocr_spark.operators.boilerplate import html_to_markdown

    html = (
        "<h1>Title <b>bold</b></h1>"
        "<p>Para one &amp; stuff.</p>"
        '<p>See <a href="https://x.example/p">the page</a> and <code>y=2</code>.'
        "<br>Second line with <em>soft</em> text.</p>"
        "<ul><li>alpha</li><li>beta</li></ul>"
        "<script>var hidden = 1;</script><!-- gone -->"
    )
    df = spark.createDataFrame([(1, html)], "doc_id long, html string")
    md = df.select(html_to_markdown(F.col("html")).alias("m")).collect()[0].m
    assert md.startswith("# Title **bold**")
    assert "Para one & stuff." in md
    assert "[the page](https://x.example/p)" in md
    assert "`y=2`" in md
    assert "*soft*" in md
    assert "- alpha\n- beta" in md
    assert "hidden" not in md and "gone" not in md
    assert "\n\n\n" not in md and not md.endswith("\n")


def test_html_to_markdown_empty_and_null(spark):
    from ocr_spark.operators.boilerplate import html_to_markdown

    df = spark.createDataFrame([(1, None), (2, ""), (3, "plain text")],
                               "doc_id long, html string")
    out = {r.doc_id: r.m for r in df.select(
        "doc_id", html_to_markdown(F.col("html")).alias("m")).collect()}
    assert out[1] == "" and out[2] == "" and out[3] == "plain text"


def test_host_extract_stats_rollup(spark):
    """Host sums are exact over per-page extraction outputs: a host whose
    pages carry heavier ad boilerplate scores a lower content_permille; a
    host whose every page extracts to nothing reports empty_pages == pages
    and permille 0; permille is the integer div over HOST sums (not a mean
    of per-page ratios)."""
    from ocr_spark.operators.boilerplate import (
        extract_html_documents,
        host_extract_stats,
    )

    body = ("many plain words of real article content flow here and keep "
            "flowing with enough length to classify as content " * 3)
    ad = '<div class="ad"><a href="/buy">Buy now great deals today</a></div>'
    pages = [
        (1, "a.org", f"<div><p>{body}</p></div>{ad}"),
        (2, "a.org", f"<div><p>{body}</p></div>{ad}{ad}{ad}"),
        (3, "b.org", f"<div><p>{body}</p></div>{ad * 6}"),
        (4, "c.org", f"{ad}"),          # template-only page: empty extraction
        (5, "c.org", f"{ad}{ad}"),
    ]
    df = spark.createDataFrame(pages, "doc_id long, host string, html string")
    got = {r["host"]: r for r in host_extract_stats(df).collect()}
    per_page = {
        r["doc_id"]: r
        for r in extract_html_documents(df, keep_cols=("host",)).collect()
    }

    for host, ids in (("a.org", [1, 2]), ("b.org", [3]), ("c.org", [4, 5])):
        main = sum(len(per_page[i]["main_text"]) for i in ids)
        boiler = sum(per_page[i]["boiler_chars"] for i in ids)
        r = got[host]
        assert r["pages"] == len(ids)
        assert r["main_chars"] == main and r["boiler_chars"] == boiler
        want = (main * 1000) // (main + boiler) if main + boiler else 0
        assert r["content_permille"] == want

    assert got["a.org"]["empty_pages"] == 0
    assert got["b.org"]["content_permille"] < got["a.org"]["content_permille"]
    assert got["c.org"]["empty_pages"] == 2
    assert got["c.org"]["main_chars"] == 0
    assert got["c.org"]["content_permille"] == 0


# --- CETR (line tag-ratios, Weninger 2010) -----------------------------------


def _cetr(spark, html):
    df = spark.createDataFrame([(1, html)], "doc_id long, html string")
    return BP.cetr_extract(df).first()


def test_cetr_keeps_dense_lines_drops_chrome(spark):
    html = "\n".join(
        [
            '<div class="nav"><a href="/">Home</a> <a href="/x">Links</a></div>',
            "<p>the quick brown fox jumps over the lazy dog again and again today</p>",
            "<p>another long content line with many interesting words about the topic</p>",
            '<img src="x.png">',
            "<p>a third substantial paragraph of real readable content for the page</p>",
            '<div class="footer"><a>(c) 2026 Synth Corp</a></div>',
        ]
    )
    r = _cetr(spark, html)
    assert r.main_text.split("\n") == [
        "the quick brown fox jumps over the lazy dog again and again today",
        "another long content line with many interesting words about the topic",
        "a third substantial paragraph of real readable content for the page",
    ]
    # n_lines counts ALL source lines (incl. the tag-only <img> line)
    assert r.n_lines == 6 and r.n_content_lines == 3 and r.content_permille == 500


def test_cetr_media_lines_are_density_transparent(spark):
    # the <img> between two content lines must not drag them below the mean
    # (tag-only lines are excluded from the density sequence)
    content = "<p>plenty of ordinary readable words fill this entire line</p>"
    html = "\n".join(
        ['<div><a href="/">Home</a> <a href="/b">B</a> <a href="/c">C</a></div>']
        + [content, '<img src="a.png">', content, '<img src="b.png">', content]
    )
    r = _cetr(spark, html)
    assert r.n_content_lines == 3
    assert "Home" not in r.main_text


def test_cetr_empty_and_tag_only_pages(spark):
    assert _cetr(spark, "").main_text == ""
    assert _cetr(spark, None).main_text == ""
    r = _cetr(spark, "<p></p>\n<img src='x'>")
    assert r.main_text == "" and r.n_lines == 2 and r.n_content_lines == 0


def test_cetr_single_line_page(spark):
    # one text line: smoothed == mean, strict > keeps nothing — a page with
    # no density CONTRAST has no separable main content under CETR
    r = _cetr(spark, "<p>only one line of words here</p>")
    assert r.n_lines == 1 and r.main_text == ""


@pytest.mark.parametrize(
    "extract", [BP.html_to_spans, BP.extract_html_documents], ids=lambda f: f.__name__
)
def test_page_is_split_on_block_tags_once(spark, extract):
    """One tokenization per page: the optimized plan holds one split on
    the block tags and one extraction of them. Spark does no common-
    subexpression elimination inside higher-order functions, so a block
    array built inline at each of its reads re-splits the page per read."""
    df = spark.createDataFrame([(1, "<p>x</p>")], "doc_id long, html string")
    plan = extract(df)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count(f"{BP.BLOCK_TAG_RE}, -1)") == 1
    assert plan.count(f"{BP.BLOCK_TAG_RE}, 0)") == 1
