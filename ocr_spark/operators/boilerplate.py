"""HTML main-content extraction via DOM text-density heuristics — the
Boilerpipe/Readability family (north_star: link-density, tag-depth,
block-fusion), as pure Column expressions with an exact DuckDB twin.

Pipeline (Kohlschütter, Fankhauser, Nejdl — "Boilerplate Detection using
Shallow Text Features", WSDM 2010):

1. **Block segmentation** — split the HTML on block-level tag boundaries
   (p/div/br/h1-6/li/ul/ol/table/tr/td/article/section/header/footer/nav).
   Inline markup (<a>, <b>, <span>) stays inside its block.
2. **Per-block shallow features** — tag-stripped text, word count, anchor-
   text link density, and tag depth (running open-minus-close count of the
   container tags before the block — the "structural depth" feature).
3. **Classification** — the published NumWordsRulesClassifier decision
   tree over (prev, curr, next) word counts and (prev, curr) link
   densities. No model file, no training: the tree IS the classifier.
4. **Block fusion** — adjacent content blocks merge into the main text
   (newline-joined, in document order).

Every block extractor here (Boilerpipe, Readability, jusText, the span
bridge and the sectioner) reads one tokenizer, :func:`_tokens`: the page,
without its script, style and comment bodies, is split on the block tags
once, and each part carries its opening tag and its stripped text. The
features on top of it exist once each: anchor characters and link density
(:func:`_anchor_chars`, :func:`_link_density`) and the depth delta of a tag
(:func:`_depth_delta`); the prefix folds are
:func:`~ocr_spark.functions.text.scan` and its ``nearest`` form.

Spark runs higher-order functions (``transform``, ``filter``,
``zip_with``, ``aggregate``) interpreted, with no common-subexpression
elimination inside their arguments, and the optimizer inlines a column
read once into the lambda that reads it, where it re-runs per element.
So every block array read more than once is bound once with
:func:`~ocr_spark.functions.text.let`, and each extractor is one
expression over one tokenization, not a chain of ``withColumn`` steps.
No UDF, no parser library, and the DuckDB oracle replays every step
bit-for-bit (`__spark_entry__.oracle_sql()['html_extract']`).

The reference repo has no HTML path (it is an OCR/PDF service); this
module implements the north_star's HTML-boilerplate requirement from the
public Boilerpipe algorithm, not from reference code.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocr_spark.functions.text import let, nearest, py_strip, scan
from ocr_spark.operators.spans import word_count

# block-level boundary tags; (?i) works identically in Java regex and RE2
BLOCK_TAG_RE = (
    r"(?i)</?(?:p|div|br|h[1-6]|li|ul|ol|table|tr|td|article|section|"
    r"header|footer|nav)\b[^>]*>"
)
# container tags that contribute to tag depth (+1 open / -1 close);
# p/br/h*/li/tr/td are leaf-ish separators and stay depth-neutral
_DEPTH_OPEN_RE = r"(?i)^<(?:div|ul|ol|table|article|section|header|footer|nav)\b"
_DEPTH_CLOSE_RE = r"(?i)^</(?:div|ul|ol|table|article|section|header|footer|nav)\b"
_ANCHOR_RE = r"(?is)<a\b[^>]*>(.*?)</a>"
_TAG_RE = r"(?s)<[^>]*>"
# script/style/comment strip happens BEFORE block split (readability.js
# removeScripts/prepDocument); no backreferences — the oracle's RE2 has none
SCRIPT_RE = r"(?is)<script\b[^>]*>.*?</script>"
STYLE_RE = r"(?is)<style\b[^>]*>.*?</style>"
HTML_COMMENT_RE = r"(?s)<!--.*?-->"

# NumWordsRulesClassifier thresholds (Kohlschütter et al., WSDM 2010;
# boilerpipe NumWordsRulesClassifier.java — public algorithm constants)
_CURR_LD_MAX = 0.333333
_PREV_LD_MAX = 0.555556


def _tokens(html: Column, body) -> Column:
    """``body(ts)``, ``ts`` bound to the page's parts: ``html`` (null →
    ''), without its script, style and comment bodies, split on
    BLOCK_TAG_RE once, each part a (part, tag, text) struct — the raw
    part, the boundary tag that opens it ('' for the first) and its
    tag-stripped, `str.strip()`ed text."""

    def token(part: Column, tag: Column) -> Column:
        text = py_strip(F.regexp_replace(part, _TAG_RE, ""))
        return F.struct(part.alias("part"), tag.alias("tag"), text.alias("text"))

    clean = F.coalesce(html, F.lit(""))
    for pat in (SCRIPT_RE, STYLE_RE, HTML_COMMENT_RE):
        clean = F.regexp_replace(clean, pat, "")
    return let(
        clean,
        lambda h: let(
            F.zip_with(
                F.split(h, BLOCK_TAG_RE),
                F.concat(F.array(F.lit("")), F.regexp_extract_all(h, F.lit(BLOCK_TAG_RE), 0)),
                token,
            ),
            body,
        ),
    )


def _anchor_chars(part: Column) -> Column:
    """Characters of a part's anchor text (tags stripped)."""
    anchors = F.transform(
        F.regexp_extract_all(part, F.lit(_ANCHOR_RE), 1),
        lambda a: F.regexp_replace(a, _TAG_RE, ""),
    )
    return F.length(F.array_join(anchors, ""))


def _link_density(anchor: Column, text: Column) -> Column:
    """Anchor share of the text's characters, capped at 1 (0 for no text)."""
    return F.when(
        F.length(text) > 0,
        F.least(anchor.cast("double") / F.length(text), F.lit(1.0)),
    ).otherwise(F.lit(0.0))


def _depth_delta(tag: Column) -> Column:
    """+1 for a container open tag, -1 for its close, 0 for anything else."""
    return (
        F.when(tag.rlike(_DEPTH_OPEN_RE), F.lit(1))
        .when(tag.rlike(_DEPTH_CLOSE_RE), F.lit(-1))
        .otherwise(F.lit(0))
    )


def _running_sum(xs: Column) -> Column:
    return scan(xs, F.lit(0), lambda a, x: a + x)


def _block_features(ts: Column) -> Column:
    """(text, n_words, link_density, depth) of every non-empty part."""
    depths = _running_sum(F.transform(ts, lambda t: _depth_delta(t["tag"])))
    blocks = F.zip_with(
        ts,
        depths,
        lambda t, d: F.struct(
            t["text"].alias("text"),
            word_count(t["text"]).alias("n_words"),
            _link_density(_anchor_chars(t["part"]), t["text"]).alias("link_density"),
            d.alias("depth"),
        ),
    )
    return F.filter(blocks, lambda b: b["text"] != "")


def html_blocks(html: Column) -> Column:
    """Array of per-block feature structs:
    (text, n_words, link_density, depth) — empty blocks dropped, document
    order preserved."""
    return _tokens(html, _block_features)


def _is_content(bs: Column, i: Column) -> Column:
    """NumWordsRulesClassifier verdict on block ``i`` (0-based) of the
    bound block array ``bs`` (true = main content), over (prev, curr,
    next).

    Tree (WSDM 2010):
      curr.ld <= 1/3:
        prev.ld <= 0.5556:
          curr.words <= 16: next.words <= 15: (prev.words <= 4 → BOILER,
                                               else CONTENT)
                            else CONTENT
          else CONTENT
        else: curr.words <= 40: (next.words <= 17 → BOILER, else CONTENT)
              else CONTENT
      else BOILER

    Out-of-range neighbours count as empty blocks (0 words, 0 density).
    ``bs`` is bound, so each neighbour read is an O(1) element access,
    not a re-run of the expression that builds the array."""
    prev, nxt = F.get(bs, i - 1), F.get(bs, i + 1)
    curr_w, curr_ld = F.get(bs, i)["n_words"], F.get(bs, i)["link_density"]
    prev_w = F.coalesce(prev["n_words"], F.lit(0))
    prev_ld = F.coalesce(prev["link_density"], F.lit(0.0))
    next_w = F.coalesce(nxt["n_words"], F.lit(0))
    return F.when(
        curr_ld <= _CURR_LD_MAX,
        F.when(
            prev_ld <= _PREV_LD_MAX,
            F.when(
                curr_w <= 16,
                F.when(next_w <= 15, prev_w > 4).otherwise(F.lit(True)),
            ).otherwise(F.lit(True)),
        ).otherwise(F.when(curr_w <= 40, next_w > 17).otherwise(F.lit(True))),
    ).otherwise(F.lit(False))


def _flags(bs: Column) -> Column:
    return F.transform(bs, lambda _, i: _is_content(bs, i))


def _fuse(bs: Column, keep: Column, **extra: Column) -> Column:
    """Block fusion of the bound blocks ``bs`` by the aligned ``keep``
    flags → struct(main_text: the kept texts newline-joined, n_blocks,
    n_content_blocks, boiler_chars: the characters of the others,
    *extra)."""

    def fused(z: Column) -> Column:
        boiler = F.filter(z, lambda x: ~x["keep"])
        return let(
            F.filter(z, lambda x: x["keep"]),
            lambda content: F.struct(
                F.array_join(F.transform(content, lambda x: x["text"]), "\n").alias("main_text"),
                F.size(z).alias("n_blocks"),
                F.size(content).alias("n_content_blocks"),
                F.coalesce(
                    F.aggregate(boiler, F.lit(0), lambda acc, x: acc + F.length(x["text"])),
                    F.lit(0),
                ).alias("boiler_chars"),
                *[v.alias(k) for k, v in extra.items()],
            ),
        )

    return let(
        F.zip_with(bs, keep, lambda b, k: F.struct(b["text"].alias("text"), k.alias("keep"))),
        fused,
    )


def _main_content(html: Column) -> Column:
    """Boilerpipe over one page → the :func:`_fuse` struct + max_depth."""

    def fused(bs: Column) -> Column:
        max_depth = F.coalesce(F.array_max(F.transform(bs, lambda b: b["depth"])), F.lit(0))
        return _fuse(bs, _flags(bs), max_depth=max_depth)

    return let(html_blocks(html), fused)


_MAIN_FIELDS = {
    "main_text": "string",
    "n_blocks": "int",
    "n_content_blocks": "int",
    "max_depth": "int",
    "boiler_chars": "long",
}


def extract_main_content(html: Column) -> dict[str, Column]:
    """Full pipeline → dict of output columns:
    main_text (fused content blocks), n_blocks, n_content_blocks,
    max_depth, boiler_chars (chars classified away). Each is a field of
    one struct expression, so a select of several evaluates it once per
    field: :func:`extract_html_documents` selects the struct once."""
    m = _main_content(html)
    return {k: m[k] for k in _MAIN_FIELDS}


def _select_fields(
    docs: DataFrame, id_col: str, m: Column, types: dict[str, str], keep_cols: tuple
) -> DataFrame:
    """(id_col, the fields of struct ``m`` cast to ``types``, *keep_cols).
    ``m`` is selected once, in a projection of its own that the optimizer
    keeps apart because the next one reads it more than once."""
    keep = [F.col(c) for c in keep_cols]
    fields = [F.col("_m")[k].cast(t).alias(k) for k, t in types.items()]
    return docs.select(F.col(id_col), m.alias("_m"), *keep).select(F.col(id_col), *fields, *keep)


def extract_html_documents(
    docs: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
    keep_cols: tuple = (),
) -> DataFrame:
    """DataFrame surface: (doc_id, main_text, n_blocks, n_content_blocks,
    max_depth, boiler_chars). ``keep_cols`` pass through untouched — how
    :func:`extraction_ensemble` chains all three extractors in ONE narrow
    pass instead of three scans + doc_id joins."""
    return _select_fields(docs, id_col, _main_content(F.col(html_col)), _MAIN_FIELDS, keep_cols)


# ---------------------------------------------------------------------------
# Readability (Arc90) candidate scoring — the other member of the
# north-star's "Boilerpipe/Readability" family.  Where NumWordsRules
# classifies each block locally, Readability scores CONTAINERS: every
# paragraph adds (1 + commas + min(chars/100, 3)) to its parent container
# and half of that to its grandparent, containers gain ±25 for
# content-ish / boilerplate-ish class/id attributes, each candidate's
# total is scaled by (1 - link_density of its subtree), and the winning
# container (plus siblings scoring ≥ max(10, 20% of the winner)) becomes
# the article.  Public algorithm (Arc90 readability.js); the reference
# repo has no HTML path.
#
# Spark plan shape: one per-row expression over the tokenized page — the
# only non-local structure, the open-container stack, is ONE linear
# prefix fold per document (push on open, pop on close) producing the
# stack-before-each-block; candidate scoring folds read the let-bound
# block array and tokens, never an expression subtree, so nothing
# re-evaluates per candidate.  The DuckDB oracle derives the same stacks
# in closed form (an open tag j is still open before block i iff the
# running depth never dips below its level: min(D[j..i-1]) >= D[j]) — an
# independent formulation that must agree bit-for-bit, including on
# malformed HTML with unmatched close tags.

READABILITY_POSITIVE_RE = (
    r"(?i)article|body|content|entry|hentry|main|page|pagination|post|text|blog|story"
)
READABILITY_NEGATIVE_RE = (
    r"(?i)combx|comment|com-|contact|foot|footer|footnote|masthead|media|meta|"
    r"outbrain|promo|related|scroll|shoutbox|sidebar|sponsor|shopping|tags|tool|widget"
)
_CLASS_ATTR_RE = r'(?i)\bclass\s*=\s*"([^"]*)"'
_ID_ATTR_RE = r'(?i)\bid\s*=\s*"([^"]*)"'
MIN_PARA_CHARS = 25  # readability.js: paragraphs under 25 chars don't score


def _no_ints() -> Column:
    return F.array().cast("array<int>")


def _readability_block(t: Column, stack: Column) -> Column:
    """Per-block struct: text, chars, anchor chars, paragraph score, and
    the enclosing-container stack (innermost last, as open-tag indices)."""
    text = t["text"]
    chars = F.length(text)
    commas = F.size(F.split(text, ",")) - 1
    pscore = F.when(chars < MIN_PARA_CHARS, F.lit(0)).otherwise(
        F.lit(1) + commas + F.least(F.floor(chars / F.lit(100.0)).cast("int"), F.lit(3))
    )
    return F.struct(
        text.alias("text"),
        chars.alias("chars"),
        _anchor_chars(t["part"]).alias("anchor"),
        pscore.alias("pscore"),
        F.when(F.size(stack) > 0, F.element_at(stack, -1)).alias("owner"),
        F.when(F.size(stack) > 1, F.element_at(stack, -2)).alias("parent"),
        stack.alias("stack"),
    )


def _class_weight(tag: Column) -> Column:
    """±25 per content-ish / boilerplate-ish class and id attribute of the
    container's open tag (readability.js getClassWeight)."""
    cls = F.regexp_extract(tag, _CLASS_ATTR_RE, 1)
    idv = F.regexp_extract(tag, _ID_ATTR_RE, 1)
    w = F.lit(0)
    for attr in (cls, idv):
        w = (
            w
            + F.when(attr.rlike(READABILITY_POSITIVE_RE), 25).otherwise(0)
            - F.when(attr.rlike(READABILITY_NEGATIVE_RE), 25).otherwise(0)
        )
    return w


def _rb_blocks(ts: Column) -> Column:
    """Non-empty blocks with their container stacks. Part i is opened by
    tag i (1-based; part 0 by none), so the stack fold runs over the
    parts: stacks[i] = the containers still open before part i."""

    def push_pop(st: Column, s: Column) -> Column:
        return (
            F.when(s["d"] == 1, F.concat(st, F.array(s["j"])))
            .when((s["d"] == -1) & (F.size(st) > 0), F.slice(st, 1, F.size(st) - 1))
            .otherwise(st)
        )

    steps = F.transform(ts, lambda t, i: F.struct(_depth_delta(t["tag"]).alias("d"), i.alias("j")))
    stacks = scan(steps, _no_ints(), push_pop)
    return F.filter(F.zip_with(ts, stacks, _readability_block), lambda b: b["text"] != "")


def _rb_candidate(ts: Column, bs: Column, c: Column) -> Column:
    """(c, score, parent) of container ``c`` (its open tag's index)."""

    def total(matches, value) -> Column:
        return F.aggregate(
            bs,
            F.lit(0).cast("long"),
            lambda a, b: a + F.when(matches(b), b[value]).otherwise(0),
        )

    def inside(b: Column) -> Column:
        return F.array_contains(b["stack"], c)

    own = total(lambda b: b["owner"] == c, "pscore")
    half = total(lambda b: b["parent"] == c, "pscore")
    sub_chars, sub_anchor = total(inside, "chars"), total(inside, "anchor")
    ld = F.when(
        sub_chars > 0,
        F.least(sub_anchor.cast("double") / sub_chars.cast("double"), F.lit(1.0)),
    ).otherwise(F.lit(0.0))
    cw = _class_weight(F.get(ts, c)["tag"])
    score = (
        cw.cast("double") + own.cast("double") + half.cast("double") * F.lit(0.5)
    ) * (F.lit(1.0) - ld)

    # the container enclosing c = the element just below c in any stack
    # that contains c (fixed at push time, so any such block works);
    # candidates that own no blocks directly (grandparents) still have
    # at least one block whose stack passes through them
    def parent_in(fb: Column) -> Column:
        pos = F.array_position(fb, c)
        return F.when(pos > 1, F.element_at(fb, (pos - 1).cast("int")))

    parent = let(F.get(F.filter(bs, inside), 0)["stack"], parent_in)
    return F.struct(c.alias("c"), score.alias("score"), parent.alias("parent"))


def _rb_article(bs: Column, cands: Column) -> Column:
    """The winner (top score, lowest index), the siblings sharing its
    parent that score ≥ max(10, 20% of it), and the text of the blocks
    inside the selection (every block when nothing scored)."""

    def selection(top: Column, w: Column) -> Column:
        sibs = F.transform(
            F.filter(
                cands,
                lambda d: (d["c"] != w["c"])
                & d["parent"].eqNullSafe(w["parent"])
                & (d["score"] >= F.greatest(F.lit(10.0), top * F.lit(0.2))),
            ),
            lambda d: d["c"],
        )
        sel = F.when(w["c"].isNotNull(), F.concat(F.array(w["c"]), sibs)).otherwise(_no_ints())
        return let(
            sel,
            lambda sel: F.struct(
                F.array_join(
                    F.transform(
                        F.when(
                            F.size(sel) > 0,
                            F.filter(bs, lambda b: F.arrays_overlap(b["stack"], sel)),
                        ).otherwise(bs),  # readability's body fallback
                        lambda b: b["text"],
                    ),
                    "\n",
                ).alias("main_text"),
                F.coalesce(w["c"], F.lit(-1)).alias("top_candidate"),
                F.coalesce(top, F.lit(0.0)).alias("top_score"),
                F.size(cands).alias("n_candidates"),
                F.size(sel).alias("n_selected"),
            ),
        )

    return let(
        F.array_max(F.transform(cands, lambda x: x["score"])),
        lambda top: let(
            F.array_min(F.filter(cands, lambda x: x["score"] == top)),
            lambda w: selection(top, w),
        ),
    )


def _readability(ts: Column) -> Column:
    def scored(bs: Column) -> Column:
        # candidates: each scoring paragraph registers its parent (owner)
        # AND grandparent container (readability.js scores both)
        cand_ids = F.array_distinct(
            F.filter(
                F.flatten(
                    F.transform(
                        bs,
                        lambda b: F.when(
                            b["pscore"] > 0, F.array(b["owner"], b["parent"])
                        ).otherwise(_no_ints()),
                    )
                ),
                lambda x: x.isNotNull(),
            )
        )
        return let(
            F.transform(cand_ids, lambda c: _rb_candidate(ts, bs, c)),
            lambda cands: _rb_article(bs, cands),
        )

    return let(_rb_blocks(ts), scored)


def readability_extract(
    docs: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
    keep_cols: tuple = (),
) -> DataFrame:
    """Readability main-content extraction → (doc_id, main_text,
    top_candidate, top_score, n_candidates, n_selected).

    ``top_candidate`` is the winning container's open-tag index (1-based
    in the document's boundary-tag stream; -1 when no container scored),
    ``n_selected`` counts the winner plus included siblings."""
    types = {
        "main_text": "string",
        "top_candidate": "int",
        "top_score": "double",
        "n_candidates": "int",
        "n_selected": "int",
    }
    m = _tokens(F.col(html_col), _readability)
    return _select_fields(docs, id_col, m, types, keep_cols)


# ---------------------------------------------------------------------------
# jusText (Pomikálek, "Removing Boilerplate and Duplicate Content from Web
# Corpora", PhD thesis 2011; the justext package's published algorithm) —
# the third member of the north-star's boilerplate family.  Where
# NumWordsRules is a local decision tree and Readability scores containers,
# jusText classifies paragraphs by STOPWORD DENSITY and link density into
# {bad, short, near-good, good}, then runs context-sensitive revision
# passes that let confident neighbours absorb ambiguous paragraphs.
#
# Configuration note: this is the ``no_headings=True`` variant of the
# public algorithm (the two heading-promotion passes are off); the
# ``select``-element dom-path check does not apply because the block
# segmenter has no select boundary. Both choices are fixed, documented
# parameters — the oracle and the sequential fuzz model use the same ones.
#
# Scale shape: everything below is per-row Column expressions over the
# exploded block array. The two revision passes are published as
# SEQUENTIAL in-document loops; they collapse to closed-form neighbour
# scans (proved by the sequential-model fuzz in
# tests/test_fuzz_boilerplate.py):
#
#   * the SHORT pass is batch in the original classes (justext applies
#     ``new_classes`` after the loop), so prev/next scans over the
#     context-free classes suffice;
#   * the NEAR-GOOD pass is sequential, but after the short pass no
#     ``short`` labels remain, so a run of consecutive near-goods shares
#     one preceding and one following non-near-good neighbour — once the
#     first element of the run resolves, every later element's "previous
#     neighbour" is either that same resolved value propagated (run went
#     good) or the unchanged preceding neighbour (run going bad) — i.e.
#     the whole run is good iff EITHER flanking strict neighbour is good.
#
# Each scan is ONE linear prefix fold per document (the ``nearest`` form
# of :func:`~ocr_spark.functions.text.scan`): the class array is let-bound
# and read once by the fold, never re-evaluated per element.

JT_LENGTH_LOW = 70
JT_LENGTH_HIGH = 200
JT_STOPWORDS_LOW = 0.30
JT_STOPWORDS_HIGH = 0.32
JT_MAX_LINK_DENSITY = 0.2

# class codes (ints, so the prefix folds stay primitive)
JT_BAD, JT_SHORT, JT_NEARGOOD, JT_GOOD = 0, 1, 2, 3

# standard English function-word stoplist (public domain word list; the
# justext distribution ships per-language stoplists of the same shape)
JUSTEXT_STOPLIST_EN = (
    "a about above after again against all am an and any are as at be because "
    "been before being below between both but by can did do does doing down "
    "during each few for from further had has have having he her here hers "
    "herself him himself his how i if in into is it its itself just me more "
    "most my myself no nor not now of off on once only or other our ours "
    "ourselves out over own same she should so some such than that the their "
    "theirs them themselves then there these they this those through to too "
    "under until up very was we were what when where which while who whom why "
    "will with you your yours yourself yourselves"
).split()

# The published jusText algorithm is multilingual purely via stoplists —
# these are standard public function-word lists (the NLTK-style core set),
# deterministic and dependency-free like the English one above.
JUSTEXT_STOPLIST_ES = (
    "de la que el en y a los se del las un por con no una su para es al lo "
    "como más pero sus le ya o este sí porque esta entre cuando muy sin "
    "sobre también me hasta hay donde quien desde todo nos durante todos "
    "uno les ni contra otros ese eso ante ellos e esto mí antes algunos qué "
    "unos yo otro otras otra él tanto esa estos mucho quienes nada muchos "
    "cual poco ella estar estas algunas algo nosotros"
).split()

JUSTEXT_STOPLIST_DE = (
    "aber alle als also am an auch auf aus bei bin bis bist da damit dann "
    "der den des dem die das dass dein deine mit ein eine einen einem einer "
    "es für hatte hatten hier hin ich ihr ihre im in ist ja jede jedem "
    "jeden jeder jedes kann kannst können könnt machen mein meine mir mich "
    "muss müssen nach nicht noch nun oder schon sein seine sich sie sind so "
    "über um und uns unser unter vom von vor wann warum was weiter weitere "
    "wenn wer werde werden wie wieder will wir wird wirst wo woher wohin zu "
    "zum zur"
).split()

JUSTEXT_STOPLIST_FR = (
    "au aux avec ce ces dans de des du elle en et eux il ils je la le les "
    "leur lui ma mais me même mes moi mon ne nos notre nous on ou par pas "
    "pour qu que qui sa se ses son sur ta te tes toi ton tu un une vos "
    "votre vous à y été étant suis es est sommes êtes sont serai seras "
    "sera ainsi alors après avant bien car cela ceux chaque comme donc dont "
    "encore entre était faire fait ici leur même où peu plus quand sans si "
    "son sous tout tous toute toutes très"
).split()

#: language → stoplist registry for :func:`justext_stoplist_for`
JUSTEXT_STOPLISTS: dict[str, list[str]] = {
    "en": JUSTEXT_STOPLIST_EN,
    "es": JUSTEXT_STOPLIST_ES,
    "de": JUSTEXT_STOPLIST_DE,
    "fr": JUSTEXT_STOPLIST_FR,
}


def justext_stoplist_for(lang: Column, default: str = "en") -> Column:
    """Per-row stoplist selection — the multilingual dispatch the published
    jusText gets from its stoplist files: a CASE over ``lang`` yielding the
    matching :data:`JUSTEXT_STOPLISTS` array (``default`` for unknown
    languages). Pass the result as ``stopwords=`` to
    :func:`justext_extract` to run one language-aware extraction pass over
    a mixed-language corpus instead of one job per language."""
    out = None
    for code, words in JUSTEXT_STOPLISTS.items():
        arr = F.array(*[F.lit(w) for w in words])
        out = (
            F.when(lang == code, arr)
            if out is None
            else out.when(lang == code, arr)
        )
    return out.otherwise(F.array(*[F.lit(w) for w in JUSTEXT_STOPLISTS[default]]))


def _jt_block(t: Column, stoplist: Column) -> Column:
    """Per-block features: text, chars, link chars, word count, stop count."""
    text = t["text"]
    words = F.when(text == "", F.array().cast("array<string>")).otherwise(
        F.split(text, r"(?U)\s+")
    )
    return let(
        words,
        lambda ws: F.struct(
            text.alias("text"),
            F.length(text).alias("chars"),
            _anchor_chars(t["part"]).alias("link_chars"),
            F.size(ws).alias("n_words"),
            F.size(F.filter(ws, lambda w: F.array_contains(stoplist, F.lower(w)))).alias("n_stop"),
        ),
    )


def _jt_cf_class(b: Column) -> Column:
    """Context-free classification (justext classify_paragraphs)."""
    ld = b["link_chars"].cast("double") / b["chars"].cast("double")
    density = F.when(
        b["n_words"] > 0, b["n_stop"].cast("double") / b["n_words"].cast("double")
    ).otherwise(F.lit(0.0))
    return (
        F.when(ld > JT_MAX_LINK_DENSITY, F.lit(JT_BAD))
        .when(
            b["text"].contains("©") | b["text"].contains("&copy"),
            F.lit(JT_BAD),
        )
        .when(
            b["chars"] < JT_LENGTH_LOW,
            F.when(b["link_chars"] > 0, F.lit(JT_BAD)).otherwise(F.lit(JT_SHORT)),
        )
        .when(
            density >= JT_STOPWORDS_HIGH,
            F.when(b["chars"] > JT_LENGTH_HIGH, F.lit(JT_GOOD)).otherwise(
                F.lit(JT_NEARGOOD)
            ),
        )
        .when(density >= JT_STOPWORDS_LOW, F.lit(JT_NEARGOOD))
        .otherwise(F.lit(JT_BAD))
    )


def _jt_nearest(cls: Column, keep: tuple[int, ...]) -> Column:
    """struct(p, n): p[i] / n[i] = the nearest class in ``keep`` at or
    before / at or after i (BAD past either end of the document)."""
    return nearest(cls, F.lit(JT_BAD), lambda c: F.when(c.isin(*keep), c))


def _jt_final_classes(cls: Column) -> Column:
    """The two revision passes over the bound context-free classes."""
    strict = (JT_BAD, JT_GOOD)
    loose = (JT_BAD, JT_NEARGOOD, JT_GOOD)

    # the nearest neighbours strictly before / after block i
    def before(s: Column, i: Column) -> Column:
        return F.coalesce(F.get(s["p"], i - 1), F.lit(JT_BAD))

    def after(s: Column, i: Column) -> Column:
        return F.coalesce(F.get(s["n"], i + 1), F.lit(JT_BAD))

    # SHORT pass (batch, reads the context-free classes):
    #   both strict neighbours good → good; both bad → bad; mixed → good
    #   iff a near-good sits between the short and its bad-side strict
    #   neighbour, else bad.
    def short_rule(s: Column, lo: Column, c: Column, i: Column) -> Column:
        p, n = before(s, i), after(s, i)
        return F.when(c != JT_SHORT, c).otherwise(
            F.when((p == JT_GOOD) & (n == JT_GOOD), F.lit(JT_GOOD))
            .when((p == JT_BAD) & (n == JT_BAD), F.lit(JT_BAD))
            .when(
                ((p == JT_BAD) & (before(lo, i) == JT_NEARGOOD))
                | ((n == JT_BAD) & (after(lo, i) == JT_NEARGOOD)),
                F.lit(JT_GOOD),
            )
            .otherwise(F.lit(JT_BAD))
        )

    # NEAR-GOOD pass (closed form of the sequential loop — see module
    # comment): good iff either flanking strict neighbour is good.
    def near_good_rule(s: Column, c: Column, i: Column) -> Column:
        return F.when(c != JT_NEARGOOD, c).otherwise(
            F.when(
                (before(s, i) == JT_GOOD) | (after(s, i) == JT_GOOD), F.lit(JT_GOOD)
            ).otherwise(F.lit(JT_BAD))
        )

    short_pass = let(
        _jt_nearest(cls, strict),
        lambda s: let(
            _jt_nearest(cls, loose),
            lambda lo: F.transform(cls, lambda c, i: short_rule(s, lo, c, i)),
        ),
    )
    return let(
        short_pass,
        lambda cls2: let(
            _jt_nearest(cls2, strict),
            lambda s: F.transform(cls2, lambda c, i: near_good_rule(s, c, i)),
        ),
    )


def justext_extract(
    docs: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
    stopwords: list[str] | Column | None = None,
    keep_cols: tuple = (),
) -> DataFrame:
    """jusText main-content extraction → (doc_id, main_text, n_blocks,
    n_content_blocks, boiler_chars).

    ``main_text`` newline-joins the paragraphs whose FINAL class is good;
    ``boiler_chars`` counts the characters classified away. ``stopwords``
    selects the language (the public jusText is multilingual purely via
    per-language stoplists — lowercase word lists of the same shape as
    the English default). Pass a COLUMN (see
    :func:`justext_stoplist_for`) for per-row language dispatch over a
    mixed corpus; it is bound once per row before the per-block lambda
    so the stoplist CASE never re-evaluates per block."""
    if stopwords is None:
        stopwords = JUSTEXT_STOPLIST_EN
    if not isinstance(stopwords, Column):
        stopwords = F.array(*[F.lit(w) for w in stopwords])

    def extract(ts: Column, stoplist: Column) -> Column:
        blocks = F.filter(
            F.transform(ts, lambda t: _jt_block(t, stoplist)), lambda b: b["text"] != ""
        )
        return let(
            blocks,
            lambda bs: let(
                _jt_final_classes(F.transform(bs, _jt_cf_class)),
                lambda cls: _fuse(bs, F.transform(cls, lambda c: c == JT_GOOD)),
            ),
        )

    m = let(stopwords, lambda sw: _tokens(F.col(html_col), lambda ts: extract(ts, sw)))
    types = {k: t for k, t in _MAIN_FIELDS.items() if k != "max_depth"}
    return _select_fields(docs, id_col, m, types, keep_cols)


# --- CETR: Content Extraction via Tag Ratios (Weninger, Hsu, Han — WWW 2010) -
#
# The LINE-based member of the text-density family: where Boilerpipe
# classifies tag-delimited blocks and Readability scores containers, CETR
# scores physical source LINES by tag ratio TR(i) = text_chars / max(tags, 1),
# smooths over a small line window, and CLUSTERS the smoothed ratios with
# k-means — the high cluster is the main content (the paper's CETR-KM).
# All arithmetic is INTEGER (ratios in milli-units, floor division,
# midpoint cluster assignment) so Spark and the DuckDB oracle hash
# identically — the same discipline as the integer-exact PageRank.

# deterministic adaptations of the paper's pipeline (documented):
#   1. tag-only lines (zero text chars — <img>, lone <div>, blank) are
#      EXCLUDED from the density sequence: they can never contribute text,
#      and keeping them as zero-bins only dilutes the smoothed density of
#      adjacent genuine content (a figure between two paragraphs would
#      drag both below the cluster boundary);
#   2. the σ=1 Gaussian smoothing kernel becomes the binomial [1,2,1]/4
#      (its integer-exact analog), clipped at the edges;
#   3. the paper's k-means clustering of smoothed ratios runs as 1D
#      2-means with deterministic init (min/max), integer centroids
#      (floor-of-mean), the high cluster = content, and a FIXED iteration
#      count — both engines run the identical arithmetic, so cross-engine
#      equality holds whether or not the centroids have converged.
CETR_KERNEL_CENTER = 2  # binomial [1, CENTER, 1]
CETR_KMEANS_ITERS = 8


def cetr_extract(
    docs: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
    keep_cols: tuple = (),
) -> DataFrame:
    """CETR main-content extraction → (doc_id, main_text, n_lines,
    n_content_lines, content_permille); n_lines counts ALL source lines,
    the density/keep machinery runs over the text-bearing subsequence.

    Plan shape: one narrow expression pass — split into lines, per-line
    (text, tags) features materialize ONCE as a column, tag ratios and the
    [1,2,1] smoothing are linear array ops over that attribute (element_at
    of a materialized array, never a re-evaluated expression subtree), and
    the 2-means clustering is CETR_KMEANS_ITERS fixed projections with two
    linear folds each. No UDF, no shuffle; skew bounded by page size like
    every extractor here."""
    h = F.coalesce(F.col(html_col), F.lit(""))
    feat = F.transform(
        F.split(h, r"\n"),
        lambda ln: F.struct(
            py_strip(F.regexp_replace(ln, _TAG_RE, "")).alias("text"),
            F.size(F.regexp_extract_all(ln, F.lit(_TAG_RE), 0)).alias("tags"),
        ),
    )
    d1 = docs.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        F.size(feat).cast("long").alias("n_all"),
        F.filter(feat, lambda s: s["text"] != "").alias("lf"),
    )
    # TR in milli-units: (1000 * chars) // max(tags, 1) — exact integers
    tr = F.transform(
        F.col("lf"),
        lambda s: F.floor(
            (F.lit(1000) * F.length(s["text"])).cast("long")
            / F.greatest(s["tags"], F.lit(1))
        ).cast("long"),
    )
    d2 = d1.select(
        F.col(id_col), *[F.col(c) for c in keep_cols], "n_all", "lf", tr.alias("tr")
    )

    n = F.size(F.col("tr"))
    idx = F.when(n > 0, F.sequence(F.lit(0), n - 1)).otherwise(
        F.array().cast("array<int>")
    )

    # smoothed(i) = (tr[i-1] + 2*tr[i] + tr[i+1]) // (weights present):
    # element_at over the MATERIALIZED tr attribute — linear in n
    def smooth(i: Column) -> Column:
        c = CETR_KERNEL_CENTER
        left = F.when(i > 0, F.element_at(F.col("tr"), i)).otherwise(F.lit(0))
        right = F.when(i < n - 1, F.element_at(F.col("tr"), i + 2)).otherwise(F.lit(0))
        wsum = left + F.lit(c) * F.element_at(F.col("tr"), i + 1) + right
        wden = (
            F.lit(c)
            + F.when(i > 0, F.lit(1)).otherwise(F.lit(0))
            + F.when(i < n - 1, F.lit(1)).otherwise(F.lit(0))
        )
        return F.floor(wsum / wden).cast("long")

    d3 = d2.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        "n_all",
        "lf",
        F.transform(idx, smooth).alias("sm"),
    )
    # scalars materialize as COLUMNS before any lambda references them —
    # referencing an aggregate inside a lambda would re-run it per element
    zero = F.lit(0).cast("long")
    cur = d3.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        "n_all",
        "lf",
        "sm",
        F.aggregate(F.col("sm"), zero, lambda a, x: a + x).alias("tot"),
        F.size(F.col("sm")).cast("long").alias("nl"),
        F.coalesce(F.array_min(F.col("sm")), zero).alias("c0"),
        F.coalesce(F.array_max(F.col("sm")), zero).alias("c1"),
    )
    # 1D 2-means over the smoothed ratios: assignment is the integer
    # midpoint test 2*x > c0 + c1 (ties low), centroids floor-of-mean;
    # empty clusters keep their centroid. Constant plan growth: one
    # projection with two linear folds per iteration.
    base = [F.col(id_col), *[F.col(c) for c in keep_cols], "n_all", "lf", "sm", "tot", "nl"]
    for _ in range(CETR_KMEANS_ITERS):
        c0, c1 = F.col("c0"), F.col("c1")
        hi_sum = F.aggregate(
            F.col("sm"),
            zero,
            lambda a, x: a + F.when(x * 2 > c0 + c1, x).otherwise(zero),
        )
        hi_cnt = F.aggregate(
            F.col("sm"),
            zero,
            lambda a, x: a + F.when(x * 2 > c0 + c1, F.lit(1).cast("long")).otherwise(zero),
        )
        cur = cur.select(
            *base,
            hi_sum.alias("hs"),
            hi_cnt.alias("hc"),
            "c0",
            "c1",
        ).select(
            *base,
            F.when(
                F.col("nl") - F.col("hc") > 0,
                F.floor((F.col("tot") - F.col("hs")) / (F.col("nl") - F.col("hc"))).cast(
                    "long"
                ),
            )
            .otherwise(F.col("c0"))
            .alias("c0"),
            F.when(
                F.col("hc") > 0,
                F.floor(F.col("hs") / F.col("hc")).cast("long"),
            )
            .otherwise(F.col("c1"))
            .alias("c1"),
        )
    # content = the high cluster under the final centroids
    c0f, c1f = F.col("c0"), F.col("c1")
    zipped = F.zip_with(
        F.col("lf"),
        F.col("sm"),
        lambda s, m: F.struct(
            s["text"].alias("text"),
            (m * 2 > c0f + c1f).alias("keep"),
        ),
    )
    d4 = cur.select(
        F.col(id_col), *[F.col(c) for c in keep_cols], "n_all", zipped.alias("z")
    )
    kept = F.filter(F.col("z"), lambda z: z["keep"])
    n_content = F.size(kept).cast("long")
    return d4.select(
        F.col(id_col),
        F.array_join(F.transform(kept, lambda z: z["text"]), "\n").alias("main_text"),
        F.col("n_all").alias("n_lines"),
        n_content.alias("n_content_lines"),
        F.when(F.col("n_all") > 0, F.floor(n_content * 1000 / F.col("n_all")).cast("long"))
        .otherwise(F.lit(0).cast("long"))
        .alias("content_permille"),
        *[F.col(c) for c in keep_cols],
    )


# --- HTML head metadata (trafilatura-style extract_metadata subset) ----------

_META_TAG_RE = r"(?i)<meta\b[^>]*>"
_TIME_TAG_RE = r"(?i)<time\b[^>]*>"
_TITLE_EL_RE = r"(?is)<title\b[^>]*>\s*(.*?)\s*</title>"
_HTML_LANG_RE = r"""(?is)<html\b[^>]*\blang\s*=\s*["']?([a-zA-Z-]+)"""


def page_metadata(
    docs: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
    keep_cols: tuple = (),
) -> DataFrame:
    """HTML head metadata — the per-page catalog fields every web-corpus
    pipeline keeps next to the extracted text (the public trafilatura /
    newspaper ``extract_metadata`` convention, documented subset):

    * ``title``: ``og:title`` meta when non-empty, else the ``<title>``
      element text,
    * ``description``: ``og:description``, else ``<meta name=description>``,
    * ``site_name``: ``og:site_name``,
    * ``published``: ``<meta property=article:published_time>``, else the
      first ``<time datetime=...>`` attribute — kept as the raw string
      (date parsing is a downstream normalizer's job),
    * ``lang``: the ``<html lang>`` attribute, lowercased (the DECLARED
      language; the content-based detector at ``functions.text`` is the
      trust-but-verify counterpart).

    Meta matching is attribute-order-free and quote-style-free, first
    matching tag wins, values entity-decoded (five predefined) and
    stripped; every field is '' when absent. One narrow expression pass —
    no UDF, no shuffle, exact DuckDB twin (`oracle_sql()['html_meta']`)."""
    from ocr_spark.operators.links import tag_attr, xml_unescape

    html = F.coalesce(F.col(html_col), F.lit(""))
    metas = F.regexp_extract_all(html, F.lit(_META_TAG_RE), 0)

    def meta_content(key_attr: str, key: str) -> Column:
        tag = F.get(
            F.filter(
                metas, lambda t: F.lower(tag_attr(t, key_attr)) == key
            ),
            F.lit(0),
        )
        return py_strip(F.coalesce(tag_attr(tag, "content"), F.lit("")))

    title_el = F.regexp_extract(html, _TITLE_EL_RE, 1)
    og_title = meta_content("property", "og:title")
    title = F.when(og_title != "", og_title).otherwise(title_el)
    og_desc = meta_content("property", "og:description")
    desc = F.when(og_desc != "", og_desc).otherwise(
        meta_content("name", "description")
    )
    time_tag = F.get(F.regexp_extract_all(html, F.lit(_TIME_TAG_RE), 0), F.lit(0))
    pub_meta = meta_content("property", "article:published_time")
    published = F.when(pub_meta != "", pub_meta).otherwise(
        py_strip(F.coalesce(tag_attr(time_tag, "datetime"), F.lit("")))
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        xml_unescape(title).alias("title"),
        xml_unescape(desc).alias("description"),
        xml_unescape(meta_content("property", "og:site_name")).alias("site_name"),
        published.alias("published"),
        F.lower(F.regexp_extract(html, _HTML_LANG_RE, 1)).alias("lang"),
        *[F.col(c) for c in keep_cols],
    )


_LINK_HEAD_TAG_RE = r"(?i)<link\b[^>]*>"


def page_lead_image(
    docs: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
    keep_cols: tuple = (),
) -> DataFrame:
    """Lead-image selection — the representative image multimodal pairing
    and news pipelines keep next to the extracted text, with the public
    precedence convention (trafilatura/newspaper ``top_image`` subset):

    * ``<meta property=og:image content=…>`` when non-empty (the
      publisher's own choice — dominant on real pages),
    * else ``<link rel=image_src href=…>`` (the legacy hint),
    * else the FIRST ``<img src=…>`` on the page (the naive fallback;
      content-aware ranking composes downstream via
      :func:`html_to_spans`'s kept media spans).

    Returns (doc_id, lead_image, lead_source) with ``lead_source`` ∈
    {'og', 'link', 'img', ''} and '' for image-free pages. The ref is the
    raw attribute value, entity-decoded — URL resolution against the page
    base composes via ``links.resolve_url``. Attribute-order-free,
    quote-style-free, first matching tag wins. One narrow expression
    pass — no UDF, no shuffle."""
    from ocr_spark.operators.links import tag_attr, xml_unescape

    html = F.coalesce(F.col(html_col), F.lit(""))
    metas = F.regexp_extract_all(html, F.lit(_META_TAG_RE), 0)
    og_tag = F.get(
        F.filter(
            metas, lambda t: F.lower(tag_attr(t, "property")) == "og:image"
        ),
        F.lit(0),
    )
    og = py_strip(F.coalesce(tag_attr(og_tag, "content"), F.lit("")))
    link_tag = F.get(
        F.filter(
            F.regexp_extract_all(html, F.lit(_LINK_HEAD_TAG_RE), 0),
            lambda t: F.lower(tag_attr(t, "rel")) == "image_src",
        ),
        F.lit(0),
    )
    link = py_strip(F.coalesce(tag_attr(link_tag, "href"), F.lit("")))
    img_tag = F.get(F.regexp_extract_all(html, F.lit(_IMG_TAG_RE), 0), F.lit(0))
    img = py_strip(F.coalesce(tag_attr(img_tag, "src"), F.lit("")))
    lead = F.when(og != "", og).when(link != "", link).otherwise(img)
    source = (
        F.when(og != "", F.lit("og"))
        .when(link != "", F.lit("link"))
        .when(img != "", F.lit("img"))
        .otherwise(F.lit(""))
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        xml_unescape(lead).alias("lead_image"),
        source.alias("lead_source"),
        *[F.col(c) for c in keep_cols],
    )


# --- extractor ensemble (agreement across the boilerplate family) -----------


def _word_set(text: Column) -> Column:
    return F.array_distinct(
        F.filter(F.split(text, r"\s+"), lambda w: w != "")
    )


def extraction_ensemble(
    docs: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
    stopwords: list[str] | None = None,
) -> DataFrame:
    """Run all three main-content extractors (Boilerpipe NumWordsRules,
    Readability, jusText) over the same HTML and report per-document
    agreement — the extraction-confidence signal a web-corpus pipeline
    keeps next to the text (pages where independent extractors disagree
    are exactly the pages whose extraction should not be trusted
    unreviewed): distinct-word counts per extractor, pairwise word-set
    Jaccard, the count of words at least two extractors agree on, and
    ``pick`` — the medoid extractor (max summed Jaccard to the other two,
    ties broken boilerpipe > readability > justext).

    Scale shape: ONE narrow expression pass — the extractors chain through
    ``keep_cols`` on the same DataFrame, so there is no re-scan and no
    doc_id join/shuffle; at 10^12 documents this is the same plan class as
    any single extractor."""
    d0 = docs.select(
        F.col(id_col).alias("doc_id"), F.col(html_col).alias("html")
    )
    d1 = extract_html_documents(d0, keep_cols=("html",)).select(
        "doc_id", F.col("main_text").alias("t_bp"), "html"
    )
    d2 = readability_extract(d1, keep_cols=("t_bp", "html")).select(
        "doc_id", F.col("main_text").alias("t_rb"), "t_bp", "html"
    )
    d3 = justext_extract(
        d2, stopwords=stopwords, keep_cols=("t_bp", "t_rb")
    ).select("doc_id", F.col("main_text").alias("t_jt"), "t_bp", "t_rb")
    d4 = d3.select(
        "doc_id",
        _word_set(F.col("t_bp")).alias("wa"),
        _word_set(F.col("t_rb")).alias("wb"),
        _word_set(F.col("t_jt")).alias("wc"),
    )

    def jac(i: Column, u: Column) -> Column:
        return F.when(u == 0, F.lit(0.0)).otherwise(i / u)

    i_ab = F.size(F.array_intersect(F.col("wa"), F.col("wb")))
    i_ac = F.size(F.array_intersect(F.col("wa"), F.col("wc")))
    i_bc = F.size(F.array_intersect(F.col("wb"), F.col("wc")))
    u_ab = F.size(F.col("wa")) + F.size(F.col("wb")) - i_ab
    u_ac = F.size(F.col("wa")) + F.size(F.col("wc")) - i_ac
    u_bc = F.size(F.col("wb")) + F.size(F.col("wc")) - i_bc
    consensus = F.size(
        F.array_union(
            F.array_union(
                F.array_intersect(F.col("wa"), F.col("wb")),
                F.array_intersect(F.col("wa"), F.col("wc")),
            ),
            F.array_intersect(F.col("wb"), F.col("wc")),
        )
    )
    d5 = d4.select(
        "doc_id",
        F.size(F.col("wa")).cast("int").alias("n_uniq_bp"),
        F.size(F.col("wb")).cast("int").alias("n_uniq_rb"),
        F.size(F.col("wc")).cast("int").alias("n_uniq_jt"),
        jac(i_ab, u_ab).alias("j_bp_rb"),
        jac(i_ac, u_ac).alias("j_bp_jt"),
        jac(i_bc, u_bc).alias("j_rb_jt"),
        consensus.cast("int").alias("consensus_words"),
    )
    s_bp = F.col("j_bp_rb") + F.col("j_bp_jt")
    s_rb = F.col("j_bp_rb") + F.col("j_rb_jt")
    s_jt = F.col("j_bp_jt") + F.col("j_rb_jt")
    return d5.withColumn(
        "pick",
        F.when((s_bp >= s_rb) & (s_bp >= s_jt), F.lit("boilerpipe"))
        .when(s_rb >= s_jt, F.lit("readability"))
        .otherwise(F.lit("justext")),
    )


def host_extract_stats(
    pages: DataFrame,
    host_col: str = "host",
    html_col: str = "html",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-host extraction-quality rollup — the crawl-dashboard aggregate a
    web-corpus pipeline runs after every drop: for each host, how many pages
    were extracted, how much of the page mass survived boilerplate removal
    (``content_permille``, an exact integer over the HOST sums so two runs
    hash identically), and how many pages extracted to nothing (the
    template-only / extraction-failure signal that flags hosts whose markup
    defeats the classifier).

    Output: (host, pages, main_chars, boiler_chars, blocks, content_blocks,
    empty_pages, content_permille).

    Scale shape: ONE narrow Boilerpipe expression pass (no join — the host
    column threads through ``keep_cols``) followed by a single groupBy(host)
    whose aggregates are all sums/counts, so the shuffle carries one partial
    row per (task, host) after map-side combine.  Hosts are Zipf-skewed in
    real crawls, but the reduce-side record is one row of 7 longs per host —
    skew in INPUT rows is absorbed by the partial aggregation, not the
    shuffle."""
    ex = extract_html_documents(
        pages, html_col=html_col, id_col=id_col, keep_cols=(host_col,)
    )
    main_len = F.length("main_text").cast("long")
    agg = ex.groupBy(host_col).agg(
        F.count("*").cast("long").alias("pages"),
        F.sum(main_len).cast("long").alias("main_chars"),
        F.sum("boiler_chars").cast("long").alias("boiler_chars"),
        F.sum("n_blocks").cast("long").alias("blocks"),
        F.sum("n_content_blocks").cast("long").alias("content_blocks"),
        F.sum((main_len == 0).cast("long")).cast("long").alias("empty_pages"),
    )
    return agg.withColumn(
        "content_permille",
        F.expr(
            "CASE WHEN main_chars + boiler_chars > 0"
            " THEN (main_chars * 1000) div (main_chars + boiler_chars)"
            " ELSE 0 END"
        ).cast("long"),
    )


# --- HTML → interleaved span sequence (the north-rule corpus shape) ----------

_IMG_TAG_RE = r"(?i)<img\b[^>]*>"


def html_to_spans(
    docs: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
    stride: int = 16,
) -> DataFrame:
    """Crawled HTML → the canonical interleaved span sequence
    (doc_id, spans: array<struct kind, text, media_ref, offset>) — the
    bridge from the crawl path to the flagship extraction corpus shape:
    every downstream operator that runs on ``span_corpus`` runs unchanged
    on crawled pages once they pass through here.

    Per document, in source order:

    * each Boilerpipe-CONTENT text block (the same NumWordsRules
      classification as :func:`extract_main_content`) becomes a
      ``kind='text'`` span,
    * each ``<img src=…>`` becomes a ``kind='media'`` span with the raw
      src as ``media_ref`` — kept only when its unit is itself a kept
      text block (an illustrated paragraph) or is an IMG-ONLY unit
      adjacent to a kept text block (a standalone figure between prose
      paragraphs). Nav icons and footer badges sit in boilerplate text
      units and drop with them.
    * ``offset`` = span position × ``stride`` (the span_corpus
      convention).

    One narrow expression pass over one tokenization: the text units are
    classified from the same (n_words, link_density) features as
    :func:`html_blocks` — they are its blocks — and every array read
    more than once is let-bound; no UDF, no shuffle, exact DuckDB twin
    (`oracle_sql()['html_spans']`)."""
    from ocr_spark.operators.links import tag_attr

    def unit(t: Column) -> Column:
        imgs = F.filter(
            F.transform(
                F.regexp_extract_all(t["part"], F.lit(_IMG_TAG_RE), 0),
                lambda tag: tag_attr(tag, "src"),
            ),
            lambda s: s != "",
        )
        return F.struct(
            t["text"].alias("text"),
            imgs.alias("imgs"),
            word_count(t["text"]).alias("n_words"),
            _link_density(_anchor_chars(t["part"]), t["text"]).alias("link_density"),
        )

    def kept_of(us: Column) -> Column:
        # kept[i]: unit i is a text unit the classifier keeps. A text unit
        # with k text units at or before it is block k-1 of ``tu``.
        is_text = F.transform(us, lambda u: F.when(u["text"] != "", F.lit(1)).otherwise(F.lit(0)))
        return let(
            F.filter(us, lambda u: u["text"] != ""),
            lambda tu: F.zip_with(
                us,
                _running_sum(is_text),
                lambda u, k: (u["text"] != "") & _is_content(tu, k - 1),
            ),
        )

    def span(kind: str, text: Column, ref: Column) -> Column:
        return F.struct(F.lit(kind).alias("kind"), text.alias("text"), ref.alias("media_ref"))

    no_spans = F.array().cast("array<struct<kind:string,text:string,media_ref:string>>")

    def spans_of(us: Column, kept: Column) -> Column:
        # a unit's images go out with its own kept text, or — IMG-ONLY
        # units — next to a kept neighbour (a boilerplate TEXT unit never
        # emits its images, even next to content)
        def emit(u: Column, i: Column) -> Column:
            own = F.get(kept, i)
            near = F.coalesce(F.get(kept, i - 1), F.lit(False)) | F.coalesce(
                F.get(kept, i + 1), F.lit(False)
            )
            media = F.when(
                own | ((u["text"] == "") & near),
                F.transform(u["imgs"], lambda s: span("media", F.lit(""), s)),
            ).otherwise(no_spans)
            text = F.when(own, F.array(span("text", u["text"], F.lit("")))).otherwise(no_spans)
            return F.concat(media, text)

        return F.transform(
            F.flatten(F.transform(us, emit)),
            lambda s, i: F.struct(
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                (i * stride).cast("int").alias("offset"),
            ),
        )

    def units_of(ts: Column) -> Column:
        return F.filter(
            F.transform(ts, unit), lambda u: (u["text"] != "") | (F.size(u["imgs"]) > 0)
        )

    spans = _tokens(
        F.col(html_col),
        lambda ts: let(units_of(ts), lambda us: let(kept_of(us), lambda kept: spans_of(us, kept))),
    )
    return docs.select(F.col(id_col).alias("doc_id"), spans.alias("spans"))


# --- HTML structure extraction: tables and heading outline -------------------

_TABLE_BLOCK_RE = r"(?is)<table\b[^>]*>.*?</table>"
_TR_RE = r"(?is)<tr\b[^>]*>(.*?)</tr>"
_CELL_RE = r"(?is)<t[dh]\b[^>]*>(.*?)</t[dh]>"
_TH_RE = r"(?is)<th\b"
_HEADING_RE = r"(?is)<h([1-6])\b[^>]*>.*?</h[1-6]>"


def html_tables(
    docs: DataFrame, html_col: str = "html", id_col: str = "doc_id"
) -> DataFrame:
    """``<table>`` extraction to structured rows — the part of a page the
    boilerplate extractors deliberately throw away but a training-data
    pipeline often wants as (semi-)structured records. Documented subset:
    NON-NESTED tables (the lazy block match ends at the first
    ``</table>``), ``<tr>``/``<td>``/``<th>`` with free attributes and
    case, inline markup inside cells stripped, the five XML entities
    decoded, cells whitespace-trimmed; ``is_header`` is true when the row
    contains any ``<th>``. Rows without cells drop.

    One narrow regexp pass, two nested transforms, ONE explode of
    pre-flattened (table_idx, row_idx, cells) structs — no shuffle, no
    UDF. Returns (doc_id, table_idx, row_idx, is_header, cells,
    n_cells)."""
    from ocr_spark.operators.links import xml_unescape

    html = F.coalesce(F.col(html_col), F.lit(""))
    tables = F.regexp_extract_all(html, F.lit(_TABLE_BLOCK_RE), 0)

    def row_struct(ti: Column, r: Column, ri: Column) -> Column:
        cells = F.transform(
            F.regexp_extract_all(r, F.lit(_CELL_RE), 1),
            lambda c: xml_unescape(py_strip(F.regexp_replace(c, _TAG_RE, ""))),
        )
        return F.struct(
            ti.alias("table_idx"),
            ri.alias("row_idx"),
            r.rlike(_TH_RE).alias("is_header"),
            cells.alias("cells"),
        )

    nested = F.transform(
        tables,
        lambda t, ti: F.transform(
            F.regexp_extract_all(t, F.lit(_TR_RE), 1),
            lambda r, ri: row_struct(ti, r, ri),
        ),
    )
    rows = F.filter(F.flatten(nested), lambda s: F.size(s["cells"]) > 0)
    out = docs.select(F.col(id_col).alias("doc_id"), F.explode(rows).alias("r"))
    return out.select(
        "doc_id",
        F.col("r.table_idx").cast("int").alias("table_idx"),
        F.col("r.row_idx").cast("int").alias("row_idx"),
        F.col("r.is_header").alias("is_header"),
        F.col("r.cells").alias("cells"),
        F.size(F.col("r.cells")).cast("int").alias("n_cells"),
    )


def html_headings(
    docs: DataFrame, html_col: str = "html", id_col: str = "doc_id"
) -> DataFrame:
    """``<h1>``–``<h6>`` outline extraction — the section skeleton used
    for structure-aware chunking and TOC-style summaries. Level comes
    from the OPENING tag (the lazy block match tolerates a mismatched
    closing level — real-web HTML does that); text is tag-stripped,
    entity-decoded, trimmed; empty headings drop. One narrow pass, one
    explode. Returns (doc_id, heading_idx, level, text) in document
    order."""
    from ocr_spark.operators.links import xml_unescape

    html = F.coalesce(F.col(html_col), F.lit(""))
    blocks = F.transform(
        F.regexp_extract_all(html, F.lit(_HEADING_RE), 0),
        lambda b, i: F.struct(
            i.cast("int").alias("heading_idx"),
            F.regexp_extract(b, r"(?is)^<h([1-6])", 1).cast("int").alias("level"),
            xml_unescape(
                py_strip(F.regexp_replace(b, _TAG_RE, ""))
            ).alias("text"),
        ),
    )
    kept = F.filter(blocks, lambda h: h["text"] != "")
    out = docs.select(F.col(id_col).alias("doc_id"), F.explode(kept).alias("h"))
    return out.select(
        "doc_id",
        F.col("h.heading_idx").alias("heading_idx"),
        F.col("h.level").alias("level"),
        F.col("h.text").alias("text"),
    )


_LIST_BLOCK_RE = r"(?is)<(?:ul|ol)\b[^>]*>.*?</(?:ul|ol)>"
_LI_RE = r"(?is)<li\b[^>]*>(.*?)</li>"
_OL_OPEN_RE = r"(?i)^<ol"


def html_lists(
    docs: DataFrame, html_col: str = "html", id_col: str = "doc_id"
) -> DataFrame:
    """``<ul>``/``<ol>`` extraction to (doc_id, list_idx, item_idx,
    ordered, text) — the enumerations and step sequences that survive as
    structure where the prose extractors see only short boilerplate-ish
    lines. Documented subset (same discipline as :func:`html_tables`):
    NON-NESTED lists (the lazy block match ends at the first closing
    ``</ul>``/``</ol>``, and a mismatched close is tolerated), ``<li>``
    with a closing tag, free attribute/tag case. ``ordered`` comes from
    the OPENING tag; item text is tag-stripped, entity-decoded, trimmed;
    empty items drop while ``item_idx`` keeps document positions (the
    same gap semantics as :func:`html_headings`).

    One narrow regexp pass, two nested transforms, ONE explode of the
    pre-flattened structs — no shuffle, no UDF. Fits the 10^12-doc plan
    class: per-doc work bounded by page size, embarrassingly parallel."""
    from ocr_spark.operators.links import xml_unescape

    html = F.coalesce(F.col(html_col), F.lit(""))
    blocks = F.regexp_extract_all(html, F.lit(_LIST_BLOCK_RE), 0)

    nested = F.transform(
        blocks,
        lambda b, li: F.transform(
            F.regexp_extract_all(b, F.lit(_LI_RE), 1),
            lambda it, ii: F.struct(
                li.cast("int").alias("list_idx"),
                ii.cast("int").alias("item_idx"),
                b.rlike(_OL_OPEN_RE).alias("ordered"),
                xml_unescape(
                    py_strip(F.regexp_replace(it, _TAG_RE, ""))
                ).alias("text"),
            ),
        ),
    )
    items = F.filter(F.flatten(nested), lambda s: s["text"] != "")
    out = docs.select(F.col(id_col).alias("doc_id"), F.explode(items).alias("i"))
    return out.select(
        "doc_id",
        F.col("i.list_idx").alias("list_idx"),
        F.col("i.item_idx").alias("item_idx"),
        F.col("i.ordered").alias("ordered"),
        F.col("i.text").alias("text"),
    )


_PRE_BLOCK_RE = r"(?is)<pre\b[^>]*>.*?</pre>"
_CLASS_LANG_RE = r"(?i)class\s*=\s*[\"'][^\"']*\blang(?:uage)?-([A-Za-z0-9_+#.-]+)"


def html_code_blocks(
    docs: DataFrame, html_col: str = "html", id_col: str = "doc_id"
) -> DataFrame:
    """``<pre>`` code-block extraction to (doc_id, block_idx, lang_hint,
    code, n_lines) — the code-corpus feed a training-data pipeline
    separates from prose BEFORE the whitespace-normalizing text path
    destroys indentation. ``lang_hint`` reads the highlighter convention
    ``class="language-x"`` / ``class="lang-x"`` from the ``<pre>`` or the
    inner ``<code>`` tag ('' when absent); ``code`` strips the wrapper
    and highlight-span tags and decodes the five XML entities while
    PRESERVING interior whitespace exactly (only the outer edges trim —
    the one extractor in this family that must not collapse runs);
    whitespace-only blocks drop with ``block_idx`` gaps kept.

    One narrow regexp pass + one explode, no shuffle, no UDF."""
    from ocr_spark.operators.links import xml_unescape

    html = F.coalesce(F.col(html_col), F.lit(""))
    blocks = F.regexp_extract_all(html, F.lit(_PRE_BLOCK_RE), 0)
    structs = F.transform(
        blocks,
        lambda b, i: F.struct(
            i.cast("int").alias("block_idx"),
            F.regexp_extract(b, _CLASS_LANG_RE, 1).alias("lang_hint"),
            xml_unescape(
                py_strip(F.regexp_replace(b, _TAG_RE, ""))
            ).alias("code"),
        ),
    )
    kept = F.filter(structs, lambda s: s["code"] != "")
    out = docs.select(F.col(id_col).alias("doc_id"), F.explode(kept).alias("c"))
    return out.select(
        "doc_id",
        F.col("c.block_idx").alias("block_idx"),
        F.col("c.lang_hint").alias("lang_hint"),
        F.col("c.code").alias("code"),
        F.size(F.split(F.col("c.code"), "\n", -1)).cast("int").alias("n_lines"),
    )


# --- structure-aware sectioning (heading-scoped chunks) ----------------------

_H_OPEN_RE = r"(?is)^<h([1-6])\b"


def html_sections(
    docs: DataFrame, html_col: str = "html", id_col: str = "doc_id"
) -> DataFrame:
    """Split a page into HEADING-SCOPED sections — the structure-aware
    chunker retrieval pipelines use instead of fixed windows (a chunk
    never straddles a section boundary, and every chunk carries its
    heading as context): section 0 is the pre-heading preamble, section
    s>0 starts at the s-th ``<h1>``–``<h6>`` and runs to the next one.
    ``text`` newline-joins the section's non-empty blocks; sections with
    neither heading nor text drop (a preamble-less page starts at 1).

    Mechanics mirror :func:`html_to_spans`: one tokenization, a linear
    prefix fold assigning each block its section id (count of heading
    blocks at-or-before it — a part is a heading iff its OPENING boundary
    tag is ``<hN>``), then a per-section fold; no UDF, no shuffle, one
    explode. Returns (doc_id, section_idx, level, heading, text,
    n_blocks)."""
    from ocr_spark.operators.links import xml_unescape

    def unit(t: Column) -> Column:
        return let(
            F.regexp_extract(t["tag"], _H_OPEN_RE, 1),
            lambda lvl: F.struct(
                xml_unescape(t["text"]).alias("text"),
                (lvl != "").alias("is_h"),
                F.coalesce(lvl.try_cast("int"), F.lit(0)).alias("level"),
            ),
        )

    def section(zu: Column, s: Column) -> Column:
        def of(sec: Column) -> Column:
            head = F.get(F.filter(sec, lambda z: z["u"]["is_h"]), F.lit(0))
            body = F.filter(sec, lambda z: ~z["u"]["is_h"])
            return F.struct(
                s.cast("int").alias("section_idx"),
                F.coalesce(head["u"]["level"], F.lit(0)).alias("level"),
                F.coalesce(head["u"]["text"], F.lit("")).alias("heading"),
                F.array_join(F.transform(body, lambda z: z["u"]["text"]), "\n").alias("text"),
                F.size(body).cast("int").alias("n_blocks"),
            )

        return let(F.filter(zu, lambda z: z["i"] == s), of)

    def sections(us: Column) -> Column:
        # sid[i] = number of heading units at-or-before unit i
        sids = _running_sum(F.transform(us, lambda u: F.when(u["is_h"], F.lit(1)).otherwise(F.lit(0))))
        zipped = F.zip_with(us, sids, lambda u, i: F.struct(u.alias("u"), i.alias("i")))

        def of(zu: Column) -> Column:
            n_h = F.coalesce(F.get(zu, F.size(zu) - 1)["i"], F.lit(0))
            return F.filter(
                F.transform(F.sequence(F.lit(0), n_h), lambda s: section(zu, s)),
                lambda x: (x["heading"] != "") | (x["text"] != ""),
            )

        return let(zipped, of)

    secs = _tokens(
        F.col(html_col),
        lambda ts: let(F.filter(F.transform(ts, unit), lambda u: u["text"] != ""), sections),
    )
    out = docs.select(F.col(id_col).alias("doc_id"), F.explode(secs).alias("s"))
    return out.select(
        "doc_id",
        F.col("s.section_idx").alias("section_idx"),
        F.col("s.level").alias("level"),
        F.col("s.heading").alias("heading"),
        F.col("s.text").alias("text"),
        F.col("s.n_blocks").alias("n_blocks"),
    )


# --- JSON-LD structured data (schema.org) -------------------------------------

_JSONLD_RE = (
    r"(?is)<script\b[^>]*type\s*=\s*[\"']application/ld\+json[\"'][^>]*>"
    r"(.*?)</script>"
)


def _ld_str_field(raw: Column, key: str) -> Column:
    return F.regexp_extract(raw, rf'(?s)"{key}"\s*:\s*"([^"]*)"', 1)


def jsonld_blocks(
    docs: DataFrame, html_col: str = "html", id_col: str = "doc_id"
) -> DataFrame:
    """``<script type="application/ld+json">`` extraction — the
    schema.org metadata publishers actually maintain (often the ONLY
    reliable published-date/author source on real pages; trafilatura
    reads it for exactly that reason). Documented regex subset: the raw
    block is kept verbatim for downstream JSON parsing, and the four
    flat string fields curation keys on — ``@type``, ``headline``,
    ``author.name``-style nested values NOT chased — are lifted when they
    appear as top-level ``"key": "value"`` pairs: ld_type, headline,
    date_published (raw) and pub_date (normalized through
    :func:`links.web_date_iso` — one canonical YYYY-MM-DD next to the
    feed/meta dates). Blocks whose payload is blank drop.

    One narrow pass, one explode, no shuffle. Returns (doc_id, block_idx,
    ld_type, headline, date_published, pub_date, raw_json)."""
    from ocr_spark.operators.links import web_date_iso

    html = F.coalesce(F.col(html_col), F.lit(""))
    blocks = F.transform(
        F.regexp_extract_all(html, F.lit(_JSONLD_RE), 1),
        lambda b, i: F.struct(
            i.cast("int").alias("block_idx"), py_strip(b).alias("raw")
        ),
    )
    kept = F.filter(blocks, lambda s: s["raw"] != "")
    out = docs.select(F.col(id_col).alias("doc_id"), F.explode(kept).alias("b"))
    raw = F.col("b.raw")
    dp = _ld_str_field(raw, "datePublished")
    return out.select(
        "doc_id",
        F.col("b.block_idx").alias("block_idx"),
        _ld_str_field(raw, "@type").alias("ld_type"),
        _ld_str_field(raw, "headline").alias("headline"),
        dp.alias("date_published"),
        web_date_iso(dp).alias("pub_date"),
        raw.alias("raw_json"),
    )


# --- markdown emit (resiliparse/trafilatura-style structured output) ----------

# Ordered (pattern, replacement) chain shared verbatim with the DuckDB twin
# (entry_queries builds the SQL from this table) — patterns avoid every
# Java-regex/RE2 divergence: no backreferences in patterns, lazy
# quantifiers + inline (?is) flags only. Replacement syntax differs per
# engine ($1 vs \1), so replacements are stored with a {1}/{2} placeholder.
MD_CHAIN: tuple[tuple[str, str], ...] = (
    (r"(?is)<script\b[^>]*>.*?</script>", ""),
    (r"(?is)<style\b[^>]*>.*?</style>", ""),
    (r"(?s)<!--.*?-->", ""),
    (r'(?is)<a\b[^>]*\bhref="([^"]*)"[^>]*>(.*?)</a>', "[{2}]({1})"),
    (r"(?is)<(?:strong|b)\b[^>]*>(.*?)</(?:strong|b)>", "**{1}**"),
    (r"(?is)<(?:em|i)\b[^>]*>(.*?)</(?:em|i)>", "*{1}*"),
    (r"(?is)<code\b[^>]*>(.*?)</code>", "`{1}`"),
    (r"(?is)<h1\b[^>]*>(.*?)</h1>", "\n\n# {1}\n\n"),
    (r"(?is)<h2\b[^>]*>(.*?)</h2>", "\n\n## {1}\n\n"),
    (r"(?is)<h3\b[^>]*>(.*?)</h3>", "\n\n### {1}\n\n"),
    (r"(?is)<h4\b[^>]*>(.*?)</h4>", "\n\n#### {1}\n\n"),
    (r"(?is)<h5\b[^>]*>(.*?)</h5>", "\n\n##### {1}\n\n"),
    (r"(?is)<h6\b[^>]*>(.*?)</h6>", "\n\n###### {1}\n\n"),
    (r"(?is)<li\b[^>]*>(.*?)</li>", "\n- {1}"),
    (r"(?i)<br\s*/?>", "\n"),
    (
        r"(?i)</(?:p|div|ul|ol|table|tr|section|article|header|footer|blockquote)>",
        "\n\n",
    ),
    (r"(?s)<[^>]*>", ""),
    # five predefined entities, &amp; last (same discipline as feed parse)
    (r"&lt;", "<"),
    (r"&gt;", ">"),
    (r"&quot;", '"'),
    (r"&#39;", "'"),
    (r"&amp;", "&"),
    # whitespace discipline: collapse runs, trim around newlines, cap
    # blank runs at one empty line, global trim
    (r"[ \t]+", " "),
    (r" ?\n ?", "\n"),
    (r"\n{3,}", "\n\n"),
    (r"^\s+|\s+$", ""),
)


def html_to_markdown(html: Column) -> Column:
    """Markdown emit for extraction pipelines (the structured-output mode
    of resiliparse / trafilatura): headings -> #-prefixes, anchors ->
    [text](url), strong/em/code -> **/*/backtick, list items -> '- ',
    block closers -> paragraph breaks, then tag strip + entity decode +
    whitespace discipline. One whole-stage-codegen'd regexp chain — no
    DOM, no Python — shared verbatim (MD_CHAIN) with the DuckDB oracle.
    A documented SUBSET: double-quoted hrefs only, no CDATA, no nested
    same-tag occurrences inside a lazy group (real crawl HTML goes
    through the boilerplate extractors first; this emitter formats the
    kept content)."""
    t = F.coalesce(html, F.lit(""))
    for pat, repl in MD_CHAIN:
        t = F.regexp_replace(t, pat, repl.replace("{1}", "$1").replace("{2}", "$2"))
    return t
