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

Everything is a higher-order Column expression (no UDF, no parser
library): at 10^12 documents this runs inside whole-stage codegen on the
exploded corpus, and the DuckDB oracle replays every step bit-for-bit
(`__spark_entry__.oracle_sql()['html_extract']`).

The reference repo has no HTML path (it is an OCR/PDF service); this
module implements the north_star's HTML-boilerplate requirement from the
public Boilerpipe algorithm, not from reference code.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocr_spark.functions.text import py_strip
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

# NumWordsRulesClassifier thresholds (Kohlschütter et al., WSDM 2010;
# boilerpipe NumWordsRulesClassifier.java — public algorithm constants)
_CURR_LD_MAX = 0.333333
_PREV_LD_MAX = 0.555556


def html_blocks(html: Column) -> Column:
    """Array of per-block feature structs:
    (text, n_words, link_density, depth) — empty blocks dropped, document
    order preserved."""
    h = F.coalesce(html, F.lit(""))
    parts = F.split(h, BLOCK_TAG_RE)
    tags = F.regexp_extract_all(h, F.lit(BLOCK_TAG_RE), 0)

    # running depth computed ONCE per document: each boundary tag's ±1/0
    # delta is evaluated a single time (one rlike pair per tag, not per
    # tag×block), then folded into a prefix-sum array. The fold appends one
    # int per step — flat int copies, no re-evaluated lambdas — so
    # pathological HTML (10⁴+ boundary tags) stays linear in regex work
    # where the per-block slice-sum form was quadratic.
    deltas = F.transform(
        tags,
        lambda t: F.when(t.rlike(_DEPTH_OPEN_RE), F.lit(1))
        .when(t.rlike(_DEPTH_CLOSE_RE), F.lit(-1))
        .otherwise(F.lit(0)),
    )
    # prefix[i] (0-based) = depth before block i; prefix has n_tags+1
    # entries — exactly as many as `parts`, so it zips with the blocks.
    # It is passed to zip_with as an ARGUMENT (evaluated once per document),
    # never referenced inside a lambda body, where higher-order functions
    # re-evaluate the whole subtree per element.
    prefix = F.aggregate(
        deltas,
        F.array(F.lit(0)),
        lambda acc, d: F.concat(acc, F.array(F.element_at(acc, -1) + d)),
    )

    def block_struct(part: Column, depth: Column) -> Column:
        text = py_strip(F.regexp_replace(part, _TAG_RE, ""))
        anchor_text = F.array_join(
            F.transform(
                F.regexp_extract_all(part, F.lit(_ANCHOR_RE), 1),
                lambda a: F.regexp_replace(a, _TAG_RE, ""),
            ),
            "",
        )
        ld = F.when(
            F.length(text) > 0,
            F.least(F.length(anchor_text).cast("double") / F.length(text), F.lit(1.0)),
        ).otherwise(F.lit(0.0))
        return F.struct(
            text.alias("text"),
            word_count(text).alias("n_words"),
            ld.alias("link_density"),
            depth.alias("depth"),
        )

    all_blocks = F.zip_with(parts, prefix, lambda p, d: block_struct(p, d))
    return F.filter(all_blocks, lambda b: b["text"] != "")


def classify_blocks(blocks: Column) -> Column:
    """NumWordsRulesClassifier over (prev, curr, next) — returns a boolean
    array aligned with ``blocks`` (true = main content).

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

    Out-of-range neighbors count as empty blocks (0 words, 0 density).

    Neighbor access is SHIFTED-ZIP, not indexed lookup: an earlier form
    did ``F.get(blocks, i±1)`` inside the transform lambda, and a lambda
    body re-evaluates every non-lambda-variable subtree per ELEMENT —
    O(n²) in block count once ``blocks`` is a real expression. Here
    ``blocks`` appears only as zip_with/slice ARGUMENTS, each evaluated
    once per row."""
    n = F.size(blocks)
    pad = F.struct(
        F.lit("").alias("text"),
        F.lit(0).alias("n_words"),
        F.lit(0.0).alias("link_density"),
        F.lit(0).alias("depth"),
    )
    # blocks shifted right/left by one, padded with the empty block
    prev = F.when(n == 0, blocks).otherwise(
        F.concat(F.array(pad), F.slice(blocks, 1, n - 1))
    )
    nxt = F.when(n == 0, blocks).otherwise(
        F.concat(F.slice(blocks, 2, n - 1), F.array(pad))
    )
    curr_prev = F.zip_with(
        blocks, prev, lambda c, p: F.struct(c.alias("c"), p.alias("p"))
    )

    def decide(cp: Column, nx: Column) -> Column:
        curr_w = cp["c"]["n_words"]
        curr_ld = cp["c"]["link_density"]
        prev_w = cp["p"]["n_words"]
        prev_ld = cp["p"]["link_density"]
        next_w = nx["n_words"]
        return F.when(
            curr_ld <= _CURR_LD_MAX,
            F.when(
                prev_ld <= _PREV_LD_MAX,
                F.when(
                    curr_w <= 16,
                    F.when(next_w <= 15, prev_w > 4).otherwise(F.lit(True)),
                ).otherwise(F.lit(True)),
            ).otherwise(
                F.when(curr_w <= 40, next_w > 17).otherwise(F.lit(True))
            ),
        ).otherwise(F.lit(False))

    return F.zip_with(curr_prev, nxt, decide)


def extract_main_content(html: Column) -> dict[str, Column]:
    """Full pipeline → dict of output columns:
    main_text (fused content blocks), n_blocks, n_content_blocks,
    max_depth, boiler_chars (chars classified away)."""
    blocks = html_blocks(html)
    flags = classify_blocks(blocks)
    zipped = F.zip_with(blocks, flags, lambda b, f: F.struct(b.alias("b"), f.alias("keep")))
    content = F.filter(zipped, lambda z: z["keep"])
    main_text = F.array_join(F.transform(content, lambda z: z["b"]["text"]), "\n")
    boiler = F.filter(zipped, lambda z: ~z["keep"])
    return {
        "main_text": main_text,
        "n_blocks": F.size(blocks),
        "n_content_blocks": F.size(content),
        "max_depth": F.coalesce(
            F.array_max(F.transform(blocks, lambda b: b["depth"])), F.lit(0)
        ),
        "boiler_chars": F.coalesce(
            F.aggregate(
                boiler, F.lit(0), lambda acc, z: acc + F.length(z["b"]["text"])
            ),
            F.lit(0),
        ),
    }


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
    cols = extract_main_content(F.col(html_col))
    return docs.select(
        F.col(id_col),
        cols["main_text"].alias("main_text"),
        cols["n_blocks"].cast("int").alias("n_blocks"),
        cols["n_content_blocks"].cast("int").alias("n_content_blocks"),
        cols["max_depth"].cast("int").alias("max_depth"),
        cols["boiler_chars"].cast("long").alias("boiler_chars"),
        *[F.col(c) for c in keep_cols],
    )


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
# Spark plan shape: everything is per-row Column expressions — the only
# non-local structure, the open-container stack, is ONE linear
# F.aggregate fold per document (push on open, pop on close) producing
# the stack-before-each-block; candidate scoring folds reference the
# materialized `bs`/`tags` COLUMNS (cheap row-value reads), never an
# expression subtree, so nothing re-evaluates per candidate.  The DuckDB
# oracle derives the same stacks in closed form (an open tag j is still
# open before block i iff the running depth never dips below its level:
# min(D[j..i-1]) >= D[j]) — an independent formulation that must agree
# bit-for-bit, including on malformed HTML with unmatched close tags.

READABILITY_POSITIVE_RE = (
    r"(?i)article|body|content|entry|hentry|main|page|pagination|post|text|blog|story"
)
READABILITY_NEGATIVE_RE = (
    r"(?i)combx|comment|com-|contact|foot|footer|footnote|masthead|media|meta|"
    r"outbrain|promo|related|scroll|shoutbox|sidebar|sponsor|shopping|tags|tool|widget"
)
# script/style/comment strip happens BEFORE block split (readability.js
# removeScripts/prepDocument); no backreferences — the oracle's RE2 has none
SCRIPT_RE = r"(?is)<script\b[^>]*>.*?</script>"
STYLE_RE = r"(?is)<style\b[^>]*>.*?</style>"
HTML_COMMENT_RE = r"(?s)<!--.*?-->"
_CLASS_ATTR_RE = r'(?i)\bclass\s*=\s*"([^"]*)"'
_ID_ATTR_RE = r'(?i)\bid\s*=\s*"([^"]*)"'
MIN_PARA_CHARS = 25  # readability.js: paragraphs under 25 chars don't score


def _readability_block(part: Column, stack: Column) -> Column:
    """Per-block struct: text, chars, anchor chars, paragraph score, and
    the enclosing-container stack (innermost last, as open-tag indices)."""
    text = py_strip(F.regexp_replace(part, _TAG_RE, ""))
    anchor_text = F.array_join(
        F.transform(
            F.regexp_extract_all(part, F.lit(_ANCHOR_RE), 1),
            lambda a: F.regexp_replace(a, _TAG_RE, ""),
        ),
        "",
    )
    chars = F.length(text)
    commas = F.size(F.split(text, ",")) - 1
    pscore = F.when(chars < MIN_PARA_CHARS, F.lit(0)).otherwise(
        F.lit(1) + commas + F.least(F.floor(chars / F.lit(100.0)).cast("int"), F.lit(3))
    )
    return F.struct(
        text.alias("text"),
        chars.alias("chars"),
        F.length(anchor_text).alias("anchor"),
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
    h = F.coalesce(F.col(html_col), F.lit(""))
    clean = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(h, SCRIPT_RE, ""), STYLE_RE, ""),
        HTML_COMMENT_RE,
        "",
    )
    df = docs.select(
        F.col(id_col),
        F.split(clean, BLOCK_TAG_RE).alias("parts"),
        F.regexp_extract_all(clean, F.lit(BLOCK_TAG_RE), 0).alias("tags"),
        *[F.col(c) for c in keep_cols],
    )

    # one linear fold per document: stack of open container tag-indices
    # before each block (stacks[i] aligns with parts[i])
    deltas = F.transform(
        F.col("tags"),
        lambda t: F.when(t.rlike(_DEPTH_OPEN_RE), F.lit(1))
        .when(t.rlike(_DEPTH_CLOSE_RE), F.lit(-1))
        .otherwise(F.lit(0)),
    )
    idx = F.when(F.size("tags") > 0, F.sequence(F.lit(1), F.size("tags"))).otherwise(
        F.array().cast("array<int>")
    )
    steps = F.zip_with(deltas, idx, lambda d, j: F.struct(d.alias("d"), j.alias("j")))
    stacks = F.aggregate(
        steps,
        F.array(F.array().cast("array<int>")),
        lambda acc, s: F.concat(
            acc,
            F.array(
                F.when(
                    s["d"] == 1, F.concat(F.element_at(acc, -1), F.array(s["j"]))
                )
                .when(
                    (s["d"] == -1) & (F.size(F.element_at(acc, -1)) > 0),
                    F.slice(
                        F.element_at(acc, -1), 1, F.size(F.element_at(acc, -1)) - 1
                    ),
                )
                .otherwise(F.element_at(acc, -1))
            ),
        ),
    )
    df = df.withColumn("stacks", stacks)
    df = df.withColumn(
        "bs",
        F.filter(
            F.zip_with(F.col("parts"), F.col("stacks"), _readability_block),
            lambda b: b["text"] != "",
        ),
    )
    # candidates: each scoring paragraph registers its parent (owner) AND
    # grandparent container (readability.js scores both)
    df = df.withColumn(
        "cand_ids",
        F.array_distinct(
            F.filter(
                F.flatten(
                    F.transform(
                        F.col("bs"),
                        lambda b: F.when(
                            b["pscore"] > 0, F.array(b["owner"], b["parent"])
                        ).otherwise(F.array().cast("array<int>")),
                    )
                ),
                lambda x: x.isNotNull(),
            )
        ),
    )

    def _cand(c: Column) -> Column:
        bs = F.col("bs")
        own = F.aggregate(
            bs,
            F.lit(0).cast("long"),
            lambda a, b: a + F.when(b["owner"] == c, b["pscore"]).otherwise(0),
        )
        half = F.aggregate(
            bs,
            F.lit(0).cast("long"),
            lambda a, b: a + F.when(b["parent"] == c, b["pscore"]).otherwise(0),
        )
        sub_chars = F.aggregate(
            bs,
            F.lit(0).cast("long"),
            lambda a, b: a + F.when(F.array_contains(b["stack"], c), b["chars"]).otherwise(0),
        )
        sub_anchor = F.aggregate(
            bs,
            F.lit(0).cast("long"),
            lambda a, b: a + F.when(F.array_contains(b["stack"], c), b["anchor"]).otherwise(0),
        )
        ld = F.when(
            sub_chars > 0,
            F.least(sub_anchor.cast("double") / sub_chars.cast("double"), F.lit(1.0)),
        ).otherwise(F.lit(0.0))
        cw = _class_weight(F.element_at(F.col("tags"), c))
        score = (
            cw.cast("double") + own.cast("double") + half.cast("double") * F.lit(0.5)
        ) * (F.lit(1.0) - ld)
        # the container enclosing c = the element just below c in any stack
        # that contains c (fixed at push time, so any such block works);
        # candidates that own no blocks directly (grandparents) still have
        # at least one block whose stack passes through them
        fb = F.element_at(
            F.filter(bs, lambda b: F.array_contains(b["stack"], c)), 1
        )["stack"]
        pos = F.array_position(fb, c)
        parent = F.when(pos > 1, F.element_at(fb, (pos - 1).cast("int")))
        return F.struct(c.alias("c"), score.alias("score"), parent.alias("parent"))

    df = df.withColumn("cands", F.transform(F.col("cand_ids"), _cand))
    df = df.withColumn(
        "top_score", F.array_max(F.transform(F.col("cands"), lambda x: x["score"]))
    )
    df = df.withColumn(
        "top_c",
        F.array_min(
            F.transform(
                F.filter(F.col("cands"), lambda x: x["score"] == F.col("top_score")),
                lambda x: x["c"],
            )
        ),
    )
    df = df.withColumn(
        "top_parent",
        F.element_at(
            F.transform(
                F.filter(F.col("cands"), lambda x: x["c"] == F.col("top_c")),
                lambda x: x["parent"],
            ),
            1,
        ),
    )
    sibs = F.transform(
        F.filter(
            F.col("cands"),
            lambda d: (d["c"] != F.col("top_c"))
            & d["parent"].eqNullSafe(F.col("top_parent"))
            & (d["score"] >= F.greatest(F.lit(10.0), F.col("top_score") * F.lit(0.2))),
        ),
        lambda d: d["c"],
    )
    df = df.withColumn(
        "sel",
        F.when(
            F.col("top_c").isNotNull(), F.concat(F.array(F.col("top_c")), sibs)
        ).otherwise(F.array().cast("array<int>")),
    )
    main = F.when(
        F.size(F.col("sel")) > 0,
        F.array_join(
            F.transform(
                F.filter(
                    F.col("bs"),
                    lambda b: F.arrays_overlap(b["stack"], F.col("sel")),
                ),
                lambda b: b["text"],
            ),
            "\n",
        ),
    ).otherwise(
        # no scoring container anywhere: readability's body fallback
        F.array_join(F.transform(F.col("bs"), lambda b: b["text"]), "\n")
    )
    return df.select(
        F.col(id_col),
        main.alias("main_text"),
        F.coalesce(F.col("top_c"), F.lit(-1)).cast("int").alias("top_candidate"),
        F.coalesce(F.col("top_score"), F.lit(0.0)).alias("top_score"),
        F.size(F.col("cands")).cast("int").alias("n_candidates"),
        F.size(F.col("sel")).cast("int").alias("n_selected"),
        *[F.col(c) for c in keep_cols],
    )


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
# Each scan is ONE linear F.aggregate prefix fold per document (same
# pattern as html_blocks' depth prefix): the class array is the fold's
# ARGUMENT, evaluated once per row, never re-evaluated per element.

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


def _jt_block(part: Column, stopwords: list[str] | Column) -> Column:
    """Per-block features: text, chars, link chars, word count, stop count."""
    text = py_strip(F.regexp_replace(part, _TAG_RE, ""))
    anchor_text = F.array_join(
        F.transform(
            F.regexp_extract_all(part, F.lit(_ANCHOR_RE), 1),
            lambda a: F.regexp_replace(a, _TAG_RE, ""),
        ),
        "",
    )
    words = F.when(text == "", F.array().cast("array<string>")).otherwise(
        F.split(text, r"(?U)\s+")
    )
    stoplist = (
        stopwords
        if isinstance(stopwords, Column)
        else F.array(*[F.lit(w) for w in stopwords])
    )
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stoplist, F.lower(w))))
    return F.struct(
        text.alias("text"),
        F.length(text).alias("chars"),
        F.length(anchor_text).alias("link_chars"),
        F.size(words).alias("n_words"),
        n_stop.alias("n_stop"),
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


def _jt_scan_prev(cls: Column, keep: tuple[int, ...]) -> Column:
    """out[i] = nearest PRIOR class in ``keep`` (document start → BAD).
    One linear prefix fold; ``cls`` is referenced only as fold argument."""
    folded = F.aggregate(
        cls,
        F.array(F.lit(JT_BAD)),
        lambda acc, c: F.concat(
            acc,
            F.array(F.when(c.isin(*keep), c).otherwise(F.element_at(acc, -1))),
        ),
    )
    n = F.size(cls)
    return F.when(n == 0, cls).otherwise(F.slice(folded, 1, n))


def _jt_scan_next(cls: Column, keep: tuple[int, ...]) -> Column:
    """out[i] = nearest FOLLOWING class in ``keep`` (document end → BAD)."""
    return F.reverse(_jt_scan_prev(F.reverse(cls), keep))


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
    mixed corpus; it is materialized once per row before the per-block
    lambda so the stoplist CASE never re-evaluates per block."""
    if stopwords is None:
        stopwords = JUSTEXT_STOPLIST_EN
    if isinstance(stopwords, Column):
        docs = docs.withColumn("_jt_stop", stopwords)
        stopwords = F.col("_jt_stop")
    h = F.coalesce(F.col(html_col), F.lit(""))
    clean = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(h, SCRIPT_RE, ""), STYLE_RE, ""),
        HTML_COMMENT_RE,
        "",
    )
    df = docs.select(
        F.col(id_col),
        F.filter(
            F.transform(
                F.split(clean, BLOCK_TAG_RE), lambda p: _jt_block(p, stopwords)
            ),
            lambda b: b["text"] != "",
        ).alias("b"),
        *[F.col(c) for c in keep_cols],
    )
    df = df.withColumn("cls", F.transform(F.col("b"), _jt_cf_class))

    strict = (JT_BAD, JT_GOOD)
    loose = (JT_BAD, JT_NEARGOOD, JT_GOOD)
    df = (
        df.withColumn("ps", _jt_scan_prev(F.col("cls"), strict))
        .withColumn("ns", _jt_scan_next(F.col("cls"), strict))
        .withColumn("pl", _jt_scan_prev(F.col("cls"), loose))
        .withColumn("nl", _jt_scan_next(F.col("cls"), loose))
    )

    # SHORT pass (batch, reads the context-free classes):
    #   both strict neighbours good → good; both bad → bad; mixed → good
    #   iff a near-good sits between the short and its bad-side strict
    #   neighbour, else bad.
    def _short_rule(z: Column) -> Column:
        c, p, n, pl, nl = z["cls"], z["ps"], z["ns"], z["pl"], z["nl"]
        return F.when(c != JT_SHORT, c).otherwise(
            F.when((p == JT_GOOD) & (n == JT_GOOD), F.lit(JT_GOOD))
            .when((p == JT_BAD) & (n == JT_BAD), F.lit(JT_BAD))
            .when(
                ((p == JT_BAD) & (pl == JT_NEARGOOD))
                | ((n == JT_BAD) & (nl == JT_NEARGOOD)),
                F.lit(JT_GOOD),
            )
            .otherwise(F.lit(JT_BAD))
        )

    df = df.withColumn(
        "cls2",
        F.transform(
            F.arrays_zip(
                F.col("cls"), F.col("ps"), F.col("ns"), F.col("pl"), F.col("nl")
            ),
            _short_rule,
        ),
    )

    # NEAR-GOOD pass (closed form of the sequential loop — see module
    # comment): good iff either flanking strict neighbour is good.
    df = (
        df.withColumn("ps2", _jt_scan_prev(F.col("cls2"), strict))
        .withColumn("ns2", _jt_scan_next(F.col("cls2"), strict))
    )
    df = df.withColumn(
        "cls3",
        F.transform(
            F.arrays_zip(F.col("cls2"), F.col("ps2"), F.col("ns2")),
            lambda z: F.when(z["cls2"] != JT_NEARGOOD, z["cls2"]).otherwise(
                F.when(
                    (z["ps2"] == JT_GOOD) | (z["ns2"] == JT_GOOD), F.lit(JT_GOOD)
                ).otherwise(F.lit(JT_BAD))
            ),
        ),
    )

    zipped = F.zip_with(
        F.col("b"), F.col("cls3"), lambda b, c: F.struct(b.alias("b"), c.alias("c"))
    )
    good = F.filter(zipped, lambda z: z["c"] == JT_GOOD)
    main = F.array_join(F.transform(good, lambda z: z["b"]["text"]), "\n")
    boiler = F.filter(zipped, lambda z: z["c"] != JT_GOOD)
    return df.select(
        F.col(id_col),
        main.alias("main_text"),
        F.size(F.col("b")).cast("int").alias("n_blocks"),
        F.size(good).cast("int").alias("n_content_blocks"),
        F.coalesce(
            F.aggregate(
                boiler, F.lit(0).cast("long"), lambda a, z: a + z["b"]["chars"]
            ),
            F.lit(0).cast("long"),
        ).alias("boiler_chars"),
        *[F.col(c) for c in keep_cols],
    )


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

    One narrow expression pass — classification flags and unit features
    materialize once per row as columns (never re-evaluated inside the
    per-element lambdas), every fold is linear; no UDF, no shuffle, exact
    DuckDB twin (`oracle_sql()['html_spans']`)."""
    from ocr_spark.operators.links import tag_attr

    h = F.coalesce(F.col(html_col), F.lit(""))
    clean = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(h, SCRIPT_RE, ""), STYLE_RE, ""),
        HTML_COMMENT_RE,
        "",
    )

    def unit_of(part: Column) -> Column:
        text = py_strip(F.regexp_replace(part, _TAG_RE, ""))
        imgs = F.filter(
            F.transform(
                F.regexp_extract_all(part, F.lit(_IMG_TAG_RE), 0),
                lambda t: tag_attr(t, "src"),
            ),
            lambda s: s != "",
        )
        return F.struct(text.alias("text"), imgs.alias("imgs"))

    d0 = docs.select(
        F.col(id_col).alias("doc_id"),
        F.filter(
            F.transform(F.split(clean, BLOCK_TAG_RE), unit_of),
            lambda u: (u["text"] != "") | (F.size(u["imgs"]) > 0),
        ).alias("units"),
        classify_blocks(html_blocks(clean)).alias("flags"),
    )
    # prefix count of TEXT units before each unit (linear fold of flat int
    # appends — the html_blocks depth-prefix discipline); tidx[i] (0-based
    # entry i) = how many text units precede unit i+1
    deltas = F.transform(
        F.col("units"),
        lambda u: F.when(u["text"] != "", F.lit(1)).otherwise(F.lit(0)),
    )
    prefix = F.aggregate(
        deltas,
        F.array(F.lit(0)),
        lambda acc, d: F.concat(acc, F.array(F.element_at(acc, -1) + d)),
    )
    d1 = d0.withColumn(
        "tidx", F.slice(prefix, 1, F.size(F.col("units")))
    )
    # kept[i]: unit i is a text unit whose aligned classifier flag is true
    kept = F.zip_with(
        F.col("units"),
        F.col("tidx"),
        lambda u, t: (u["text"] != "")
        & F.coalesce(F.element_at(F.col("flags"), t + 1), F.lit(False)),
    )
    d2 = d1.withColumn("kept", kept)
    n = F.size(F.col("kept"))
    prev_kept = F.when(n == 0, F.col("kept")).otherwise(
        F.concat(F.array(F.lit(False)), F.slice(F.col("kept"), 1, n - 1))
    )
    next_kept = F.when(n == 0, F.col("kept")).otherwise(
        F.concat(F.slice(F.col("kept"), 2, n - 1), F.array(F.lit(False)))
    )
    d3 = d2.withColumn(
        "media_ok",
        F.zip_with(
            F.zip_with(
                F.col("kept"),
                prev_kept,
                lambda k, p: F.struct(k.alias("k"), p.alias("p")),
            ),
            next_kept,
            lambda kp, nx: kp["k"] | nx | kp["p"],
        ),
    )
    # media_ok is own-or-neighbour kept; restrict neighbour credit to
    # IMG-ONLY units at emission time (a boilerplate TEXT unit never emits
    # its images even next to content)
    empty_span = F.array().cast(
        "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    )

    def emit(i: Column) -> Column:
        u = F.element_at(F.col("units"), i)
        own = F.element_at(F.col("kept"), i)
        mok = F.element_at(F.col("media_ok"), i)
        media_keep = own | ((u["text"] == "") & mok)
        media = F.when(
            media_keep,
            F.transform(
                u["imgs"],
                lambda s: F.struct(
                    F.lit("media").alias("kind"),
                    F.lit("").alias("text"),
                    s.alias("media_ref"),
                    F.lit(-1).alias("offset"),
                ),
            ),
        ).otherwise(empty_span)
        text = F.when(
            own,
            F.array(
                F.struct(
                    F.lit("text").alias("kind"),
                    u["text"].alias("text"),
                    F.lit("").alias("media_ref"),
                    F.lit(-1).alias("offset"),
                )
            ),
        ).otherwise(empty_span)
        return F.concat(media, text)

    idx = F.when(n > 0, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )
    flat = F.flatten(F.transform(idx, emit))
    spans = F.transform(
        flat,
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            (i * stride).cast("int").alias("offset"),
        ),
    )
    return d3.select("doc_id", spans.alias("spans"))


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

    Mechanics mirror :func:`html_to_spans`: one block split, a linear
    prefix fold assigning each block its section id (count of heading
    blocks at-or-before it — a part is a heading iff its OPENING boundary
    tag is ``<hN>``), then a per-section fold; no UDF, no shuffle, one
    explode. Returns (doc_id, section_idx, level, heading, text,
    n_blocks)."""
    from ocr_spark.operators.links import xml_unescape

    h = F.coalesce(F.col(html_col), F.lit(""))
    clean = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(h, SCRIPT_RE, ""), STYLE_RE, ""),
        HTML_COMMENT_RE,
        "",
    )
    parts = F.split(clean, BLOCK_TAG_RE)
    tags = F.regexp_extract_all(clean, F.lit(BLOCK_TAG_RE), 0)
    # opener[i] = the boundary tag right before part i ('' for part 0)
    openers = F.concat(F.array(F.lit("")), tags)

    def unit(p: Column, o: Column) -> Column:
        lvl = F.regexp_extract(o, _H_OPEN_RE, 1)
        return F.struct(
            xml_unescape(py_strip(F.regexp_replace(p, _TAG_RE, ""))).alias(
                "text"
            ),
            (lvl != "").alias("is_h"),
            F.coalesce(lvl.try_cast("int"), F.lit(0)).alias("level"),
        )

    units0 = F.zip_with(parts, openers, unit)
    d0 = docs.select(
        F.col(id_col).alias("doc_id"),
        F.filter(units0, lambda u: u["text"] != "").alias("units"),
    )
    # sid[i] = number of heading units at-or-before unit i (linear fold)
    deltas = F.transform(
        F.col("units"),
        lambda u: F.when(u["is_h"], F.lit(1)).otherwise(F.lit(0)),
    )
    # fold the TAIL (slice is 1-based: start 2 = everything after the
    # first element) onto the first delta — sid[i] = headings at-or-before
    sids = F.aggregate(
        F.slice(deltas, 2, F.greatest(F.size(deltas) - 1, F.lit(0))),
        F.array(F.get(deltas, 0)),
        lambda acc, d: F.concat(acc, F.array(F.element_at(acc, -1) + d)),
    )
    d1 = d0.withColumn(
        "sids", F.when(F.size("units") == 0, F.array().cast("array<int>")).otherwise(sids)
    )
    n_h = F.coalesce(F.element_at(F.col("sids"), -1), F.lit(0))

    # (unit, sid) pairs materialized ONCE per row as a column — the
    # per-section lambda below sees a cheap bound reference, not a
    # re-evaluated zip_with subtree (H sections x n units stays O(H*n)
    # array scans, no expression re-execution)
    d1 = d1.withColumn(
        "zu",
        F.zip_with(
            F.col("units"),
            F.col("sids"),
            lambda u, i: F.struct(u.alias("u"), i.alias("i")),
        ),
    )

    def section(s: Column) -> Column:
        head = F.get(
            F.filter(F.col("zu"), lambda z: z["u"]["is_h"] & (z["i"] == s)),
            F.lit(0),
        )
        body = F.filter(F.col("zu"), lambda z: ~z["u"]["is_h"] & (z["i"] == s))
        text = F.array_join(F.transform(body, lambda z: z["u"]["text"]), "\n")
        return F.struct(
            s.cast("int").alias("section_idx"),
            F.coalesce(head["u"]["level"], F.lit(0)).alias("level"),
            F.coalesce(head["u"]["text"], F.lit("")).alias("heading"),
            text.alias("text"),
            F.size(body).cast("int").alias("n_blocks"),
        )

    secs = F.filter(
        F.transform(F.sequence(F.lit(0), n_h), section),
        lambda x: (x["heading"] != "") | (x["text"] != ""),
    )
    out = d1.select("doc_id", F.explode(secs).alias("s"))
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
