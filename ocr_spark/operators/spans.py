"""Span pipeline core (north_rule): the span format, tokenize/classify →
salted assembly, and the span operators over the interleaved shape.

The span format, owned here (every other module calls the helpers below):
    an interleaved document is ``(doc_id, spans array<struct<kind, text,
    media_ref, offset>>)`` (:data:`SPANS_TYPE`). The canonical span order
    is the tuple (offset, kind, text, media_ref), null fields first — a
    total order, so spans that share an offset still order the same way
    in every operator and on every input order. The helpers:
    :func:`span_key` (a span as the struct whose natural order is the
    canonical one), :func:`span_order` (an array sorted by it),
    :func:`span_rank` (the same order over span rows, as the dense
    0-based re-rank), :func:`span_rows` (the one
    explode of a span array into span rows) and :func:`spans_or_empty`
    (null → empty array). Operators that emit assembled documents give
    ``array<struct<kind, text, media_ref, order>>``, order the 0-based
    canonical position (:func:`_numbered`). The streaming twin,
    ``streaming/spans._emit``, sorts with the same rule in pandas.

Stage 1 — tokenize/classify (NARROW, JVM expressions):
    explode the span array → one row per span; compute per-span features
    (language, word count, link density, boilerplate flag). Exploding puts
    span-level work on span-level rows, so a 10^6-span mega-document is
    balanced across tasks instead of being one giant array in one row.

Stage 2 — span assembly (one SHUFFLE, routed by document size):
    :func:`classify_and_assemble` routes whole documents on their span
    count before the explode. A document of up to BIG_DOC_SPANS spans
    takes a single groupBy(doc_id) that sorts inside the aggregation. A
    larger one takes the salted path: groupBy(doc_id, salt) where salt =
    floor(offset / SPAN_SALT_CHUNK) pre-aggregates offset-contiguous
    chunks, so a mega-document spreads over many reducers (AQE cannot
    split a skewed aggregation, so we salt explicitly, SURVEY.md §4), and
    a cheap second groupBy(doc_id) merges the few pre-sorted chunks per
    document: chunks are sorted by salt and flattened, with no re-sort of
    individual spans.

Span operators (:func:`coalesce_spans`, :func:`span_language_runs`,
:func:`filter_spans_quality`, ...) read one row per document and work
inside its span array, whatever the document's size; only
:func:`span_kind_transitions` aggregates across documents.

Boilerplate classifier (main-content extraction, Boilerpipe-style
NumWords/LinkDensity rules — Kohlschütter et al., WSDM 2010 — made
deterministic):
    a text span is boilerplate iff
      - its link density (chars inside <a …>…</a> tags / total chars) is
        > BOILERPLATE_MAX_LINK_DENSITY, or
      - it matches a nav/footer marker pattern (©, 'all rights reserved',
        cookie/privacy/menu prefixes), or
      - it has fewer than BOILERPLATE_MIN_WORDS words AND contains a link.
    media spans are never boilerplate (they are content by definition).

    Evaluation order: ``marker | (ld > 0 & (ld > MAX | words < MIN))``.
    This is the rule above exactly: ``ld > MAX`` implies ``ld > 0``
    (MAX >= 0), and the link density, the marker and the word count are
    never null (a null text reads as ""), so no three-valued case differs.
    The conjunction stops at ``ld > 0``, so the word count
    (:func:`word_count`) runs only for spans that contain a link — about
    one span in nine on the benchmark corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ocr_spark import config
from ocr_spark.functions.text import let, line_language, nearest, py_strip, runs

_LINK_RE = r"<a[^>]*>.*?</a>"

SPANS_TYPE = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
_OUT_SPAN_TYPE = "array<struct<kind:string,text:string,media_ref:string,order:int>>"
# the canonical span order: the sort key's fields, most significant first
SPAN_ORDER = ("offset", "kind", "text", "media_ref")


def spans_or_empty(spans: Column) -> Column:
    """The span array, null → an empty one."""
    return F.coalesce(spans, F.array().cast(SPANS_TYPE))


def span_key(s: Column | None = None) -> Column:
    """The span struct ``s`` — or, with no argument, the current span
    row's columns — as the struct whose natural order is the canonical
    span order."""
    return F.struct(*[(F.col(f) if s is None else s[f]).alias(f) for f in SPAN_ORDER])


def span_order(spans: Column) -> Column:
    """A span array in canonical order, each span as its :func:`span_key`."""
    return F.sort_array(F.transform(spans, lambda s: span_key(s)))


def span_rank() -> Column:
    """A span row's dense 0-based position in its document (``doc_id``),
    in canonical order (a BIGINT ``ord``)."""
    return (F.row_number().over(Window.partitionBy("doc_id").orderBy(*SPAN_ORDER)) - 1).cast("long")


def span_rows(docs: DataFrame, id_col: str = "doc_id", spans_col: str = "spans") -> DataFrame:
    """One row per span of the span array: (doc_id, kind, text, media_ref,
    offset). A null or empty array gives no rows."""
    # no alias on a column already named doc_id: it would stay in the plan
    doc_id = F.col(id_col) if id_col == "doc_id" else F.col(id_col).alias("doc_id")
    return docs.select(doc_id, F.explode(spans_col).alias("span")).select(
        "doc_id", "span.kind", "span.text", "span.media_ref", "span.offset"
    )


def _numbered(ordered: Column) -> Column:
    """Ordered spans → the output spans, each with its 0-based position
    as ``order``."""
    return F.transform(
        ordered,
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("order"),
        ),
    ).cast(_OUT_SPAN_TYPE)


def link_density(text: Column) -> Column:
    """Chars inside anchor tags / total chars (0.0 for empty)."""
    t = F.coalesce(text, F.lit(""))
    link_chars = F.aggregate(
        F.regexp_extract_all(t, F.lit(_LINK_RE), 0),
        F.lit(0),
        lambda acc, m: acc + F.length(m),
    )
    return F.when(F.length(t) > 0, link_chars.cast("double") / F.length(t)).otherwise(F.lit(0.0))


def word_count(text: Column) -> Column:
    """Words of the text, ``len(re.split(r"\\s+", s))`` of the stripped
    text ``s`` (0 when it is empty), counted as its whitespace runs + 1.

    :func:`py_strip` removes exactly the 25 code points that Java's
    ``(?U)\\s`` matches, so a stripped text neither starts nor ends with
    a run and n runs separate n + 1 words. ``regexp_count`` compiles its
    pattern once per task; ``size(split(...))`` gave the same count but
    compiled the pattern again on every row (``String.split``)."""
    s = py_strip(text)
    return F.when(s == "", F.lit(0)).otherwise(F.regexp_count(s, F.lit(r"(?U)\s+")) + 1)


def is_boilerplate(text: Column) -> Column:
    """Deterministic Boilerpipe-style rule set (module docstring), in the
    evaluation order given there: the word count runs only for a span
    that holds a link."""
    ld = link_density(text)
    marker = py_strip(text).rlike(config.BOILERPLATE_MARKER_PATTERN)
    return marker | (
        (ld > 0.0)
        & ((ld > config.BOILERPLATE_MAX_LINK_DENSITY) | (word_count(text) < config.BOILERPLATE_MIN_WORDS))
    )


def classify_spans(docs: DataFrame) -> DataFrame:
    """Stage 1: explode + per-span features. Narrow — no shuffle.

    Input:  (doc_id, spans array<struct<kind,text,media_ref,offset>>)
    Output: (doc_id, kind, text, media_ref, offset, is_boilerplate)
    """
    return span_rows(docs).withColumn(
        "is_boilerplate",
        F.when(F.col("kind") == "media", F.lit(False)).otherwise(is_boilerplate(F.col("text"))),
    )


def classify_and_assemble(
    docs: DataFrame,
    drop_boilerplate: bool = True,
    salt_chunk: int = config.SPAN_SALT_CHUNK,
    big_doc_spans: int = config.BIG_DOC_SPANS,
) -> DataFrame:
    """Stages 1 and 2 on array-shaped input, routing whole documents.

    Input:  (doc_id, spans array<struct<kind,text,media_ref,offset>>)
    Output: as :func:`assemble_spans`.

    A document row carries all its spans, so documents are routed before
    the explode: the ids of rows with a span number ``big_doc_spans + 1``
    (see :func:`_route_documents`) go through a broadcast ``left_semi``
    join to the salted path, all other rows through a ``left_anti`` join
    to the single-phase path. Each span is exploded and classified once,
    and no count pre-pass runs over span rows. Routing by id keeps every
    row of one ``doc_id`` on one side, so duplicate-id rows still merge
    into one output row; a null ``doc_id`` matches no id and takes the
    single-phase path. The raw span count routes: a document that keeps at most
    ``big_doc_spans`` spans after boilerplate removal may still take the
    salted path, which gives the same output. ``big_doc_spans=0`` sends
    every non-empty document through the salted path.

    Skew strategy (measured in tools/skew_bench.py): the salted two-phase
    aggregation costs a second full-data shuffle (~3× overhead on normal
    corpora) but is the only thing keeping a 10^6+-span mega-document from
    owning one reducer (2.1× faster at 3M spans, and an OOM-guard beyond).
    So only documents above ``big_doc_spans`` take it. The big-doc id set
    is long-tail by definition → broadcastable.

    Cost model: the upstream (one row per document) is evaluated by each
    branch and by the id side, but never exploded or classified twice —
    cheap when it is a parquet scan + expressions. If it is an EXPENSIVE
    Arrow-UDF stage (OCR, image decode), persist/checkpoint it first.
    """

    def kept(d: DataFrame) -> DataFrame:
        classified = classify_spans(d)
        return classified.filter(~F.col("is_boilerplate")) if drop_boilerplate else classified

    small_docs, big_docs = _route_documents(docs, big_doc_spans)
    small = _assemble_single_phase(kept(small_docs))
    big = _assemble_salted(kept(big_docs), salt_chunk)
    return small.unionByName(big)


def _route_documents(docs: DataFrame, big_doc_spans: int) -> tuple[DataFrame, DataFrame]:
    """(rows of documents with no row above ``big_doc_spans`` spans, rows
    of documents with one), split by doc_id, not by row.

    A big row is found by exploding its span number ``big_doc_spans + 1``
    (a row with fewer spans explodes to nothing), not by a filter on
    ``size(spans)``: the optimizer pushes a filter down through the
    projections that built ``spans`` and inlines them into the predicate,
    duplicating every expression a projection shares (on the WARC bridge,
    ``html_to_spans`` became a 350 KB predicate and a 10x slower pass)."""
    big_ids = F.broadcast(
        docs.select("doc_id", F.explode(F.slice("spans", big_doc_spans + 1, 1))).select("doc_id")
    )
    return docs.join(big_ids, "doc_id", "left_anti"), docs.join(big_ids, "doc_id", "left_semi")


def assemble_spans(
    classified: DataFrame,
    drop_boilerplate: bool = True,
    salt_chunk: int = config.SPAN_SALT_CHUNK,
) -> DataFrame:
    """Stage 2 on row-shaped input (one row per span, as
    :func:`classify_spans` gives): reassembly into ordered span sequences.

    Output: (doc_id, spans array<struct<kind,text,media_ref,order>>)
    with order = 0-based rank of offset among the document's kept spans —
    the span-sequence-equality contract (kind, text, media_ref, order).

    Span rows carry no per-document span count, so nothing is routed here:
    every document takes the salted two-phase aggregation, which holds for
    any document size. The pipeline runs :func:`classify_and_assemble`,
    which routes whole documents before the explode; this is the
    row-shaped form that streaming assembly and the tests compare against.
    """
    kept = classified.filter(~F.col("is_boilerplate")) if drop_boilerplate else classified
    return _assemble_salted(kept, salt_chunk)


def _assemble_single_phase(kept: DataFrame) -> DataFrame:
    """One shuffle: groupBy(doc_id) + sort inside the aggregation, in
    canonical order — identical to the chunked path."""
    merged = kept.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(span_key())).alias("ordered")
    )
    return merged.select(
        "doc_id",
        _numbered(F.col("ordered")).alias("spans"),
    )


def _assemble_salted(kept: DataFrame, salt_chunk: int) -> DataFrame:
    chunked = (
        kept.withColumn("salt", (F.col("offset") / F.lit(salt_chunk)).cast("long"))
        .groupBy("doc_id", "salt")
        .agg(
            F.sort_array(F.collect_list(span_key())).alias("chunk")
        )
    )

    merged = chunked.groupBy("doc_id").agg(
        F.flatten(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("salt").alias("salt"), F.col("chunk").alias("chunk"))),
                    lambda a, b: F.when(a["salt"] < b["salt"], F.lit(-1))
                    .when(a["salt"] > b["salt"], F.lit(1))
                    .otherwise(F.lit(0)),
                ),
                lambda s: s["chunk"],
            )
        ).alias("ordered")
    )

    return merged.select(
        "doc_id",
        _numbered(F.col("ordered")).alias("spans"),
    )


def span_language_runs(
    docs: DataFrame, id_col: str = "doc_id", spans_col: str = "spans"
) -> DataFrame:
    """Language segmentation of interleaved documents: contiguous runs of
    same-language TEXT spans (per-span language from the pdf-path line
    heuristic, functions.text.line_language) become segments — the
    multilingual-curation unit (per-segment language filters, translation-
    pair mining, per-language token budgets) for corpora where documents
    interleave languages mid-stream. Media spans are transparent: they
    neither carry a language nor break a run.

    Plan: one narrow expression per row — the non-media spans in canonical
    order, each tagged with its language once, cut into runs by
    :func:`~ocr_spark.functions.text.runs` — then one explode. No window,
    no aggregation, no shuffle; a mega-document costs its own array length.
    Each input row is one document: two rows that share a ``doc_id`` (or
    whose ``doc_id`` is null) give their runs per row, not merged.

    Returns (doc_id, run_id, lang, n_spans, first_offset, last_offset,
    text = space-joined run text)."""
    tagged = F.transform(
        span_order(F.filter(F.col(spans_col), lambda s: s["kind"] != "media")),
        lambda s: F.struct(
            s["offset"].alias("offset"),
            s["text"].alias("text"),
            line_language(s["text"]).alias("lang"),
        ),
    )

    def segment(run: Column, j: Column) -> Column:
        offsets = F.transform(run, lambda s: s["offset"])
        return F.struct(
            (j + 1).cast("long").alias("run_id"),
            run[0]["lang"].alias("lang"),
            F.size(run).cast("long").alias("n_spans"),
            F.array_min(offsets).cast("long").alias("first_offset"),
            F.array_max(offsets).cast("long").alias("last_offset"),
            F.concat_ws(" ", F.transform(run, lambda s: s["text"])).alias("text"),
        )

    segments = runs(tagged, lambda a, b: a["lang"] == b["lang"], segment)
    return docs.select(F.col(id_col).alias("doc_id"), F.explode(segments).alias("r")).select(
        "doc_id", "r.*"
    )


def spans_to_markdown(
    docs: DataFrame, id_col: str = "doc_id", spans_col: str = "spans"
) -> DataFrame:
    """Render interleaved documents as markdown — the trainer/reader
    export format for the extraction pipeline's output: text spans become
    paragraphs (blank-line separated), media spans become image links
    (``![media](ref)``) at their exact interleave position, so the
    document reads top-to-bottom exactly as extracted. Pure array
    expressions over the span array — no explode, no shuffle; spans render
    in canonical order.

    Returns (doc_id, markdown, n_text, n_media)."""
    spans = F.col(spans_col)
    rendered = F.transform(
        span_order(spans),
        lambda s: F.when(
            s["kind"] == "media",
            F.concat(F.lit("!["), s["kind"], F.lit("]("),
                     F.coalesce(s["media_ref"], F.lit("")), F.lit(")")),
        ).otherwise(F.coalesce(s["text"], F.lit(""))),
    )
    n_of = lambda k: F.size(F.filter(spans, lambda s: s["kind"] == k))  # noqa: E731
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.array_join(F.filter(rendered, lambda t: t != ""), "\n\n").alias("markdown"),
        n_of("text").cast("long").alias("n_text"),
        F.size(F.filter(spans, lambda s: s["kind"] == "media")).cast("long").alias("n_media"),
    )


# --- span-level quality gate (C4 line rules on the interleaved shape) --------

# C4's line-level blocklist (Raffel 2020 §2.2: "javascript", boilerplate
# notices) plus the lorem-ipsum rule; applied per SPAN so one bad
# paragraph never condemns the whole interleaved document
C4_SPAN_BLOCKLIST_RE = (
    r"(?i)javascript|lorem ipsum|all rights reserved|copyright"
)
TERMINAL_PUNCT_RE = r'[.!?"]\s*$'


def filter_spans_quality(
    docs: DataFrame,
    id_col: str = "doc_id",
    spans_col: str = "spans",
    min_words: int = 3,
    require_terminal_punct: bool = False,
) -> DataFrame:
    """Span-level quality gate on the interleaved corpus: C4's line rules
    (>= min_words words, no curly braces — code/JSON fragments, none of the
    blocklist phrases, optionally terminal punctuation) applied per TEXT
    span, dropping failing spans WITHOUT flattening the document — the
    clean-in-place complement to document-level ``c4_filters``. Media spans
    carry no text to judge; a media RUN (consecutive media spans) survives
    iff the nearest text span on either side of the run survived — the same
    keep policy ``boilerplate.html_to_spans`` uses at extraction time, so a
    figure illustrating a kept paragraph stays and a gallery stranded in
    dropped boilerplate goes. Surviving spans re-rank densely.

    Plan shape: pure array expressions per row — span classification is one
    transform, run adjacency is TWO LINEAR ``F.aggregate`` folds (forward /
    backward nearest-non-media state, the jusText scan discipline: features
    materialize once as columns, folds read them, nothing re-evaluates per
    element), then one posexplode. No join, no shuffle; skew is bounded by
    document size like every span operator.

    Returns exploded kept spans (doc_id, kind, text, media_ref, ord)."""

    def passes(t: Column) -> Column:
        t = F.coalesce(t, F.lit(""))
        ok = (
            (word_count(t) >= min_words)
            & ~t.rlike(r"[{}]")
            & ~t.rlike(C4_SPAN_BLOCKLIST_RE)
        )
        if require_terminal_punct:
            ok = ok & t.rlike(TERMINAL_PUNCT_RE)
        return ok

    # cls: 2 = media, 1 = kept text, 0 = dropped text — over the
    # MATERIALIZED ss column, so classification runs once per span
    cls = F.transform(
        F.col("ss"),
        lambda s: F.when(s["kind"] == "media", F.lit(2))
        .when(passes(s["text"]), F.lit(1))
        .otherwise(F.lit(0)),
    )

    # prev / nxt: the class of the nearest text span before / after each
    # media span (-1 when none)
    near = nearest(F.col("cls"), F.lit(-1), lambda c: F.when(c != 2, c))
    d1 = docs.select(
        F.col(id_col).alias("doc_id"), span_order(F.col(spans_col)).alias("ss")
    ).select("doc_id", "ss", cls.alias("cls"))
    d2 = d1.select("doc_id", "ss", "cls", near["p"].alias("prev"), near["n"].alias("nxt"))
    keep = F.transform(
        F.col("ss"),
        lambda s, i: F.when(F.col("cls")[i] == 1, F.lit(True))
        .when(
            (F.col("cls")[i] == 2)
            & ((F.col("prev")[i] == 1) | (F.col("nxt")[i] == 1)),
            F.lit(True),
        )
        .otherwise(F.lit(False)),
    )
    kept = F.filter(
        F.zip_with(F.col("ss"), keep, lambda s, k: F.when(k, s)),
        lambda x: x.isNotNull(),
    )
    return d2.select("doc_id", F.posexplode(kept).alias("ord", "s")).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("ord").cast("long").alias("ord"),
    )


def coalesce_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    spans_col: str = "spans",
    joiner: str = "\n",
) -> DataFrame:
    """Span-sequence normalization for the interleaved shape: drop
    whitespace-only text spans, merge runs of ADJACENT text spans into one
    span (texts joined by ``joiner``, media_ref of the first), keep every
    other span as-is, reindex order 0..n-1 — the canonicalization pass
    between an extractor (whose DOM walk emits fragmented text nodes) and
    everything downstream that assumes one span per content block
    (packing, dedup, markdown render).

    Input:  (id_col, spans array<struct<kind,text,media_ref,offset>>)
    Output: (id_col, spans array<struct<kind,text,media_ref,order>>)

    Spans merge in canonical order; duplicate (offset, kind, text,
    media_ref) tuples merge like any other adjacent text spans.

    Plan: one narrow expression per row, whatever the document's size —
    canonical sort → blank filter → :func:`~ocr_spark.functions.text.runs`
    (a run continues while it and its predecessor are both ``text``) → one
    merged span per run. Linear in the spans; no explode, no window, no
    shuffle. Each input row is one document: two rows that share a
    ``doc_id`` (or whose ``doc_id`` is null) give one output row each, not
    one merged row."""
    kept = F.filter(
        span_order(spans_or_empty(F.col(spans_col))),
        lambda s: (s["kind"] == "media") | (py_strip(s["text"]) != ""),
    )

    def merged(run: Column, _j: Column) -> Column:
        head = run[0]
        return F.struct(
            head["kind"].alias("kind"),
            F.when(
                head["kind"] == "text",
                F.array_join(F.transform(run, lambda s: s["text"]), joiner),
            ).otherwise(head["text"]).alias("text"),
            head["media_ref"].alias("media_ref"),
        )

    text_runs = runs(kept, lambda a, b: (a["kind"] == "text") & (b["kind"] == "text"), merged)
    return docs.select(F.col(id_col).alias("doc_id"), _numbered(text_runs).alias("spans"))


def truncate_spans(
    docs: DataFrame,
    max_tokens: int = 2048,
    media_tokens: int = 256,
    id_col: str = "doc_id",
    spans_col: str = "spans",
) -> DataFrame:
    """Context-window truncation at SPAN granularity on the interleaved
    shape: keep the canonical-ordered prefix of spans whose cumulative
    token cost fits ``max_tokens``, drop the tail whole — no mid-span cut
    (a torn sentence, or an image whose budget was charged but whose
    tokens never arrive, is worse than a slightly shorter document).
    Token accounting is pack_interleaved's: text spans cost their BPE-ish
    sub-token count, media spans a fixed ``media_tokens`` budget.

    One narrow expression chain per document: sort the spans array in
    canonical order, one LINEAR fold
    carries (running total, kept-prefix length) — the running total is
    monotone, so the kept count is a prefix property and never needs a
    second pass — then slice. No explode, no shuffle.

    Returns exploded kept spans with their cost:
    (doc_id, kind, text, media_ref, ord, span_tokens). Documents whose
    FIRST span already exceeds the budget emit no rows."""
    from ocr_spark.operators.textstats import token_count_bpe

    ordered = span_order(spans_or_empty(F.col(spans_col)))

    def cost(s):
        return (
            F.when(s["kind"] == "text", token_count_bpe(s["text"]).cast("long"))
            .otherwise(F.lit(int(media_tokens)).cast("long"))
        )

    kept_n = F.aggregate(
        ordered,
        F.struct(
            F.lit(0).cast("long").alias("cum"), F.lit(0).cast("int").alias("n")
        ),
        lambda acc, s: F.struct(
            (acc["cum"] + cost(s)).alias("cum"),
            (
                acc["n"]
                + F.when(acc["cum"] + cost(s) <= max_tokens, 1).otherwise(0)
            ).cast("int").alias("n"),
        ),
        lambda acc: acc["n"],
    )
    kept = F.slice(ordered, 1, kept_n)
    out = F.transform(
        kept,
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("long").alias("ord"),
            cost(s).alias("span_tokens"),
        ),
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(out).alias("s"))
        .select(
            "doc_id", "s.kind", "s.text", "s.media_ref", "s.ord", "s.span_tokens"
        )
    )


def span_kind_transitions(
    docs: DataFrame,
    id_col: str = "doc_id",
    spans_col: str = "spans",
) -> DataFrame:
    """Corpus-level span-KIND transition statistics over the interleave
    order — the Markov profile of how text and media alternate (the
    text→image→text rhythm an interleaved training mix is tuned against,
    cf. OBELICS, Laurençon et al. 2023 §3). Each document contributes the
    adjacent-kind pairs of its canonically ordered span sequence, with BOS
    / EOS sentinels so document boundaries count as transitions too.

    Plan shape: per row, one sort + one zip_with of the kinds array with
    its own shift builds the pair list — narrow, no explode until pairs
    exist, skew bounded by document size. The ONLY shuffle is the final
    groupBy over (src_kind, dst_kind): at most (k+2)^2 groups for k span
    kinds, so the aggregation is all map-side partials into a handful of
    reducer rows, and the per-src window runs on that tiny result.
    Documents with an empty span array contribute nothing.

    Returns (src_kind, dst_kind, n, p_milli) — p_milli the integer-exact
    floor((n*1000)/total outgoing from src): milli-probabilities stay
    BIGINT, never IEEE, so the row is engine-portable by construction."""
    spans = F.col(spans_col)
    kinds = F.transform(span_order(spans), lambda s: s["kind"])
    ks = F.concat(F.array(F.lit("BOS")), kinds, F.array(F.lit("EOS")))
    pairs = F.zip_with(
        F.slice(ks, 1, F.size(ks) - 1),
        F.slice(ks, 2, F.size(ks) - 1),
        lambda a, b: F.struct(a.alias("src_kind"), b.alias("dst_kind")),
    )
    cnt = (
        docs.filter(F.size(spans) > 0)
        .select(F.explode(pairs).alias("p"))
        .groupBy(
            F.col("p.src_kind").alias("src_kind"),
            F.col("p.dst_kind").alias("dst_kind"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return cnt.select(
        "src_kind",
        "dst_kind",
        "n",
        F.expr("(n * 1000L) DIV sum(n) OVER (PARTITION BY src_kind)")
        .cast("long")
        .alias("p_milli"),
    )


# OBELICS-shape interleaved document gate (Laurençon et al. 2023 §3.3's
# spirit, deterministic constants): a document is a useful interleaved
# training example iff it has at least one media span but is not a gallery
# (media count / density capped), no long uninterrupted media run, and
# enough actual text to ground the media.
INTERLEAVE_MAX_MEDIA = 32
INTERLEAVE_MAX_MEDIA_RUN = 4
INTERLEAVE_MIN_WORDS = 10


def _interleave_features(ss: Column) -> dict[str, Column]:
    """(n_spans, n_media, words, max_media_run) off a canonical-ordered
    span array — works on a materialized column or a let-bound lambda
    variable alike."""
    n_spans = F.size(ss).cast("long")
    n_media = F.size(F.filter(ss, lambda s: s["kind"] == "media")).cast("long")
    words = F.aggregate(
        ss,
        F.lit(0).cast("long"),
        lambda acc, s: acc
        + F.when(s["kind"] == "media", F.lit(0)).otherwise(
            word_count(s["text"]).cast("long")
        ),
    )
    run = F.aggregate(
        ss,
        F.struct(
            F.lit(0).cast("long").alias("cur"), F.lit(0).cast("long").alias("best")
        ),
        lambda acc, s: F.struct(
            F.when(s["kind"] == "media", acc["cur"] + 1)
            .otherwise(F.lit(0).cast("long"))
            .alias("cur"),
            F.greatest(
                acc["best"],
                F.when(s["kind"] == "media", acc["cur"] + 1).otherwise(
                    F.lit(0).cast("long")
                ),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return {"n_spans": n_spans, "n_media": n_media, "words": words, "max_media_run": run}


def _interleave_keep(
    f: dict[str, Column], max_media: int, max_media_run: int, min_words: int
) -> Column:
    return (
        (f["n_media"] >= 1)
        & (f["n_media"] <= max_media)
        & (f["max_media_run"] <= max_media_run)
        & (f["words"] >= min_words)
        & (f["n_media"] * 2 <= f["n_spans"])
    )


def interleave_keep_expr(
    spans_col: str = "spans",
    max_media: int = INTERLEAVE_MAX_MEDIA,
    max_media_run: int = INTERLEAVE_MAX_MEDIA_RUN,
    min_words: int = INTERLEAVE_MIN_WORDS,
) -> Column:
    """:func:`filter_interleaved_docs`'s keep verdict as ONE per-row
    boolean expression — the gating form a pipeline uses in a filter()
    with no join and no second pass over the corpus (extract_job
    --interleave-gate). The sorted span array is bound once with ``let``
    so the sort never re-runs per fold. Empty span arrays gate to False."""

    def keep(ss: Column) -> Column:
        f = _interleave_features(ss)
        return (f["n_spans"] > 0) & _interleave_keep(
            f, max_media, max_media_run, min_words
        )

    return let(span_order(F.col(spans_col)), keep)


def filter_interleaved_docs(
    docs: DataFrame,
    id_col: str = "doc_id",
    spans_col: str = "spans",
    max_media: int = INTERLEAVE_MAX_MEDIA,
    max_media_run: int = INTERLEAVE_MAX_MEDIA_RUN,
    min_words: int = INTERLEAVE_MIN_WORDS,
) -> DataFrame:
    """Document-level interleave gate: per-doc structural features plus the
    keep verdict, computed WITHOUT dropping rows so the reject reasons stay
    auditable (the curation report reads the flags; the pipeline filters on
    `keep`). keep := 1 <= n_media <= max_media AND the longest consecutive
    media run <= max_media_run AND total text words >= min_words AND media
    spans are at most half of all spans (2*n_media <= n_spans).

    Plan shape: everything is per-row array expressions over the sorted
    kinds — counts via filter/size, words via one aggregate fold of
    word_count, the longest media run via one linear (cur, best) fold. NO
    shuffle, no explode, no join; a mega-document costs its own array
    length and nothing else. Documents with empty span arrays are excluded
    (they are not interleaved documents at all).

    Returns (doc_id, n_spans, n_text, n_media, words, max_media_run, keep).
    """
    spans = F.col(spans_col)
    d = docs.filter(F.size(spans) > 0).select(
        F.col(id_col).alias("doc_id"), span_order(spans).alias("ss")
    )
    f = _interleave_features(F.col("ss"))
    out = d.select(
        "doc_id",
        f["n_spans"].alias("n_spans"),
        (f["n_spans"] - f["n_media"]).alias("n_text"),
        f["n_media"].alias("n_media"),
        f["words"].alias("words"),
        f["max_media_run"].alias("max_media_run"),
    )
    return out.select(
        "*",
        _interleave_keep(
            {
                "n_spans": F.col("n_spans"),
                "n_media": F.col("n_media"),
                "words": F.col("words"),
                "max_media_run": F.col("max_media_run"),
            },
            max_media,
            max_media_run,
            min_words,
        ).alias("keep"),
    )
