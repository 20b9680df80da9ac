"""Span-sequence equality (the BASELINE.json correctness gate):
(kind, text, media_ref, order) per document must be byte-equal to the
pure-Python golden, including mega-documents, on both assembly routes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_spark.pipeline import extract_documents
from ocr_spark.sources import corpus
from tests import reference_impl as ref


@pytest.fixture(scope="module")
def docs():
    # 120 docs, 2 mega-docs (5k spans); test_salted_route_matches_golden
    # sends the mega-docs through the salted path across many salt chunks
    return corpus.generate_docs(120, seed=7, mega_docs=2, mega_spans=5000)


@pytest.fixture(scope="module")
def spark_result(spark, docs, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("corpus"))
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.Table.from_pylist(docs, schema=corpus.SCHEMA), path + "/part-0.parquet"
    )
    df = spark.read.parquet(path)
    out = extract_documents(df)
    return {r["doc_id"]: r for r in out.collect()}


@pytest.fixture(scope="module")
def golden(docs):
    return {d["doc_id"]: ref.extract_document(d) for d in docs}


def test_all_docs_present(spark_result, golden):
    assert set(spark_result) == set(golden)


def test_span_sequence_equality(spark_result, golden):
    for doc_id, want in golden.items():
        got = [
            (s["kind"], s["text"], s["media_ref"], s["order"])
            for s in spark_result[doc_id]["spans"]
        ]
        expect = [
            (s["kind"], s["text"], s["media_ref"], s["order"]) for s in want["spans"]
        ]
        assert got == expect, f"span mismatch in {doc_id}"


def test_extracted_text_and_fields(spark_result, golden):
    for doc_id, want in golden.items():
        assert spark_result[doc_id]["extracted_text"] == want["extracted_text"], doc_id
        assert spark_result[doc_id]["structured_data"] == want["structured_data"], doc_id
        assert spark_result[doc_id]["columns_count"] == want["columns_count"], doc_id


def test_mega_doc_crosses_chunks(spark_result, golden):
    mega = "doc-00000000"
    assert golden[mega]["n_spans"] > 1000
    assert spark_result[mega]["n_spans"] == golden[mega]["n_spans"]


def _corpus_df(spark, docs, tmp_path_factory, name):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path_factory.mktemp(name))
    pq.write_table(pa.Table.from_pylist(docs, schema=corpus.SCHEMA), path + "/p.parquet")
    return spark.read.parquet(path)


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def small_corpus(spark, docs, tmp_path_factory):
    return _corpus_df(spark, docs[:5], tmp_path_factory, "corpus_plan")


def test_array_input_plan_explodes_once_without_count_pass(spark, small_corpus):
    """Array-shaped input routes whole documents on their span count
    before the explode: one span explode per union branch, no count
    aggregate over span rows, and the salted branch keeps its two-phase
    aggregation (keyed on (doc_id, salt), then on doc_id)."""
    import re

    from ocr_spark.operators.spans import assemble_spans, classify_spans

    df = small_corpus
    plan = _plan(extract_documents(df))
    assert plan.count("Generate explode(spans") == 2
    assert "LeftAnti" in plan and "LeftSemi" in plan
    assert "count(1)" not in plan
    assert re.search(r"ObjectHashAggregate\(keys=\[doc_id#\d+, salt#\d+L\]", plan)
    assert plan.count("Exchange hashpartitioning") == 3  # single-phase 1 + salted 2
    # row-shaped input is not routed: no count pass, only the salted path
    rows = _plan(assemble_spans(classify_spans(df)))
    assert "count(1)" not in rows and "LeftSemi" not in rows
    assert re.search(r"ObjectHashAggregate\(keys=\[doc_id#\d+, salt#\d+L\]", rows)


def test_stage3_plan_runs_each_pattern_once(small_corpus):
    """Fields and columns evaluate each regex once per document: every
    field pattern (plus normalize_amount's number) appears once in each
    union branch (single-phase and salted), no value is left to Spark's
    `With` rewrite (`_common_expr`), and the column analysis runs no
    regex replace at all."""
    from ocr_spark import config
    from ocr_spark.operators import layout as L

    plan = extract_documents(small_corpus)._jdf.queryExecution().optimizedPlan().toString()
    per_branch = sum(len(config.FIELD_PATTERNS[f]) for f in config.DEFAULT_FIELDS) + 1
    assert per_branch == 17
    assert plan.count("regexp_extract(") == 2 * per_branch
    assert "_common_expr" not in plan
    assert "regexp_replace" not in str(L.analyze_text_columns(F.col("t")))


def test_salted_route_matches_golden(spark, docs, tmp_path_factory, golden):
    """With a threshold below the mega-documents' span count, they take the
    salted path and still match the reference."""
    from ocr_spark.operators.spans import classify_and_assemble

    df = _corpus_df(spark, docs, tmp_path_factory, "corpus_salted")
    out = {r["doc_id"]: r for r in classify_and_assemble(df, salt_chunk=64, big_doc_spans=1000).collect()}
    assert set(out) == set(golden)
    for doc_id, want in golden.items():
        got = [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in out[doc_id]["spans"]]
        assert got == [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in want["spans"]]


_SPANS_SCHEMA = (
    "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


def _assembled(df, **kw):
    from ocr_spark.operators.spans import classify_and_assemble

    return sorted(
        ((r["doc_id"], [tuple(s) for s in r["spans"]]) for r in classify_and_assemble(df, **kw).collect()),
        key=lambda r: (r[0] is not None, r[0]),
    )


def test_duplicate_doc_id_rows_merge_across_the_route(spark):
    """Rows of one doc_id land on one side of the route even when only one
    of them is big, so they still merge into one output row."""
    long_a = ("text", "first part of the body text here", None, 0)
    long_b = ("text", "second part of the body text here", None, 2)
    long_c = ("text", "third part of the body text here", None, 4)
    df = spark.createDataFrame(
        [
            ("d", [long_a, long_c, ("media", None, "img://d/0", 5)]),
            ("d", [long_b]),
            ("e", [long_a]),
        ],
        _SPANS_SCHEMA,
    )
    want = [
        ("d", [
            ("text", long_a[1], None, 0),
            ("text", long_b[1], None, 1),
            ("text", long_c[1], None, 2),
            ("media", None, "img://d/0", 3),
        ]),
        ("e", [("text", long_a[1], None, 0)]),
    ]
    for big in (2, 100, 0):  # d salted / everything single-phase / all salted
        assert _assembled(df, big_doc_spans=big) == want, big


def test_route_sends_null_id_single_phase_and_splits_by_id(spark):
    from ocr_spark.operators.spans import _route_documents

    span = ("text", "a body sentence of some length", None, 0)
    df = spark.createDataFrame(
        [(None, [span] * 4), ("d", [span] * 4), ("d", [span]), ("s", [span])], _SPANS_SCHEMA
    )
    small, big = _route_documents(df, 2)
    assert sorted((r["doc_id"] or "", len(r["spans"])) for r in small.collect()) == [("", 4), ("s", 1)]
    assert sorted(len(r["spans"]) for r in big.select("spans").collect()) == [1, 4]
    got = _assembled(df, big_doc_spans=2)
    assert got[0][0] is None and len(got[0][1]) == 4


def test_route_does_not_inline_upstream_projections(spark):
    """The big-id side must not carry a filter on size(spans): the
    optimizer pushes it through html_to_spans' projections and inlines
    them, growing the plan ~15x (and the WARC-bridge pass 10x). Each side
    of the route is the upstream plan twice (the rows and the broadcast
    ids), nothing more."""
    from ocr_spark.operators.boilerplate import html_to_spans
    from ocr_spark.operators.spans import _route_documents

    docs = html_to_spans(
        spark.createDataFrame([(1, "<p>some body text here</p>")], "doc_id long, html string")
    )
    size = len(docs._jdf.queryExecution().optimizedPlan().toString())
    for side in _route_documents(docs, 2):
        assert len(side._jdf.queryExecution().optimizedPlan().toString()) < 3 * size


def test_raw_count_routes_but_output_equals_single_phase(spark):
    """A document whose raw span count exceeds big_doc_spans but whose kept
    count does not takes the salted path; the output equals the
    single-phase path's."""
    from ocr_spark.operators.spans import classify_spans

    boiler = corpus.BOILERPLATE_LINES[1]
    df = spark.createDataFrame(
        [(
            "d",
            [
                ("text", boiler, None, 0),
                ("text", "the kept body text of this document", None, 1),
                ("text", boiler, None, 2),
                ("media", None, "img://d/0", 3),
                ("text", boiler, None, 4),
            ],
        )],
        _SPANS_SCHEMA,
    )
    assert classify_spans(df).filter("is_boilerplate").count() == 3
    salted = _assembled(df, big_doc_spans=3)  # raw 5 > 3, kept 2 <= 3
    assert salted == _assembled(df, big_doc_spans=100)
    assert [s[0] for s in salted[0][1]] == ["text", "media"]


# --- language runs over interleaved spans -------------------------------------


def test_span_language_runs_segments_and_media_transparent(spark):
    from ocr_spark.operators.spans import span_language_runs

    docs = spark.createDataFrame(
        [
            ("1", [("text", "hello english words", None, 0),
                   ("media", None, "img://1/0", 16),       # transparent
                   ("text", "more english here", None, 32),
                   ("text", "привет русский текст", None, 48),
                   ("text", "ещё русская строка", None, 64),
                   ("text", "back to english", None, 80)]),
            ("2", [("media", None, "img://2/0", 0)]),       # media-only doc
        ],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    out = [r for r in span_language_runs(docs).collect()]
    runs = sorted([r for r in out if r.doc_id == "1"], key=lambda r: r.run_id)
    assert [(r.lang, r.n_spans) for r in runs] == [("en", 2), ("ru", 2), ("en", 1)]
    # the media span did not break the first run
    assert runs[0].text == "hello english words more english here"
    assert runs[0].first_offset == 0 and runs[0].last_offset == 32
    assert runs[1].text == "привет русский текст ещё русская строка"
    # media-only doc yields no runs
    assert not [r for r in out if r.doc_id == "2"]


def test_spans_to_markdown_interleave_and_counts(spark):
    from ocr_spark.operators.spans import spans_to_markdown

    docs = spark.createDataFrame(
        [
            ("1", [("text", "first para", None, 0),
                   ("media", None, "img://1/0", 16),
                   ("text", "second para", None, 32),
                   ("text", "", None, 48)]),          # empty text skipped
            ("2", [("media", None, None, 0)]),         # null ref -> empty parens
            ("3", []),
        ],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    out = {r.doc_id: r for r in spans_to_markdown(docs).collect()}
    assert out["1"].markdown == "first para\n\n![media](img://1/0)\n\nsecond para"
    assert out["1"].n_text == 3 and out["1"].n_media == 1
    assert out["2"].markdown == "![media]()" and out["2"].n_media == 1
    assert out["3"].markdown == "" and out["3"].n_text == 0


def test_filter_spans_quality_rules_and_media_runs(spark):
    from ocr_spark.operators.spans import filter_spans_quality

    docs = spark.createDataFrame(
        [
            # kept text / dropped short / blocklist / brace; media-run adjacency
            ("1", [("text", "a good long paragraph here", None, 0),
                   ("media", None, "img://1/0", 16),      # next to kept text -> kept
                   ("text", "too short", None, 32),        # < 3 words -> dropped
                   ("media", None, "img://1/1", 48),       # neighbours: dropped + dropped -> dropped
                   ("text", "all rights reserved footer text", None, 64),  # blocklist
                   ("text", "code {x: 1} fragment inline", None, 80)]),    # braces
            # a media RUN between a dropped and a kept text span -> kept
            ("2", [("text", "ok", None, 0),                # dropped (short)
                   ("media", None, "img://2/0", 16),
                   ("media", None, "img://2/1", 32),
                   ("text", "this paragraph clearly survives the gate", None, 48)]),
            # media-only document: no non-media neighbour ever -> all dropped
            ("3", [("media", None, "img://3/0", 0)]),
        ],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    out = filter_spans_quality(docs)
    rows = sorted(out.collect(), key=lambda r: (r.doc_id, r.ord))
    d1 = [(r.kind, r.text, r.media_ref, r.ord) for r in rows if r.doc_id == "1"]
    assert d1 == [
        ("text", "a good long paragraph here", None, 0),
        ("media", None, "img://1/0", 1),
    ]
    d2 = [(r.kind, r.media_ref, r.ord) for r in rows if r.doc_id == "2"]
    assert d2 == [
        ("media", "img://2/0", 0),
        ("media", "img://2/1", 1),
        ("text", None, 2),
    ]
    assert not [r for r in rows if r.doc_id == "3"]


def test_filter_spans_quality_terminal_punct_opt(spark):
    from ocr_spark.operators.spans import filter_spans_quality

    docs = spark.createDataFrame(
        [("1", [("text", "ends with a period.", None, 0),
                ("text", "no terminal punctuation here", None, 16)])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    texts = [r.text for r in
             filter_spans_quality(docs, require_terminal_punct=True).collect()]
    assert texts == ["ends with a period."]


# --- coalesce_spans ----------------------------------------------------------


def py_coalesce(spans, joiner="\n"):
    """Golden: canonical sort, drop blank text, merge adjacent text runs."""
    ordered = sorted(
        spans, key=lambda s: (s["offset"], s["kind"], s["text"], s["media_ref"])
    )
    kept = [s for s in ordered if s["kind"] == "media" or s["text"].strip() != ""]
    out = []
    for s in kept:
        if s["kind"] == "text" and out and out[-1]["kind"] == "text":
            out[-1] = {**out[-1], "text": out[-1]["text"] + joiner + s["text"]}
        else:
            out.append({k: s[k] for k in ("kind", "text", "media_ref")})
    return [
        (s["kind"], s["text"], s["media_ref"], i) for i, s in enumerate(out)
    ]


def _span(kind, text, ref, off):
    return {"kind": kind, "text": text, "media_ref": ref, "offset": off}


_COALESCE_DOCS = [
    # fragmented text around media, blanks interleaved
    (
        1,
        [
            _span("text", "a", "", 0),
            _span("text", "  ", "", 16),
            _span("text", "b", "", 32),
            _span("media", "", "ref-1", 48),
            _span("text", "", "", 64),
            _span("text", "c", "", 80),
            _span("text", "d", "", 96),
        ],
    ),
    # all spans blank -> empty sequence
    (2, [_span("text", " ", "", 0), _span("text", "", "", 16)]),
    # media-only, refs preserved verbatim, including adjacent media
    (3, [_span("media", "", "r1", 0), _span("media", "", "r2", 16)]),
    # out-of-order offsets + duplicate offset tie (media before text)
    (
        4,
        [
            _span("text", "z", "", 32),
            _span("media", "", "m", 16),
            _span("text", "y", "", 16),
            _span("text", "x", "", 0),
        ],
    ),
    (5, []),
]


def _coalesce_df(spark):
    return spark.createDataFrame(
        _COALESCE_DOCS,
        "doc_id long, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )


def _rows(df):
    return {
        r.doc_id: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r.spans]
        for r in df.collect()
    }


def test_coalesce_spans_matches_golden(spark):
    from ocr_spark.operators.spans import coalesce_spans

    got = _rows(coalesce_spans(_coalesce_df(spark)))
    for doc_id, spans in _COALESCE_DOCS:
        assert got[doc_id] == py_coalesce(spans), doc_id


def test_coalesce_spans_mega_doc_keeps_non_text_kinds(spark):
    """A document above BIG_DOC_SPANS spans coalesces like any other: only
    adjacent ``text`` spans merge, so a ``title`` between two text spans
    stays its own span."""
    from ocr_spark import config
    from ocr_spark.operators.spans import coalesce_spans

    pattern = [("text", "a"), ("title", "T"), ("text", "b"), ("text", " "), ("media", "")]
    spans = []
    for i in range(config.BIG_DOC_SPANS + 1):
        kind, text = pattern[i % len(pattern)]
        spans.append(_span(kind, text, f"r{i}" if kind == "media" else "", 16 * i))
    df = spark.createDataFrame(
        [(1, spans)],
        "doc_id long, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    got = _rows(coalesce_spans(df))[1]
    assert got[:4] == [
        ("text", "a", "", 0), ("title", "T", "", 1), ("text", "b", "", 2), ("media", "", "r4", 3),
    ]
    assert got == py_coalesce(spans)


def test_span_runs_read_one_row_per_document(spark):
    """Two rows that share a doc_id are two documents to the run
    operators: each row gives its own runs, none merge across rows."""
    from ocr_spark.operators.spans import coalesce_spans, span_language_runs

    df = spark.createDataFrame(
        [
            (7, [_span("text", "hello english", "", 0), _span("text", "more english", "", 16)]),
            (7, [_span("text", "привет мир", "", 0), _span("text", "ещё строка", "", 16)]),
        ],
        "doc_id long, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    langs = sorted(tuple(r) for r in span_language_runs(df).collect())
    assert langs == [
        (7, 1, "en", 2, 0, 16, "hello english more english"),
        (7, 1, "ru", 2, 0, 16, "привет мир ещё строка"),
    ]
    merged = sorted(
        [(s["kind"], s["text"], s["order"]) for s in r.spans] for r in coalesce_spans(df).collect()
    )
    assert merged == [
        [("text", "hello english\nmore english", 0)],
        [("text", "привет мир\nещё строка", 0)],
    ]


def test_coalesce_spans_custom_joiner(spark):
    from ocr_spark.operators.spans import coalesce_spans

    df = spark.createDataFrame(
        [(9, [_span("text", "a", "", 0), _span("text", "b", "", 16)])],
        "doc_id long, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    got = _rows(coalesce_spans(df, joiner=" "))
    assert got[9] == [("text", "a b", "", 0)]


# --- truncate_spans ----------------------------------------------------------


def test_truncate_spans_budget_and_accounting(spark):
    from ocr_spark.operators.spans import truncate_spans

    span_t = "doc_id long, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    docs = spark.createDataFrame(
        [
            # costs: 3 ("one two three"), 256 (media), 2, 2 -> cum 3,259,261,263
            (
                1,
                [
                    ("text", "one two three", "", 0),
                    ("media", "", "ref-m", 16),
                    ("text", "four five", "", 32),
                    ("text", "six seven", "", 48),
                ],
            ),
            # first media span fits exactly once; the second overflows
            (2, [("media", "", "big", 0), ("media", "", "big2", 16)]),
            # punctuation tokens: "a, b" = 3
            (3, [("text", "a, b", "", 0)]),
            (4, []),
        ],
        span_t,
    )
    got = {}
    for r in truncate_spans(docs, max_tokens=261, media_tokens=256).collect():
        got.setdefault(r.doc_id, []).append(
            (r.kind, r.text, r.media_ref, r.ord, r.span_tokens)
        )
    assert got[1] == [
        ("text", "one two three", "", 0, 3),
        ("media", "", "ref-m", 1, 256),
        ("text", "four five", "", 2, 2),
    ]  # cum 263 > 261 drops the last span only
    assert got[2] == [("media", "", "big", 0, 256)]
    assert 4 not in got
    assert got[3] == [("text", "a, b", "", 0, 3)]


def test_truncate_spans_orders_by_offset_before_cutting(spark):
    from ocr_spark.operators.spans import truncate_spans

    span_t = "doc_id long, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    docs = spark.createDataFrame(
        [
            (7, [("text", "tail words beyond", "", 32), ("text", "head", "", 0)]),
            # the FIRST span already exceeds the budget -> no rows at all
            (8, [("text", "two words", "", 0), ("text", "x", "", 16)]),
        ],
        span_t,
    )
    rows = truncate_spans(docs, max_tokens=1).collect()
    got = [(r.text, r.ord) for r in rows]
    assert got == [("head", 0)]  # the offset-0 span wins the budget
    assert not [r for r in rows if r.doc_id == 8]


def test_span_kind_transitions_counts_and_milli(spark):
    from ocr_spark.operators.spans import span_kind_transitions

    span_t = "doc_id long, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    docs = spark.createDataFrame(
        [
            # doc 1: text media text  -> BOS>t, t>m, m>t, t>EOS
            (
                1,
                [
                    ("text", "a", "", 0),
                    ("media", "", "r1", 16),
                    ("text", "b", "", 32),
                ],
            ),
            # doc 2 (offsets shuffled on purpose): text text -> BOS>t, t>t, t>EOS
            (2, [("text", "d", "", 16), ("text", "c", "", 0)]),
            (3, []),  # contributes nothing
        ],
        span_t,
    )
    got = {
        (r.src_kind, r.dst_kind): (r.n, r.p_milli)
        for r in span_kind_transitions(docs).collect()
    }
    assert got == {
        ("BOS", "text"): (2, 1000),
        ("text", "media"): (1, 250),  # 4 outgoing from text
        ("media", "text"): (1, 1000),
        ("text", "text"): (1, 250),
        ("text", "EOS"): (2, 500),
    }


def test_filter_interleaved_docs_features_and_gate(spark):
    from ocr_spark.operators.spans import filter_interleaved_docs

    span_t = "doc_id long, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    five_words = "w1 w2 w3 w4 w5"
    docs = spark.createDataFrame(
        [
            # keeper: 1 media among 3 spans, 10 words, run 1
            (
                1,
                [
                    ("text", five_words, "", 0),
                    ("media", "", "r", 16),
                    ("text", five_words, "", 32),
                ],
            ),
            # no media -> rejected
            (2, [("text", five_words, "", 0), ("text", five_words, "", 16)]),
            # media run of 5 (> 4) -> rejected; also media-majority
            (
                3,
                [("media", "", f"r{i}", i * 16) for i in range(5)]
                + [("text", five_words + " " + five_words, "", 80)],
            ),
            # too few words -> rejected
            (4, [("text", "w1 w2", "", 0), ("media", "", "r", 16)]),
            (5, []),  # excluded entirely
        ],
        span_t,
    )
    rows = {r.doc_id: r for r in filter_interleaved_docs(docs).collect()}
    assert set(rows) == {1, 2, 3, 4}
    r1 = rows[1]
    assert (r1.n_spans, r1.n_text, r1.n_media, r1.words, r1.max_media_run) == (
        3,
        2,
        1,
        10,
        1,
    )
    assert r1.keep is True
    assert rows[2].keep is False and rows[2].n_media == 0
    assert rows[3].keep is False and rows[3].max_media_run == 5
    assert rows[4].keep is False and rows[4].words == 2


def test_filter_interleaved_media_run_orders_by_offset(spark):
    """Run detection must follow offset order, not array order."""
    from ocr_spark.operators.spans import filter_interleaved_docs

    span_t = "doc_id long, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    # array order interleaves; offset order groups media at the front
    docs = spark.createDataFrame(
        [
            (
                1,
                [
                    ("media", "", "a", 0),
                    ("text", "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10", "", 48),
                    ("media", "", "b", 16),
                    ("media", "", "c", 32),
                ],
            )
        ],
        span_t,
    )
    r = filter_interleaved_docs(docs).collect()[0]
    assert r.max_media_run == 3
    assert r.keep is False  # media-majority (3*2 > 4)


def test_interleave_keep_expr_equals_filter_verdict(spark):
    """The per-row gating expression must agree with the auditable
    DataFrame form on every document, including empty span arrays
    (expr: False; DataFrame form: excluded)."""
    from ocr_spark.operators.spans import filter_interleaved_docs, interleave_keep_expr

    span_t = "doc_id long, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    five = "w1 w2 w3 w4 w5"
    docs = spark.createDataFrame(
        [
            (1, [("text", five, "", 0), ("media", "", "r", 16), ("text", five, "", 32)]),
            (2, [("text", five, "", 0)]),
            (3, [("media", "", f"r{i}", i * 16) for i in range(6)] + [("text", five + " " + five, "", 96)]),
            (4, []),
        ],
        span_t,
    )
    via_df = {
        r.doc_id: r.keep for r in filter_interleaved_docs(docs).collect()
    }
    via_expr = {
        r.doc_id: r.k
        for r in docs.select("doc_id", interleave_keep_expr().alias("k")).collect()
    }
    assert via_expr == {1: True, 2: False, 3: False, 4: False}
    for doc_id, k in via_df.items():
        assert via_expr[doc_id] == k


def test_extract_job_interleave_gate(spark, tmp_path, monkeypatch):
    """--interleave-gate drops gate-failing documents before extraction;
    without it they extract normally."""
    import sys

    from jobs import extract_job

    span_t = "doc_id long, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    ten = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    docs = spark.createDataFrame(
        [
            (1, [("text", ten, "", 0), ("media", "", "r", 16), ("text", ten, "", 32)]),
            (2, [("text", ten, "", 0), ("text", ten, "", 16)]),  # no media
        ],
        span_t,
    )
    src = str(tmp_path / "src")
    docs.write.parquet(src)

    def run(out, *extra):
        argv = ["extract_job.py", "--input", src, "--output", out, "--buckets", "2", *extra]
        monkeypatch.setattr(sys, "argv", argv)
        extract_job.main()
        return {r.doc_id for r in spark.read.parquet(out + "/bucket=*").select("doc_id").collect()}

    assert run(str(tmp_path / "gated"), "--interleave-gate") == {1}
    assert run(str(tmp_path / "plain")) == {1, 2}


# --- tie order: every span operator reads the canonical span order -----------

_TIED_DOCS = [
    # text/text tied at offset 0, media/text tied at offset 16
    (
        1,
        [
            _span("text", "Привет мир строка", "", 0),
            _span("text", "beta more words. Дата: 01.02.2023", "", 0),
            _span("media", "", "img-1", 16),
            _span("text", "gamma caption words here.", "", 16),
        ],
    ),
    # media/text tied at offset 0 and at offset 8; the first text repeats
    # doc 1's, so span dedup has a duplicate to drop
    (
        2,
        [
            _span("text", "beta more words. Дата: 01.02.2023", "", 0),
            _span("media", "", "img-2", 0),
            _span("text", "Телефон: +7 (905) 123-45-67 call now", "", 8),
            _span("media", None, "img-3", 8),
        ],
    ),
]


def _tie_ops():
    from ocr_spark.functions.fields import extract_fields_spans
    from ocr_spark.operators import spans as S
    from ocr_spark.operators.dedup import dedup_spans_corpus
    from ocr_spark.operators.media import media_captions
    from ocr_spark.operators.textstats import decontaminate_spans

    def decontaminate(df):
        evals = df.sparkSession.createDataFrame([("gamma caption words",)], "text string")
        return decontaminate_spans(df, evals, n=2)

    return {
        "spans_to_markdown": S.spans_to_markdown,
        "filter_spans_quality": S.filter_spans_quality,
        "truncate_spans": lambda df: S.truncate_spans(df, max_tokens=12, media_tokens=2),
        "span_kind_transitions": S.span_kind_transitions,
        "span_language_runs": S.span_language_runs,
        "coalesce_spans": S.coalesce_spans,
        "filter_interleaved_docs": S.filter_interleaved_docs,
        "interleave_keep_expr": lambda df: df.select("doc_id", S.interleave_keep_expr().alias("k")),
        "extract_fields_spans": extract_fields_spans,
        "decontaminate_spans": decontaminate,
        "dedup_spans_corpus": dedup_spans_corpus,
        "media_captions": media_captions,
    }


@pytest.fixture(scope="module")
def tied_frames(spark):
    schema = "doc_id long, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    forward = spark.createDataFrame(_TIED_DOCS, schema)
    reversed_ = spark.createDataFrame([(i, spans[::-1]) for i, spans in _TIED_DOCS], schema)
    return forward, reversed_


@pytest.mark.parametrize("op", sorted(_tie_ops()))
def test_span_operators_ignore_input_order_on_tied_offsets(tied_frames, op):
    """Spans that share an offset take the canonical (offset, kind, text,
    media_ref) order in every operator, so reversing a document's span
    array changes no output row."""
    run = _tie_ops()[op]
    forward, reversed_ = tied_frames

    def rows(df):
        return sorted((tuple(r) for r in run(df).collect()), key=repr)

    got = rows(forward)
    assert got, op
    assert got == rows(reversed_), op
