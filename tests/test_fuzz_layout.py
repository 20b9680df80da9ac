"""Seeded fuzz parity for layout detectors, boilerplate, and the span
pipeline vs the pure-Python reference twin — multi-line bilingual-ish
texts and randomized OCR box geometries."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from ocr_spark.operators import layout as L
from ocr_spark.operators import spans as SP
from tests import reference_impl as R

_LINES = [
    "ДОГОВОР на оказание услуг",
    "AGREEMENT for services",
    "ИСПОЛНИТЕЛЬ выполняет работы",
    "CONTRACTOR performs the works",
    "УСЛОВИЯ оплаты 1. и сроки",
    "TERMS of payment 1. deadlines",
    "просто русская строка",
    "just an english line",
    "смешанная mixed line",
    "1. Пункт первый",
    "1. Item one",
    "2. Пункт второй",
    "2. Item two",
    "", "   ", "\t",
    "стр. 5", "Page 3 of 7", "Введение ... 3",
    "short", "x",
]


def _gen_doc(rng: random.Random) -> str:
    n = rng.randint(0, 16)
    return "\n".join(rng.choice(_LINES) for _ in range(n))


@pytest.fixture(scope="module")
def layout_texts(spark):
    rng = random.Random(424242)
    rows = [(i, _gen_doc(rng)) for i in range(250)]
    return rows, spark.createDataFrame(rows, "id long, t string")


def test_fuzz_sbs_gate_and_columns(layout_texts):
    rows, df = layout_texts
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            L.is_clear_side_by_side(F.col("t")).alias("sbs"),
            L.analyze_text_columns(F.col("t")).alias("cols"),
        ).collect()
    }
    for i, t in rows:
        want_sbs = R.is_clear_side_by_side(t)
        assert out[i]["sbs"] == want_sbs, (i, repr(t))
        want = R.analyze_text_columns(t)
        got = [
            {"text": c["text"], "side": c["side"], "language": c["language"],
             "items_count": c["items_count"], "confidence_avg": c["confidence_avg"]}
            for c in out[i]["cols"]
        ]
        assert got == want["columns"], (i, repr(t))


# Line pairs that each pass the reference's translation-pair test, and
# filler lines that exercise the language buckets: blank and
# whitespace-only lines, mixed script, 'ё' (Cyrillic in the pdf-variant
# count) and 'Ё' (neither script there), and letters whose lowercase is
# not a plain ASCII letter ('İ' → 'i̇', the Kelvin sign → 'k').
_PAIRS = [
    ("ДОГОВОР поставки 12", "AGREEMENT of supply 12"),
    ("1. Предмет", "1. Subject"),
    ("ИСПОЛНИТЕЛЬ обязуется", "The CONTRACTOR shall"),
    ("Ёлка и ёж 7", "Fir and hedgehog 7"),
    ("УСЛОВИЯ оплаты", "TERMS of payment"),
    ("Статья ٣", "Article ٣"),
    ("Пункт 5", "Раздел 5"),  # a pair, but both lines Russian
]
_FILLER = [
    "", "   ", "\t", "\u3000", "смешанная mixed", "ab вг", "Ё", "ёё x",
    "İstanbul", "\u212a", "100", "\u3000Строка\u3000", "mixed ёж and",
]


def _gen_bucket_doc(rng: random.Random) -> str:
    lines = []
    while len(lines) < 10 or rng.random() < 0.6:
        if rng.random() < 0.6:
            ru, en = rng.choice(_PAIRS)
            lines += [ru, en] if rng.random() < 0.8 else [en, ru]
        else:
            lines.append(rng.choice(_FILLER))
    return "\n".join(lines)


@pytest.fixture(scope="module")
def bucket_texts(spark):
    rng = random.Random(8086)
    rows = [(i, _gen_bucket_doc(rng)) for i in range(200)]
    return rows, spark.createDataFrame(rows, "id long, t string")


def test_fuzz_column_buckets(bucket_texts):
    """Texts on which the side-by-side gate mostly fires, so the language
    buckets behind it run: gate and columns equal the reference's."""
    rows, df = bucket_texts
    assert sum(R.is_clear_side_by_side(t) for _, t in rows) >= 50
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            L.is_clear_side_by_side(F.col("t")).alias("sbs"),
            L.analyze_text_columns(F.col("t")).alias("cols"),
        ).collect()
    }
    for i, t in rows:
        assert out[i]["sbs"] == R.is_clear_side_by_side(t), (i, repr(t))
        got = [c.asDict() for c in out[i]["cols"]]
        assert got == R.analyze_text_columns(t)["columns"], (i, repr(t))


def test_fuzz_boilerplate_rule(layout_texts):
    rows, df = layout_texts
    bp_rows = []
    rng = random.Random(7)
    extra = [
        "© 2024 some corp", "copyright notice", "Cookie settings",
        "home | about | contact", "<a href=x>one two</a>",
        "a <a>b</a> c d e f g h i", "privacy policy", "plain honest sentence here",
        "<a href=q>" + "x" * 50 + "</a> tail", "menu", "skip to content",
    ]
    for i, t in rows[:100]:
        bp_rows.append((i, t.replace("\n", " ")))
    for j, t in enumerate(extra):
        bp_rows.append((1000 + j, t))
    sdf = df.sparkSession.createDataFrame(bp_rows, "id long, t string")
    out = {r["id"]: r["bp"] for r in sdf.select("id", SP.is_boilerplate(F.col("t")).alias("bp")).collect()}
    for i, t in bp_rows:
        assert out[i] == R.is_boilerplate(t), (i, repr(t))


def _gen_boxes(rng: random.Random) -> list[dict]:
    n = rng.randint(0, 12)
    out = []
    for i in range(n):
        two_col = rng.random() < 0.5
        cx = float(rng.choice([50, 80, 120, 700, 760, 820]) + i) if two_col else float(rng.randint(10, 980))
        out.append(
            {
                "cx": cx,
                "cy": float(rng.randint(0, 500)),
                "text": rng.choice(["строка", "line", "text", "слово", "mixed слово", ""]) + f" {i}",
                "conf": rng.choice([0.1, 0.25, 0.31, 0.45, 0.6, 0.85]),
            }
        )
    return out


def test_fuzz_box_columns(spark):
    rng = random.Random(99)
    rows = [(i, _gen_boxes(rng)) for i in range(200)]
    df = spark.createDataFrame(
        rows, "id long, boxes array<struct<cx:double, cy:double, text:string, conf:double>>"
    )
    out = {
        r["id"]: r["cols"]
        for r in df.select(
            "id", L.analyze_box_columns(F.col("boxes"), F.lit(1000.0)).alias("cols")
        ).collect()
    }
    for i, boxes in rows:
        want = R.analyze_box_columns([dict(b) for b in boxes], 1000.0)
        got = [
            {"text": c["text"], "side": c["side"], "language": c["language"],
             "items_count": c["items_count"], "confidence_avg": pytest.approx(c["confidence_avg"])}
            for c in out[i]
        ]
        assert got == want, (i, boxes)


def test_fuzz_span_pipeline_equality(spark):
    """Random interleaved docs through classify→assemble == reference twin."""
    rng = random.Random(5150)
    docs = []
    for i in range(120):
        n = rng.randint(0, 30)
        spans = []
        for j in range(n):
            kind = "media" if rng.random() < 0.2 else "text"
            text = "" if kind == "media" else rng.choice(
                ["real content words here definitely", "© footer", "menu",
                 "<a href=x>tiny</a>", "plenty of honest words in this line ok"]
            )
            spans.append(
                {"kind": kind, "text": text,
                 "media_ref": f"m{j}" if kind == "media" else "",
                 "offset": int(rng.randint(0, 10000))}
            )
        docs.append((i, spans))
    df = spark.createDataFrame(
        docs, "doc_id long, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    )
    out = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]]
        for r in SP.assemble_spans(SP.classify_spans(df)).collect()
    }
    for i, spans in docs:
        want = R.extract_document({"doc_id": i, "spans": [dict(s) for s in spans]})
        want_seq = [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in want["spans"]]
        got = out.get(i, [])
        assert got == want_seq, (i, spans)
