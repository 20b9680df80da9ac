"""Layout detectors vs pure-Python golden (FIXTURES.md §4–§5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_spark.operators import layout as L
from tests import reference_impl as ref

# --- text-path fixtures (FIXTURES.md §4; line content after the reference's
# own synthetic two-column ru/en contract, test_columns.py:24-47) ------------

C1_SIDE_BY_SIDE = "\n".join(
    [
        "ДОГОВОР № IC-45-2022",
        "AGREEMENT № IC-45-2022",
        "г. Алматы, 540725",
        "Almaty city, 540725",
        "1. ПРЕДМЕТ ДОГОВОРА",
        "1. SUBJECT OF THE AGREEMENT",
        "ИСПОЛНИТЕЛЬ обязуется оказать услуги",
        "The CONTRACTOR shall provide services",
        "ЗАКАЗЧИК принимает услуги",
        "The CUSTOMER accepts the services",
        "2. УСЛОВИЯ оплаты",
        "2. TERMS of payment",
        "Сумма договора 100000",
        "Agreement amount 100000",
    ]
)

C2_MONOLINGUAL = "\n".join(
    [f"Пункт {i}: условия договора изложены ниже по тексту." for i in range(1, 13)]
)

C3_TOO_SHORT = "\n".join(
    [
        "ДОГОВОР № 1",
        "AGREEMENT № 1",
        "УСЛОВИЯ",
        "TERMS",
    ]
)

C4_ALTERNATING = "\n".join(
    [
        "Первая строка русского текста",
        "First line of english text",
        "Вторая строка русского текста",
        "Second line of english text",
        "Третья строка русского текста",
        "Third line of english text",
    ]
)

TEXT_DOCS = [
    ("c1", C1_SIDE_BY_SIDE),
    ("c2", C2_MONOLINGUAL),
    ("c3", C3_TOO_SHORT),
    ("c4", C4_ALTERNATING),
    ("c5", ""),  # empty
    ("c6", "один\ntwo\nтри\nfour\nпять\nsix\nсемь\neight\nдевять\nten\n100\n100"),
    # pairs that share only an Arabic-Indic number: Python's \d matches it
    ("c7", "\n".join(["Пункт ٣ договор", "Item ٣ contract"] * 6)),
]


@pytest.fixture(scope="module")
def text_results(spark):
    df = spark.createDataFrame(TEXT_DOCS, "doc_id string, text string")
    out = df.select(
        "doc_id",
        L.analyze_text_columns(F.col("text")).alias("columns"),
        L.is_clear_side_by_side(F.col("text")).alias("is_sbs"),
        L.create_bilingual_columns(F.col("text")).alias("bilingual"),
        L.detect_language_split(F.col("text")).alias("alternating"),
    )
    return {r["doc_id"]: r for r in out.collect()}


@pytest.mark.parametrize("doc_id,text", TEXT_DOCS)
def test_sbs_gate_matches_reference(text_results, doc_id, text):
    assert text_results[doc_id]["is_sbs"] == ref.is_clear_side_by_side(text), doc_id


@pytest.mark.parametrize("doc_id,text", TEXT_DOCS)
def test_text_columns_match_reference(text_results, doc_id, text):
    expected = ref.analyze_text_columns(text)
    got = [r.asDict() for r in text_results[doc_id]["columns"]]
    want = expected["columns"]
    assert len(got) == len(want), f"{doc_id}: {got} vs {want}"
    for g, w in zip(got, want):
        assert g["text"] == w["text"], doc_id
        assert g["side"] == w["side"], doc_id
        assert g["language"] == w["language"], doc_id
        assert g["items_count"] == w["items_count"], doc_id
        assert abs(g["confidence_avg"] - w["confidence_avg"]) < 1e-12, doc_id


def test_c1_detects_two_columns(text_results):
    cols = text_results["c1"]["columns"]
    assert len(cols) == 2
    assert cols[0]["side"] == "left" and cols[0]["language"] == "ru"
    assert cols[1]["side"] == "right" and cols[1]["language"] == "en"
    assert cols[0]["confidence_avg"] == 0.95


def test_c2_c3_no_columns(text_results):
    assert len(text_results["c2"]["columns"]) == 0
    assert len(text_results["c3"]["columns"]) == 0


def test_c4_alternating_split(text_results):
    cols = text_results["c4"]["alternating"]
    assert len(cols) == 2
    assert cols[0]["language"] == "ru" and cols[1]["language"] == "en"
    assert cols[0]["text"].count("\n") == 2  # 3 ru lines
    assert cols[0]["confidence_avg"] == 0.8


# --- geometry-path fixtures (FIXTURES.md §5) --------------------------------

B1_WIDE_GAP = [  # two clusters, gap >= 15% of width=1000
    {"cx": 100.0, "cy": 10.0, "text": "ДОГОВОР", "conf": 0.9},
    {"cx": 120.0, "cy": 50.0, "text": "Стороны", "conf": 0.8},
    {"cx": 110.0, "cy": 90.0, "text": "Услуги", "conf": 0.85},
    {"cx": 700.0, "cy": 12.0, "text": "AGREEMENT", "conf": 0.9},
    {"cx": 720.0, "cy": 52.0, "text": "Parties", "conf": 0.8},
    {"cx": 705.0, "cy": 95.0, "text": "Services", "conf": 0.7},
]
B2_NARROW_TWO_LANGS = [  # gap < 15% but ru left of en
    {"cx": 100.0, "cy": 10.0, "text": "Договор", "conf": 0.9},
    {"cx": 150.0, "cy": 40.0, "text": "Заказчик", "conf": 0.8},
    {"cx": 220.0, "cy": 15.0, "text": "Agreement", "conf": 0.9},
    {"cx": 260.0, "cy": 45.0, "text": "Customer", "conf": 0.8},
]
B3_LOW_CONF = [  # only one box above layout threshold
    {"cx": 100.0, "cy": 10.0, "text": "видимый", "conf": 0.9},
    {"cx": 500.0, "cy": 10.0, "text": "шум", "conf": 0.2},
    {"cx": 700.0, "cy": 10.0, "text": "noise", "conf": 0.30},
]
B4_SINGLE = [
    {"cx": 100.0, "cy": 30.0, "text": "просто", "conf": 0.9},
    {"cx": 130.0, "cy": 10.0, "text": "текст", "conf": 0.8},
    {"cx": 115.0, "cy": 50.0, "text": "одной колонкой", "conf": 0.7},
]
B5_EMPTY: list = []

BOX_DOCS = [
    ("b1", 1000.0, B1_WIDE_GAP),
    ("b2", 1000.0, B2_NARROW_TWO_LANGS),
    ("b3", 1000.0, B3_LOW_CONF),
    ("b4", 1000.0, B4_SINGLE),
    ("b5", 1000.0, B5_EMPTY),
]


@pytest.fixture(scope="module")
def box_results(spark):
    rows = [
        (d, w, [(b["cx"], b["cy"], b["text"], b["conf"]) for b in boxes])
        for d, w, boxes in BOX_DOCS
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id string, image_width double, "
        "boxes array<struct<cx:double,cy:double,text:string,conf:double>>",
    )
    out = df.select(
        "doc_id",
        L.analyze_box_columns(F.col("boxes"), F.col("image_width")).alias("columns"),
        L.full_text_from_boxes(F.col("boxes")).alias("full_text"),
    )
    return {r["doc_id"]: r for r in out.collect()}


@pytest.mark.parametrize("doc_id,width,boxes", BOX_DOCS)
def test_box_columns_match_reference(box_results, doc_id, width, boxes):
    want = ref.analyze_box_columns(boxes, width)
    got = [r.asDict() for r in box_results[doc_id]["columns"]]
    assert len(got) == len(want), f"{doc_id}: {got} vs {want}"
    for g, w in zip(got, want):
        assert g["text"] == w["text"], (doc_id, g, w)
        assert g["side"] == w["side"], doc_id
        assert g["language"] == w["language"], doc_id
        assert g["items_count"] == w["items_count"], doc_id
        assert abs(g["confidence_avg"] - w["confidence_avg"]) < 1e-12, doc_id


@pytest.mark.parametrize("doc_id,width,boxes", BOX_DOCS)
def test_full_text_matches_reference(box_results, doc_id, width, boxes):
    assert box_results[doc_id]["full_text"] == ref.extract_full_text(boxes), doc_id


def test_b1_gap_split(box_results):
    cols = box_results["b1"]["columns"]
    assert [c["side"] for c in cols] == ["left", "right"]
    assert cols[0]["language"] == "ru" and cols[1]["language"] == "en"


def test_b2_language_split(box_results):
    cols = box_results["b2"]["columns"]
    assert [c["side"] for c in cols] == ["left", "right"]
    assert cols[0]["language"] == "ru"


def test_b3_b4_single(box_results):
    assert [c["side"] for c in box_results["b3"]["columns"]] == ["single"]
    assert [c["side"] for c in box_results["b4"]["columns"]] == ["single"]
    assert len(box_results["b5"]["columns"]) == 0


def test_layout_boxes_matches_oracle(spark):
    """The geometry analyzer on real data: the ``layout_boxes`` query on
    sf0.001 returns exactly the rows of its DuckDB oracle."""
    import glob
    import os

    import duckdb

    from ocr_spark.plans.entry_queries import ORACLES, q_layout_boxes

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    for p in glob.glob(os.path.join(sf, "*.parquet")):
        t = os.path.basename(p).replace(".parquet", "")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    want = sorted(con.sql(ORACLES["layout_boxes"]).fetchall())
    got = sorted(tuple(r) for r in q_layout_boxes(spark, sf).collect())
    assert got == want and len(got) > 0
