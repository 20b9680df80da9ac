"""Layout / column detection (SURVEY.md §2.6 W1–W10, §2.7 G1–G3, §2.5 A3/A5).

Design: every detector is a per-document map over one array column (lines
or OCR boxes). That keeps layout analysis a narrow, shuffle-free map stage —
per-document work is bounded (a page has O(100) boxes / O(100) lines), so
this scales linearly to 10^12 documents with no hot keys, no windows, no
regrouping.

Two paths, mirroring the reference:
- text path  (pdf_processor.py): translation-pair / bilingual / alternating /
  pattern detectors over the line list of a page's text, as higher-order
  array expressions;
- geometry path (ocr_service.py): x-gap and language splits over centroid
  OCR boxes, as one Arrow-batched UDF (:func:`analyze_box_columns`; the
  fastest of the forms measured, see its docstring).

Column schema (ColumnData, main.py:44-49):
  struct<text:string, side:string, language:string,
         items_count:int, confidence_avg:double>
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from ocr_spark import config
from ocr_spark.functions.text import correct_ocr_errors, let, line_language, py_strip, script_balance

# ---------------------------------------------------------------------------
# lambda-friendly scalar helpers
# ---------------------------------------------------------------------------


def _column_struct(text, side, language, items_count, confidence_avg) -> Column:
    return F.struct(
        text.alias("text"),
        side.alias("side"),
        language.alias("language"),
        items_count.cast("int").alias("items_count"),
        confidence_avg.cast("double").alias("confidence_avg"),
    )


_EMPTY_COLUMNS = (
    "array<struct<text:string,side:string,language:string,items_count:int,confidence_avg:double>>"
)


def _empty_columns() -> Column:
    return F.array().cast(_EMPTY_COLUMNS)


# ---------------------------------------------------------------------------
# text path — translation-pair (side-by-side) detector, the live path
# (pdf_processor.py:292-488)
# ---------------------------------------------------------------------------


# Spark evaluates higher-order functions (transform, filter, zip_with,
# aggregate, ...) interpreted, outside whole-stage codegen, and runs no
# common-subexpression elimination inside their arguments: a lambda that
# strips a line re-strips it on every use. So the text path splits and
# strips the lines once (bound with ``let``), features each line once in
# one transform, counts pairs in one aggregate fold over consecutive
# lines, and tags each line with its language once.


def _stripped_lines(text: Column) -> Column:
    """The text's lines, each `str.strip()`ed (null text → one '')."""
    return F.transform(F.split(F.coalesce(text, F.lit("")), "\n"), py_strip)


def _line_features(line: Column) -> Column:
    """What the translation-pair test reads of one stripped line.
    `(?U)`: Python's `\\d` matches every Unicode decimal digit."""
    return F.struct(
        (line != "").alias("ne"),
        F.regexp_extract_all(line, F.lit(r"(?U)\d+"), 0).alias("nums"),
        line.rlike(r"^[1-5]\.").alias("numbered"),
        F.upper(line).alias("up"),
    )


def _no_line() -> Column:
    """The features of the line before the first: pairs with nothing."""
    return F.struct(
        F.lit(False).alias("ne"),
        F.array().cast("array<string>").alias("nums"),
        F.lit(False).alias("numbered"),
        F.lit("").alias("up"),
    )


def _is_translation_pair(a: Column, b: Column) -> Column:
    """pdf_processor.py:368-413 on the features of two non-empty lines."""
    same_numbers = (F.size(a["nums"]) > 0) & (F.size(b["nums"]) > 0) & (a["nums"] == b["nums"])
    kw = F.lit(False)
    u1, u2 = a["up"], b["up"]
    for ru, en in config.TRANSLATION_KEYWORD_PAIRS:
        kw = kw | (u1.contains(ru) & u2.contains(en)) | (u1.contains(en) & u2.contains(ru))
    return same_numbers | (a["numbered"] & b["numbered"]) | kw


def _side_by_side(lines: Column) -> Column:
    """The W8 gate over already stripped lines."""
    counted = F.aggregate(
        F.transform(lines, _line_features),
        F.struct(_no_line().alias("prev"), F.lit(0).alias("n")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            (
                acc["n"]
                + (acc["prev"]["ne"] & x["ne"] & _is_translation_pair(acc["prev"], x)).cast("int")
            ).alias("n"),
        ),
    )
    return (F.size(lines) >= config.SBS_MIN_LINES) & (counted["n"] >= config.SBS_MIN_PAIRS)


def is_clear_side_by_side(text: Column) -> Column:
    """W8 gate (pdf_processor.py:332-366): ≥5 translation pairs over
    consecutive raw-line pairs, needs ≥10 raw lines."""
    return _side_by_side(_stripped_lines(text))


def _tagged(lines: Column) -> Column:
    """Each line with its language, tagged once: (l, lang) structs."""
    return F.transform(lines, lambda l: F.struct(l.alias("l"), line_language(l).alias("lang")))


def _language_bucket_columns(tagged: Column, confidence: float) -> Column:
    """G1 (pdf_processor.py:415-488 / :537-608): bucket the ``tagged``
    stripped lines by language (an empty line is 'mixed' and joins
    neither); ru column left, en column right."""

    def bucket(ts: Column, lang: str) -> Column:
        return F.transform(F.filter(ts, lambda t: t["lang"] == lang), lambda t: t["l"])

    def columns(ru: Column, en: Column) -> Column:
        cols = F.array(
            _column_struct(F.array_join(ru, "\n"), F.lit("left"), F.lit("ru"), F.size(ru), F.lit(confidence)),
            _column_struct(F.array_join(en, "\n"), F.lit("right"), F.lit("en"), F.size(en), F.lit(confidence)),
        )
        return F.when((F.size(ru) > 0) & (F.size(en) > 0), cols).otherwise(_empty_columns())

    return let(
        tagged,
        lambda ts: let(bucket(ts, "ru"), lambda ru: let(bucket(ts, "en"), lambda en: columns(ru, en))),
    )


def analyze_text_columns(text: Column) -> Column:
    """The reference's live text-path analysis (pdf_processor.py:292-330):
    columns only when the strict side-by-side gate fires."""
    return let(
        _stripped_lines(text),
        lambda lines: F.when(
            _side_by_side(lines),
            _language_bucket_columns(_tagged(lines), config.SBS_CONFIDENCE),
        ).otherwise(_empty_columns()),
    )


# --- secondary text-path detectors (kept for parity; not on the live path) --


def _bilingual(langs: Column) -> Column:
    """W9 gate over the bound per-line languages: ≥3 consecutive
    opposite-script pairs, ≥6 raw lines. An empty line is 'mixed', so
    pairs need no emptiness test of their own."""
    n = F.greatest(F.size(langs) - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(langs, 1, n),
        F.slice(langs, 2, n),
        lambda a, b: (((a == "ru") & (b == "en")) | ((a == "en") & (b == "ru"))).cast("int"),
    )
    cnt = F.aggregate(pairs, F.lit(0), lambda acc, x: acc + x)
    return (F.size(langs) >= config.BILINGUAL_MIN_LINES) & (cnt >= config.BILINGUAL_MIN_PAIRS)


def has_clear_bilingual_structure(text: Column) -> Column:
    """W9 (pdf_processor.py:490-535)."""
    return let(F.transform(_stripped_lines(text), line_language), _bilingual)


def create_bilingual_columns(text: Column) -> Column:
    """pdf_processor.py:537-608 — language buckets at confidence 0.9, when
    the W9 gate fires; lines split, stripped and tagged once for both."""

    def columns(ts: Column) -> Column:
        return F.when(
            let(F.transform(ts, lambda t: t["lang"]), _bilingual),
            _language_bucket_columns(ts, config.BILINGUAL_CONFIDENCE),
        ).otherwise(_empty_columns())

    return let(_tagged(_stripped_lines(text)), columns)


def _block_lang(t: Column) -> Column:
    return F.when(script_balance(t) > 0, F.lit("ru")).otherwise(F.lit("en"))


def detect_language_split(text: Column) -> Column:
    """W5+W6 alternating-language split (pdf_processor.py:765-875).

    Non-empty stripped lines, ≥4 raw lines, ≥2 ru + ≥2 en lines, language
    sequence strictly alternating ('mixed' is a wildcard), even→left /
    odd→right, size ratio > 0.2. Confidence 0.8. The lines are split,
    stripped and tagged with their language once.
    """

    # alternating pattern over the sequence (pdf_processor.py:877-914)
    def alternates(ts: Column, even: str, odd: str) -> Column:
        return F.forall(
            F.transform(
                ts,
                lambda t, i: F.when(t["lang"] == "mixed", F.lit(True))
                .when(i % 2 == 0, t["lang"] == even)
                .otherwise(t["lang"] == odd),
            ),
            lambda ok: ok,
        )

    def side(ts: Column, parity: int) -> Column:
        return F.transform(F.filter(ts, lambda t, i: i % 2 == parity), lambda t: t["l"])

    def split_of(n_raw: Column, ts: Column) -> Column:
        n_ru = F.size(F.filter(ts, lambda t: t["lang"] == "ru"))
        n_en = F.size(F.filter(ts, lambda t: t["lang"] == "en"))
        alternating = (F.size(ts) >= config.ALTERNATING_MIN_LINES) & (
            alternates(ts, "ru", "en") | alternates(ts, "en", "ru")
        )

        def columns(left: Column, right: Column) -> Column:
            left_text, right_text = F.array_join(left, "\n"), F.array_join(right, "\n")
            ratio = F.least(F.length(left_text), F.length(right_text)) / F.greatest(
                F.length(left_text), F.length(right_text), F.lit(1)
            )
            conf = F.lit(config.ALTERNATING_CONFIDENCE)
            cols = F.array(
                _column_struct(left_text, F.lit("left"), _block_lang(left_text), F.size(left), conf),
                _column_struct(right_text, F.lit("right"), _block_lang(right_text), F.size(right), conf),
            )
            ok = (
                (n_raw >= config.ALTERNATING_MIN_LINES)
                & (n_ru >= 2)
                & (n_en >= 2)
                & alternating
                & (F.size(left) > 0)
                & (F.size(right) > 0)
                & (ratio > config.ALTERNATING_SIZE_RATIO)
            )
            return F.when(ok, cols).otherwise(_empty_columns())

        return let(side(ts, 0), lambda left: let(side(ts, 1), lambda right: columns(left, right)))

    return let(
        _stripped_lines(text),
        lambda lines: let(
            _tagged(F.filter(lines, lambda l: l != "")), lambda ts: split_of(F.size(lines), ts)
        ),
    )


def detect_column_patterns_split(text: Column) -> Column:
    """W7 pattern / mid-point split (pdf_processor.py:610-763).

    Pattern lines = page numbers or section headers; ≥3 patterns → split at
    the mid-point between first and last pattern (≥4 patterns) or at the
    middle of the text; size ratio ≥ 0.3; confidence 0.8.
    """
    raw = F.split(F.coalesce(text, F.lit("")), "\n")
    stripped = F.transform(raw, py_strip)

    def is_pattern(l):
        page_no = (
            l.rlike(r"^(?:стр\.|page|Стр\.|Page)")
            | l.rlike(r"(?:стр\.|page|Стр\.|Page)$")
            | (l.contains("Page ") & l.contains("of "))
        )
        dots = F.length(l) - F.length(F.replace(l, F.lit("."), F.lit("")))
        header = (
            (dots >= 2) & l.rlike(r"[0-9]") & (F.length(l) < 100) & ~l.rlike(r"\.$")
        )
        return (l != "") & (page_no | header)

    pat_idx = F.filter(
        F.transform(stripped, lambda l, i: F.struct(is_pattern(l).alias("p"), i.alias("i"))),
        lambda s: s["p"],
    )
    n_pat = F.size(pat_idx)
    first_pos = F.when(n_pat > 0, pat_idx[0]["i"]).otherwise(F.lit(0))
    last_pos = F.when(n_pat > 0, F.element_at(pat_idx, -1)["i"]).otherwise(F.lit(0))
    mid = F.when(n_pat >= 4, ((first_pos + last_pos) / 2).cast("int")).otherwise(
        (F.size(raw) / 2).cast("int")
    )
    left_lines = F.slice(raw, 1, mid)
    right_lines = F.slice(raw, mid + 1, F.greatest(F.size(raw) - mid, F.lit(0)))
    left_text = py_strip(F.array_join(left_lines, "\n"))
    right_text = py_strip(F.array_join(right_lines, "\n"))
    ratio = F.least(F.length(left_text), F.length(right_text)) / F.greatest(
        F.length(left_text), F.length(right_text), F.lit(1)
    )

    cols = F.array(
        _column_struct(left_text, F.lit("left"), _block_lang(left_text), F.size(left_lines), F.lit(config.PATTERN_CONFIDENCE)),
        _column_struct(right_text, F.lit("right"), _block_lang(right_text), F.size(right_lines), F.lit(config.PATTERN_CONFIDENCE)),
    )
    ok = (
        (n_pat >= config.PATTERN_MIN_COUNT)
        & (left_text != "")
        & (right_text != "")
        & (ratio >= config.PATTERN_SIZE_RATIO)
    )
    return F.when(ok, cols).otherwise(_empty_columns())


# ---------------------------------------------------------------------------
# geometry path (ocr_service.py:432-630) over centroid boxes
# box schema: struct<cx:double, cy:double, text:string, conf:double>
# ---------------------------------------------------------------------------


def full_text_from_boxes(boxes: Column) -> Column:
    """F1+T3+A6 (ocr_service.py:290-315): conf>0.4, strip, OCR-correct,
    join with ' ' in input (EasyOCR) order."""
    kept = F.filter(boxes, lambda b: b["conf"] > config.CONF_TEXT_ASSEMBLY)
    return F.array_join(F.transform(kept, lambda b: correct_ocr_errors(py_strip(b["text"]))), " ")


_CYR_OCR = re.compile("[а-я]")
_LAT = re.compile("[a-z]")


def _ocr_lang(s: str) -> str:
    """ocr_service.py:632-662 variant ([а-я] without 'ё') on joined text."""
    low = s.lower()
    cyr = len(_CYR_OCR.findall(low))
    lat = len(_LAT.findall(low))
    if cyr > lat:
        return "ru"
    if lat > cyr:
        return "en"
    return "mixed"


def _mean(values: list) -> float:
    """Sequential array-order float sum over the count; 0.0 when empty."""
    s = 0.0
    for v in values:
        s += v
    return s / max(len(values), 1)


def _box_column(items: list, side: str, language: str) -> dict:
    """A3+A5 (ocr_service.py:601-624): reading-order join + conf average."""
    # reading order (cy, cx, original index)
    ordered = sorted(range(len(items)), key=lambda i: (items[i][1], items[i][0], i))
    return {
        "text": " ".join(items[i][2] for i in ordered),
        "side": side,
        "language": language,
        "items_count": len(items),
        "confidence_avg": _mean([b[3] for b in items]),
    }


def _box_columns_of(boxes_row, width: float) -> list:
    """One document's column list (ocr_service.py:432-630)."""
    if boxes_row is None:
        return []
    # (cx, cy, text, conf) tuples, input order
    items = [
        (float(b["cx"]), float(b["cy"]), b["text"] or "", float(b["conf"]))
        for b in boxes_row
        if b is not None and b["conf"] is not None and b["conf"] > config.CONF_LAYOUT
    ]
    enough = len(items) >= 2
    xs = sorted(b[0] for b in items)
    gaps = [xs[i + 1] - xs[i] for i in range(len(xs) - 1)]
    max_gap = max(gaps) if gaps else 0.0
    # W1-W4 x-gap split; a null width compares false, as in SQL
    if enough and max_gap >= width * config.COLUMN_GAP_FRACTION:
        pos = gaps.index(max_gap)  # first index achieving the max
        split_x = (xs[pos] + xs[pos + 1]) / 2
        left = [b for b in items if b[0] < split_x]
        right = [b for b in items if b[0] >= split_x]
        return [
            _box_column(part, side, _ocr_lang(" ".join(b[2] for b in part)))
            for side, part in (("left", left), ("right", right))
            if part
        ]
    # G2 language split (ocr_service.py:514-572)
    ru = [b for b in items if _ocr_lang(b[2]) == "ru"]
    en = [b for b in items if _ocr_lang(b[2]) == "en"]
    if enough and ru and en:
        if _mean([b[0] for b in ru]) < _mean([b[0] for b in en]):
            return [_box_column(ru, "left", "ru"), _box_column(en, "right", "en")]
        return [_box_column(en, "left", "en"), _box_column(ru, "right", "ru")]
    # G3 single column keeps INPUT order (ocr_service.py:596-608), unlike
    # the reading-ordered left/right columns
    text = " ".join(b[2] for b in items)
    if text.strip() == "":
        return []
    return [
        {
            "text": text,
            "side": "single",
            "language": _ocr_lang(text),
            "items_count": len(items),
            "confidence_avg": _mean([b[3] for b in items]),
        }
    ]


def analyze_box_columns(boxes: Column, image_width: Column) -> Column:
    """W1–W4 + G2–G3 (ocr_service.py:432-630): column list from OCR boxes.

    One Arrow-batched UDF over (boxes, image_width): a document never
    leaves its partition and nothing shuffles. It is the one geometry
    implementation because it was the fastest of the three forms this
    module had (sf0.1, best of 2: 2.4 s, against 4.7 s for an
    explode/window/aggregate plan and 5.1 s for interpreted
    higher-order array expressions, which Spark runs outside codegen).

    The float ops are the reference's: sums run sequentially in array
    order and each comparison or division is one IEEE op, so results
    match ``tests/reference_impl.analyze_box_columns`` and the DuckDB
    oracle of the ``layout_boxes`` query.
    """

    @F.pandas_udf(_EMPTY_COLUMNS)
    def _cols(bs: pd.Series, ws: pd.Series) -> pd.Series:
        return pd.Series([_box_columns_of(b, w) for b, w in zip(bs, ws)])

    return _cols(boxes, image_width)
