"""Pairwise OCR-quality metrics (SURVEY.md §2.4 M1–M11, §2.5 A1–A2).

All metrics except WER are pure Column expressions (JVM, whole-stage
codegen). WER needs word-sequence edit distance, which has no Catalyst
builtin → Arrow-vectorized pandas UDF (numpy DP over token arrays).

Reference semantics preserved exactly (metrics_calculator.py):
- "empty" edge cases test the RAW string (Python falsy), not normalized;
- CER/WER clamp at 1.0; char/word P/R/F1 use SET semantics, not bags;
- exact_match is trim-only and case-sensitive.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from ocr_spark.functions.text import char_set, normalize_text, py_strip, split_words, word_set


def _empty(col: Column) -> Column:
    """Python falsy-string test: null or ''. (metrics_calculator.py:68)"""
    return col.isNull() | (col == "")


def cer(extracted: Column, ground_truth: Column) -> Column:
    """M1 Character Error Rate (metrics_calculator.py:56-85)."""
    e_n, g_n = normalize_text(extracted), normalize_text(ground_truth)
    dist = F.levenshtein(e_n, g_n).cast("double")
    body = F.when(F.length(g_n) > 0, F.least(dist / F.length(g_n), F.lit(1.0))).otherwise(F.lit(0.0))
    return (
        F.when(_empty(ground_truth), F.when(_empty(extracted), F.lit(0.0)).otherwise(F.lit(1.0)))
        .otherwise(body)
    )


def normalized_levenshtein(extracted: Column, ground_truth: Column) -> Column:
    """M3 (metrics_calculator.py:121-154): lev / max(len), clamped."""
    e_n, g_n = normalize_text(extracted), normalize_text(ground_truth)
    dist = F.levenshtein(e_n, g_n).cast("double")
    max_len = F.greatest(F.length(e_n), F.length(g_n))
    body = F.when(max_len == 0, F.lit(0.0)).otherwise(F.least(dist / max_len, F.lit(1.0)))
    return F.when(_empty(extracted) & _empty(ground_truth), F.lit(0.0)).otherwise(body)


def exact_match(extracted: Column, ground_truth: Column) -> Column:
    """M4 (metrics_calculator.py:40): strip-only, case-sensitive."""
    return (py_strip(extracted) == py_strip(ground_truth)).cast("double")


def _set_prf(a: Column, b: Column, prefix: str) -> dict[str, Column]:
    """Set-based precision/recall/F1 (metrics_calculator.py:156-232)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    p = F.when(F.size(a) > 0, inter / F.size(a)).otherwise(F.lit(0.0))
    r = F.when(F.size(b) > 0, inter / F.size(b)).otherwise(F.lit(0.0))
    f1 = F.when((p + r) > 0, F.lit(2.0) * p * r / (p + r)).otherwise(F.lit(0.0))
    return {f"{prefix}_precision": p, f"{prefix}_recall": r, f"{prefix}_f1": f1}


def char_metrics(extracted: Column, ground_truth: Column) -> dict[str, Column]:
    """M5 char-set P/R/F1 over normalized text (incl. space chars)."""
    return _set_prf(char_set(extracted), char_set(ground_truth), "char")


def word_metrics(extracted: Column, ground_truth: Column) -> dict[str, Column]:
    """M6 word-set P/R/F1."""
    return _set_prf(word_set(extracted), word_set(ground_truth), "word")


def _word_edit_distance(a: list, b: list) -> int:
    """Levenshtein over token sequences — numpy row-vectorized DP.

    Tokens are interned to int ids so the substitution-cost row is one
    vector compare; the sequential insertion chain cur[j] = min(cur[j],
    cur[j-1]+1) is a prefix scan: with d[j] = cur[j] - j it becomes a
    running minimum (np.minimum.accumulate). ~25× faster than the
    cell-at-a-time loop on 300-token docs.
    """
    la, lb = len(a), len(b)
    if la == 0:
        return lb
    if lb == 0:
        return la
    ids: dict = {}
    a_ids = np.fromiter((ids.setdefault(t, len(ids)) for t in a), dtype=np.int64, count=la)
    b_ids = np.fromiter((ids.setdefault(t, len(ids)) for t in b), dtype=np.int64, count=lb)
    idx = np.arange(lb + 1, dtype=np.int64)
    prev = idx.copy()
    cur = np.empty(lb + 1, dtype=np.int64)
    for i in range(1, la + 1):
        cost = (b_ids != a_ids[i - 1]).astype(np.int64)
        cur[0] = i
        cur[1:] = np.minimum(prev[1:] + 1, prev[:-1] + cost)
        # insertion chain via prefix-min of (cur[j] - j)
        cur = np.minimum.accumulate(cur - idx) + idx
        prev, cur = cur, prev
    return int(prev[lb])


@F.pandas_udf(DoubleType())
def _wer_udf(extracted: pd.Series, ground_truth: pd.Series) -> pd.Series:
    """M2 WER (metrics_calculator.py:87-119), Arrow-batched.

    Word tokenization mirrors _split_into_words: lower, collapse \\s+, split.
    """
    import re

    def norm_words(t):
        if not t:
            return []
        return re.sub(r"\s+", " ", t.lower()).strip().split()

    out = np.empty(len(extracted), dtype=np.float64)
    for i, (e, g) in enumerate(zip(extracted, ground_truth)):
        if not g:
            out[i] = 1.0 if e else 0.0
            continue
        ew, gw = norm_words(e), norm_words(g)
        if not gw:
            out[i] = 1.0 if ew else 0.0
            continue
        out[i] = min(_word_edit_distance(ew, gw) / len(gw), 1.0)
    return pd.Series(out)


def wer(extracted: Column, ground_truth: Column) -> Column:
    """M2 Word Error Rate — the one pandas-UDF metric."""
    return _wer_udf(extracted, ground_truth)


def all_metrics(extracted: Column, ground_truth: Column) -> dict[str, Column]:
    """M7 composite (metrics_calculator.py:14-54): all metric columns."""
    out: dict[str, Column] = {
        "cer": cer(extracted, ground_truth),
        "wer": wer(extracted, ground_truth),
        "normalized_levenshtein": normalized_levenshtein(extracted, ground_truth),
        "exact_match": exact_match(extracted, ground_truth),
    }
    out.update(char_metrics(extracted, ground_truth))
    out.update(word_metrics(extracted, ground_truth))
    return out


def noise_metrics(extracted: Column, ground_truth: Column) -> dict[str, Column]:
    """M9 (metrics_calculator.py:255-278): M7 + noise_cer/noise_wer aliases."""
    out = all_metrics(extracted, ground_truth)
    out["noise_cer"] = out["cer"]
    out["noise_wer"] = out["wer"]
    return out


def corpus_rollup(df, cer_col="cer", wer_col="wer", exact_col="exact_match"):
    """A1 (metrics_calculator.py:323-350): avg CER/WER + exact-match %.

    Partial+final hash aggregation — a single reduce at any scale.
    """
    return df.agg(
        F.avg(cer_col).alias("average_cer"),
        F.avg(wer_col).alias("average_wer"),
        (F.avg((F.col(exact_col) == 1.0).cast("double")) * 100).alias("exact_match_percentage"),
    )
