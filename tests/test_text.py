"""Scalar text functions: ``py_strip`` against the regex form it replaced."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ocr_spark.functions.text import UNICODE_WHITESPACE, py_strip


def _regex_strip(col):
    """The previous definition of py_strip."""
    return F.regexp_replace(F.coalesce(col, F.lit("")), r"(?U)^\s+|\s+$", "")


def test_py_strip_equals_regex_on_every_code_point(spark, tmp_path):
    """Every code point (surrogates excluded: they are not valid UTF-8)
    leading, trailing, repeated and inside the text."""
    cps = [c for c in range(0x110000) if not 0xD800 <= c <= 0xDFFF]
    texts = [f"{chr(c)}{chr(c)}a{chr(c)}b{chr(c)}{chr(c)}" for c in cps]
    pq.write_table(pa.table({"cp": cps, "t": texts}), str(tmp_path / "cps.parquet"))
    df = spark.read.parquet(str(tmp_path / "cps.parquet"))
    got = df.select(
        "cp",
        (py_strip(F.col("t")) == _regex_strip(F.col("t"))).alias("same"),
        (F.length(py_strip(F.col("t"))) == 3).alias("stripped"),
    )
    assert got.filter(~F.col("same")).count() == 0
    stripped = {r["cp"] for r in got.filter("stripped").collect()}
    assert stripped == {ord(c) for c in UNICODE_WHITESPACE}
    # Python's str.strip() also strips U+001C-001F; these never did
    assert stripped == {c for c in range(0x110000) if chr(c).strip() == ""} - set(range(0x1C, 0x20))


def test_py_strip_edge_strings(spark):
    texts = [
        None,
        "",
        " ",
        "line one\r\n",
        "\r\nline\r\n\r\n",
        "text\x85",
        "\x85\x85",
        "a\x85b\n",
        "　 mixed ",
        "\x1cseparator\x1f",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    rows = df.select("i", py_strip(F.col("t")).alias("new"), _regex_strip(F.col("t")).alias("old"))
    got = {r["i"]: (r["new"], r["old"]) for r in rows.collect()}
    for i, t in enumerate(texts):
        new, old = got[i]
        assert new == old, repr(t)
        want = "" if t is None else t.strip(UNICODE_WHITESPACE)
        assert new == want, repr(t)
