"""DuckDB-only guards over the driver-contract oracle SQL strings.

The driver's correctness hash is representation-sensitive: a column that
DuckDB types as HUGEINT (int128 — the silent promotion of SUM over BIGINT)
or DECIMAL hashes differently from Spark's BIGINT/DOUBLE even when every
value is identical.  That was the one red row in CORRECTNESS_r03
(``pagerank``).  These tests run every oracle against the sf0.001 tables
and fail on any such output type, plus basic contract hygiene (every query
has an oracle or is knowingly rows-only, the registration order is static).
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import duckdb
import pytest

from ocr_spark.plans import entry_queries as eq

SF = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF), reason="driver testdata not present"
)


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for p in glob.glob(os.path.join(SF, "*.parquet")):
        t = os.path.basename(p).replace(".parquet", "")
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return c


def test_no_int128_or_decimal_output_columns(con):
    bad = []
    for name, sql in eq.ORACLES.items():
        rel = con.sql(sql)
        for c, t in zip(rel.columns, (str(t) for t in rel.types)):
            if t in ("HUGEINT", "UHUGEINT") or t.startswith("DECIMAL"):
                bad.append((name, c, t))
    assert bad == [], f"representation-hash hazard in oracle outputs: {bad}"


def test_every_query_has_an_oracle():
    missing = [n for n in eq.QUERIES if n not in eq.ORACLES]
    # any entry here is a knowing rows-only check the judge sees — keep empty
    assert missing == []


def test_registration_order_is_static():
    """QUERIES starts with the literal ``_GRADE_FIRST`` names in order,
    ORACLES follows QUERIES, and importing the module reads no
    CORRECTNESS_r*.json file."""
    ks = list(eq.QUERIES)
    assert ks[: len(eq._GRADE_FIRST)] == list(eq._GRADE_FIRST)
    assert list(eq.ORACLES) == [n for n in ks if n in eq.ORACLES]
    probe = (
        "import json, sys\n"
        "opened = []\n"
        "sys.addaudithook(lambda ev, args: ev == 'open' and opened.append(str(args[0])))\n"
        "import ocr_spark.plans.entry_queries\n"
        "print(json.dumps([p for p in opened if 'CORRECTNESS_r' in p]))\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", probe], cwd=root, capture_output=True, text=True, check=True
    )
    assert json.loads(out.stdout.strip().splitlines()[-1]) == []
