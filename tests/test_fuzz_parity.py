"""Seeded fuzz parity: a corpus of adversarial strings through the Spark
expression stack must match the pure-Python reference twin value-for-value.

Complements the hand-picked golden cases: whitespace zoo, mixed scripts,
regex metacharacters, empties, long runs, lone surrogate-adjacent chars.
One Spark job per function family (not per example) keeps this fast.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from ocr_spark import config
from ocr_spark.functions import fields as FX
from ocr_spark.functions import metrics as M
from ocr_spark.functions import text as T
from tests import reference_impl as R

_WORD_POOL = [
    "hello", "WORLD", "ПрИвЕт", "мир", "ёжик", "data", "1234", "12.03.2021",
    "a", "я", "e-mail", "x@y.zz", "+7(999)123-45-67", "©", "copyright", "…",
    "<a href=x>link</a>", "tab\tsep", "№5", "ООО", "OOO", "Тест", "(скобки)",
    "99,5", "руб.", "стр.", "Page", "of", "1.", "2.", "ДОГОВОР", "AGREEMENT",
    # field labels in mixed case: the label lookaheads of fields._label_gate
    "Name:", "ДАТА", "тел.", "ИНН", "Паспорт", "Сумма", "адрес:", "Ф.И.О.",
    "PHONE", "Date:", "e-MAIL:", "ПОЧТА",
    # texts with an '@' take the email patterns, texts without skip them
    "ivan.petrov@mail.ru", "@", "user@host", "A.B@X.ORG",
]
# letters Java and Python both fold to a label's letter: K (U+212A) to k,
# ſ (U+017F) to s. Both are letters outside ru/en, which
# text_quality_score counts like Python's str.isalpha.
_FOLD_WORDS = ["\u212a", "ſ", "paſſport:", "addreſs", "PAſſPORT", "\u212a\u212a"]
_SPACERS = [" ", "  ", "\t", "\n", "\r\n", "   ", "   \n\t "]


def _gen_text(rng: random.Random) -> str:
    n = rng.randint(0, 12)
    parts = []
    for _ in range(n):
        parts.append(rng.choice(_WORD_POOL))
        parts.append(rng.choice(_SPACERS))
    s = "".join(parts)
    if rng.random() < 0.15:
        s = rng.choice(["", " ", "\n\t", s.upper(), s * 3])
    return s


@pytest.fixture(scope="module")
def fuzz_pairs(spark):
    rng = random.Random(20260816)
    rows = []
    for i in range(300):
        a = _gen_text(rng)
        b = a if rng.random() < 0.2 else _gen_text(rng)
        rows.append((i, a, b))
    return rows, spark.createDataFrame(rows, "id long, a string, b string")


def test_fuzz_metrics_parity(fuzz_pairs):
    rows, df = fuzz_pairs
    a, b = F.col("a"), F.col("b")
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            M.cer(a, b).alias("cer"),
            M.wer(a, b).alias("wer"),
            M.normalized_levenshtein(a, b).alias("nl"),
            M.exact_match(a, b).alias("em"),
        ).collect()
    }
    for i, x, y in rows:
        assert out[i]["cer"] == pytest.approx(R.cer(x, y), abs=1e-12), (i, x, y)
        assert out[i]["wer"] == pytest.approx(R.wer(x, y), abs=1e-12), (i, x, y)
        assert out[i]["nl"] == pytest.approx(R.normalized_levenshtein(x, y), abs=1e-12)
        assert out[i]["em"] == R.exact_match(x, y), (i, x, y)


def _gen_fold_texts(rng: random.Random, n: int) -> list[str]:
    pool = _WORD_POOL + _FOLD_WORDS
    return [
        "".join(rng.choice(pool) + rng.choice(_SPACERS) for _ in range(rng.randint(0, 12)))
        for _ in range(n)
    ]


def test_fuzz_text_parity(spark, fuzz_pairs):
    rows, _ = fuzz_pairs
    texts = [x for _, x, _ in rows] + _gen_fold_texts(random.Random(20260821), 300)
    df = spark.createDataFrame(list(enumerate(texts)), "id long, a string")
    a = F.col("a")
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            T.normalize_text(a).alias("norm"),
            T.line_language(a).alias("lang"),
            T.text_quality_score(a).alias("q"),
            T.correct_ocr_errors(a).alias("corr"),
        ).collect()
    }
    for i, x in enumerate(texts):
        assert out[i]["norm"] == R.normalize_text(x), (i, repr(x))
        assert out[i]["lang"] == R.line_language(x), (i, repr(x))
        assert out[i]["q"] == pytest.approx(R.text_quality_score(x), abs=1e-12), (i, repr(x))
        assert out[i]["corr"] == R.correct_ocr_errors(x), (i, repr(x))


def _assert_field_parity(df, col: str, texts: dict) -> None:
    """Every default field of ``df[col]`` equals the reference's on
    ``texts`` (id → text; a null text extracts nothing)."""
    cols = [FX.extract_field(F.col(col), f).alias(f) for f in config.DEFAULT_FIELDS]
    out = {r["id"]: r for r in df.select("id", *cols).collect()}
    for i, x in texts.items():
        want = R.extract_fields(x) if x is not None else {}
        got = {f: out[i][f] for f in config.DEFAULT_FIELDS if out[i][f] is not None}
        # reference drops blank values (F4); mirror that for the comparison
        got = {k: v for k, v in got.items() if v.strip()}
        assert got == want, (i, repr(x))


def test_fuzz_field_extraction_parity(fuzz_pairs):
    rows, df = fuzz_pairs
    _assert_field_parity(df, "a", {i: x for i, x, _ in rows})


def test_fuzz_field_extraction_case_folds(spark):
    """The field gates (email's '@', the label lookaheads) on texts that
    also hold the case-fold specials."""
    texts = _gen_fold_texts(random.Random(20260820), 300) + [
        "paſſport: 1234 567890", "Паспорт 1234 567890 ivan@mail.ru", "", None
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "id long, t string")
    _assert_field_parity(df, "t", dict(enumerate(texts)))


def test_reference_second_pass_is_noop(fuzz_pairs):
    """Literal transcription of the reference's TWO-pass correction
    (ocr_service.py:317-373) equals the one-pass reduction both the engine
    and the golden twin use — the mixed-word pass provably changes nothing."""
    import re

    corrections = dict(config.OCR_CHAR_CORRECTIONS)
    corrections.update(config.OCR_WORD_CORRECTIONS)

    def two_pass(text: str) -> str:
        corrected = text
        for wrong, right in corrections.items():
            corrected = corrected.replace(wrong, right)
        for word in re.findall(r"\b[a-zA-Zа-яё]+\b", corrected):
            if any("a" <= c.lower() <= "z" for c in word) and any(
                "а" <= c <= "я" or c in "ёЁ" or "А" <= c <= "Я" for c in word
            ):
                fixed = word
                for lat, cyr in corrections.items():
                    if len(lat) == 1 and len(cyr) == 1:
                        fixed = fixed.replace(lat, cyr)
                corrected = corrected.replace(word, fixed)
        return corrected

    rows, _df = fuzz_pairs
    extra = ["watафж mix", "TOOл", "aгc 6еда l1ne ПрИвЕт hello-мир", "kиt"]
    for t in [x for _, x, _ in rows] + extra:
        assert two_pass(t) == R.correct_ocr_errors(t), repr(t)


# --- curation text ops vs pure-Python twins ---------------------------------

_URL_BITS = [
    "http://", "https://", "HTTPS://", "WWW.", "www.", "user:pw@", "x@",
    "Example.COM", "x.com", "sub.domain.ORG", ":80", ":443", ":8080",
    "/path/a", "/p/", "/", "?q=1", "?utm_source=x", "&utm_medium=y",
    "&real=2", "&fbclid=abc", "#frag", "#", "?&", "?utm_a=1?utm_b=2",
]


def _gen_url(rng: random.Random) -> str:
    scheme = rng.choice(["http://", "https://", "HTTPS://", "ftp://", ""])
    host = rng.choice(["Example.COM", "x.com", "WWW.sub.Domain.org", "a.b"])
    out = scheme + rng.choice(["", "user:pw@", "x@"]) + host
    out += rng.choice(["", ":80", ":443", ":8080"])
    for _ in range(rng.randint(0, 4)):
        out += rng.choice(_URL_BITS[14:])
    return out


def py_canon_url(u: str) -> str:
    import re

    from ocr_spark.operators.textstats import TRACKING_PARAM_RE

    u = u or ""
    u = re.sub(r"#.*$", "", u)
    u = re.sub(r"&" + TRACKING_PARAM_RE + r"=[^&]*", "", u)
    u = re.sub(r"\?" + TRACKING_PARAM_RE + r"=[^&]*&", "?", u)
    u = re.sub(r"\?" + TRACKING_PARAM_RE + r"=[^&]*$", "", u)
    u = re.sub(r"[?&]+$", "", u)
    m = re.match(r"(?i)(https?)://", u)
    if not m:
        return ""
    scheme = m.group(1).lower()
    hm = re.match(r"(?i)https?://(?:[^/?#]*@)?([^/?#]*)", u)
    hostport = re.sub(r"^www\.", "", hm.group(1).lower())
    if scheme == "http":
        hostport = re.sub(r":80$", "", hostport)
    else:
        hostport = re.sub(r":443$", "", hostport)
    tm = re.match(r"(?i)https?://[^/?#]*(.*)$", u)
    tail = re.sub(r"/$", "", tm.group(1))
    return f"{scheme}://{hostport}{tail}"


def test_fuzz_canonical_url_parity(spark):
    from ocr_spark.operators import textstats as TS

    rng = random.Random(20260817)
    urls = [_gen_url(rng) for _ in range(400)] + ["", "http://", "https://#", "http://?utm_a=1"]
    df = spark.createDataFrame(list(enumerate(urls)), "id long, u string")
    got = {
        r["id"]: r["c"]
        for r in df.select("id", TS.canonical_url(F.col("u")).alias("c")).collect()
    }
    for i, u in enumerate(urls):
        assert got[i] == py_canon_url(u), (i, repr(u))


def py_fix_text(t: str):
    import re

    from ocr_spark.operators import textstats as TS

    t = t or ""
    counts = (
        len(re.findall(TS.CONTROL_RE, t)),
        len(re.findall(r"[‘’‚“”„]", t)),
        len(re.findall(r"[–—−]", t)),
        t.count("\u00a0"),
        t.count("…"),
    )
    fixed = t.translate(str.maketrans(TS.FIX_FROM, TS.FIX_TO)).replace("…", "...")
    fixed = re.sub(TS.CONTROL_RE, "", fixed)
    fixed = re.sub(r"\n{3,}", "\n\n", fixed)
    return counts, fixed


def test_fuzz_fix_text_parity(spark):
    from ocr_spark.operators import textstats as TS

    rng = random.Random(20260818)
    pool = _WORD_POOL + ["“q”", "‘s’", "–", "—", "−", "…", "\u00a0", "\x01", "\x07", "\n\n\n", "\n\n\n\n\n"]
    texts = []
    for _ in range(300):
        texts.append("".join(rng.choice(pool) + rng.choice(_SPACERS) for _ in range(rng.randint(0, 10))))
    texts += ["", "…" * 5, "\x00\x1f\x7f", "\n" * 7]
    df = spark.createDataFrame(list(enumerate(texts)), "id long, t string")
    fx = TS.fix_text(F.col("t"))
    got = {
        r["id"]: r
        for r in df.select(
            "id", fx["n_control"].alias("nc"), fx["n_quote"].alias("nq"),
            fx["n_dash"].alias("nd"), fx["n_nbsp"].alias("nn"),
            fx["n_ellipsis"].alias("ne"), fx["fixed"].alias("f"),
        ).collect()
    }
    for i, t in enumerate(texts):
        (nc, nq, nd, nn, ne), fixed = py_fix_text(t)
        r = got[i]
        assert (r["nc"], r["nq"], r["nd"], r["nn"], r["ne"]) == (nc, nq, nd, nn, ne), (i, repr(t))
        assert r["f"] == fixed, (i, repr(t))


def test_fuzz_dedup_paragraphs_parity(spark):
    from ocr_spark.operators import textstats as TS

    rng = random.Random(20260819)
    lines = ["alpha", "beta", "alpha", "  alpha  ", "", " ", "gamma", "beta beta"]
    texts = ["\n".join(rng.choice(lines) for _ in range(rng.randint(0, 12))) for _ in range(300)]
    df = spark.createDataFrame(list(enumerate(texts)), "id long, t string")
    d = TS.dedup_paragraphs(F.col("t"))
    got = {
        r["id"]: (r["nl"], r["nu"], r["t2"])
        for r in df.select(
            "id", d["n_lines"].alias("nl"), d["n_unique"].alias("nu"),
            d["dedup_text"].alias("t2"),
        ).collect()
    }
    for i, t in enumerate(texts):
        segs = [x.strip() for x in t.split("\n")]
        segs = [x for x in segs if x]
        ded = list(dict.fromkeys(segs))
        assert got[i] == (len(segs), len(ded), "\n".join(ded)), (i, repr(t))


def test_fuzz_chunk_documents_invariants(spark):
    """Property fuzz: for random (n_tokens, size, overlap), the chunk
    layout tiles [0, n) exactly — starts advance by stride, first chunk
    at 0, last chunk ends at n, consecutive chunks overlap by exactly
    `overlap` (except a shorter final window), and no empty chunks."""
    from ocr_spark.operators import textstats as TS

    rng = random.Random(20260820)
    cases = []
    for i in range(60):
        size = rng.randint(2, 64)
        overlap = rng.randint(0, size - 1)
        n = rng.choice([0, 1, size - 1, size, size + 1, rng.randint(0, 500)])
        cases.append((i, n, size, overlap))
    # one doc per case: n single-char tokens
    for i, n, size, overlap in cases:
        if i % 7:  # keep the Spark-job count down: spot-check a sample
            continue
        df = spark.createDataFrame([(i, "x " * n)], "doc_id long, text string")
        rows = sorted(
            (r["chunk_id"], r["tok_start"], r["tok_end"])
            for r in TS.chunk_documents(df, size=size, overlap=overlap).collect()
        )
        if n == 0:
            assert rows == [], (i, n, size, overlap)
            continue
        stride = size - overlap
        assert rows[0][1] == 0
        assert rows[-1][2] == n, (rows, n, size, overlap)
        for (c0, s0, e0), (c1, s1, e1) in zip(rows, rows[1:]):
            assert c1 == c0 + 1 and s1 == s0 + stride and e0 > s1 - 1, (rows,)
        for _, s, e in rows:
            assert 0 <= s < e <= n  # no empty/overhanging chunks
            assert e - s <= size


def test_line_language_oracle_matches_engine(spark):
    """The DuckDB twins of the per-line and per-block language count the
    reference's exact letter sets: uppercase 'Ё' is neither script (its
    lowercase lies past 'я'), 'İ' and the Kelvin sign are Latin."""
    import duckdb

    from ocr_spark.operators.layout import _block_lang
    from ocr_spark.plans.entry_queries import _sql_line_lang, _sql_script_balance

    lines = [
        "Ё", "ЁЁЁ", "Ёж", "ЁЁЁ ab", "ё", "ёЁ x", "İ", "İİ ж", "K", "KK жж",
        "Kelvin K", "ДОГОВОР", "AGREEMENT", "смешанная mixed", "ab вг", "abc вг",
        "Ёлка и ЁЖ", "", " ", "123", "straße", "Çа", "ЙЙ", "ÀÉ",
    ]
    rows = list(enumerate(lines))
    got = {
        r["i"]: (r["lang"], r["block"])
        for r in spark.createDataFrame(rows, "i int, l string")
        .select("i", T.line_language(F.col("l")).alias("lang"), _block_lang(F.col("l")).alias("block"))
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE lines(i INTEGER, l VARCHAR)")
    con.executemany("INSERT INTO lines VALUES (?, ?)", rows)
    want = {
        i: (lang, block)
        for i, lang, block in con.execute(
            f"SELECT i, {_sql_line_lang('l')}, "
            f"CASE WHEN {_sql_script_balance('l')} > 0 THEN 'ru' ELSE 'en' END FROM lines"
        ).fetchall()
    }
    assert got == want
    assert {i: got[i][0] for i in got} == {i: R.line_language(l) for i, l in rows}
