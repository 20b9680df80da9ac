"""Scalar text functions (SURVEY.md §2.3 T1–T5) as pure Column expressions.

No Python in the hot path, and everything but the higher-order helpers
:func:`let` (which :func:`line_language` uses), :func:`scan`,
:func:`nearest` and :func:`runs` stays inside whole-stage codegen.
Semantics follow the reference exactly (citations inline); the pure-Python
twin lives in ``tests/reference_impl.py``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ocr_spark import config

# Cyrillic char classes. The reference uses TWO subtly different counts:
#  * ocr_service._detect_language (ocr_service.py:650): lowercases first,
#    then counts 'а'<=c<='я' — NOTE: 'ё' (U+0451) is OUTSIDE that range.
#  * pdf_processor per-line counts (pdf_processor.py:304,:436): counts
#    'а'<=c.lower()<='я' OR c in the lowercase alphabet incl 'ё', and
#    Latin as 'a'<=c.lower()<='z' (a string comparison, so 'İ' → 'i̇' and
#    the Kelvin sign → 'k' count too). Over single characters that is
#    exactly the sets below; uppercase 'Ё' is in neither, because its
#    lowercase 'ё' lies past 'я'. :func:`cyrillic_count` (the lowered
#    [а-яё] count) does count 'Ё'.
_CYR_NO_YO = "а-я"
_CYR_WITH_YO = "а-яё"
_PDF_CYRILLIC = "АБВГДЕЖЗИЙКЛМНОПРСТУФХЦЧШЩЪЫЬЭЮЯабвгдежзийклмнопрстуфхцчшщъыьэюяё"
_PDF_LATIN = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz\u0130\u212a"


def _count_chars(col: Column, char_class: str) -> Column:
    """Number of characters of ``col`` inside the regex class (JVM-side)."""
    return F.length(col) - F.length(F.regexp_replace(col, f"[{char_class}]", ""))


def normalize_text(col: Column) -> Column:
    """T1 (metrics_calculator.py:280-302): lower, collapse \\s+ to ' ', strip."""
    collapsed = F.regexp_replace(F.lower(F.coalesce(col, F.lit(""))), r"(?U)\s+", " ")
    return F.regexp_replace(collapsed, r"^ | $", "")


# Java's ``(?U)\s`` (Unicode White_Space), the whitespace every ``(?U)\s``
# regex in the engine splits on: U+0009-000D, U+0020, U+0085, U+00A0,
# U+1680, U+2000-200A, U+2028, U+2029, U+202F, U+205F, U+3000.
UNICODE_WHITESPACE = (
    "\t\n\x0b\x0c\r \x85\xa0\u1680"
    + "".join(chr(c) for c in range(0x2000, 0x200B))
    + "\u2028\u2029\u202f\u205f\u3000"
)


def py_strip(col: Column) -> Column:
    """``str.strip()`` over the 25 code points of :data:`UNICODE_WHITESPACE`
    (null → ""), unlike Spark ``trim``, which strips only U+0020.

    One ``btrim``: the same result as the regex ``(?U)^\\s+|\\s+$`` on every
    code point, without running a regex. Python's own ``str.strip()`` also
    strips U+001C-001F (the information separators); this does not, and
    never has."""
    return F.btrim(F.coalesce(col, F.lit("")), F.lit(UNICODE_WHITESPACE))


def let(value: Column, body) -> Column:
    """``body(v)`` with ``v`` bound to ``value``, which is evaluated once.

    Spark runs higher-order functions (``transform``, ``filter``,
    ``map_filter``, ``aggregate``, ...) interpreted, with no
    common-subexpression elimination inside their arguments, so an
    expression that reads the same sub-expression twice evaluates it
    twice. Outside them, ``nullif`` and friends are rewritten through
    Spark's ``With``, which hoists its input only when the use is not
    under a conditional. A one-element ``transform`` is the binding that
    holds everywhere: its lambda variable is the value, computed once,
    and a ``when``/``coalesce`` in ``body`` stays lazy."""
    return F.transform(F.array(value), body)[0]


def scan(xs: Column, zero: Column, step) -> Column:
    """Inclusive prefix fold: out[i] = step(out[i-1], xs[i]), out[-1] =
    ``zero``. One ``aggregate`` that reads ``xs`` once and runs ``step``
    once per element (each append copies the flat states so far, cheap
    next to the per-element work of its callers); a per-element fold over
    a slice would re-run ``step`` quadratically often."""
    return F.aggregate(
        xs,
        F.array(zero),
        lambda acc, x: F.concat(acc, F.array(step(F.element_at(acc, -1), x))),
        lambda acc: F.slice(acc, 2, F.size(acc) - 1),
    )


def nearest(xs: Column, zero: Column, pick) -> Column:
    """struct(p, n): p[i] / n[i] = ``pick`` of the nearest element at or
    before / at or after i whose ``pick`` is not null (``zero`` past either
    end). For an element whose own ``pick`` is null, that is the nearest
    one strictly before / after it. Two :func:`scan` passes."""

    def step(prev: Column, x: Column) -> Column:
        return F.coalesce(pick(x), prev)

    return F.struct(
        scan(xs, zero, step).alias("p"),
        F.reverse(scan(F.reverse(xs), zero, step)).alias("n"),
    )


def runs(xs: Column, same, emit) -> Column:
    """``emit(run, j)`` for each maximal run of adjacent elements of ``xs``
    (the ``j``-th, 0-based), where ``same(a, b)`` says that ``b`` continues
    the run of its predecessor ``a`` (null counts as false).

    ``xs`` and the run starts are each bound once with :func:`let`; a run
    is the slice from its start to the next one, bound once for ``emit``.
    The work is linear in ``xs``: no per-element copy of an accumulator
    (unlike an ``aggregate`` that rewrites its tail) and no window."""

    def over(a: Column) -> Column:
        starts = F.filter(
            F.transform(a, lambda _, i: i),
            lambda i: (i == 0) | ~F.coalesce(same(F.get(a, i - 1), F.get(a, i)), F.lit(False)),
        )
        return let(
            starts,
            lambda st: F.transform(
                st,
                lambda p, j: let(
                    F.slice(a, p + 1, F.coalesce(F.get(st, j + 1), F.size(a)) - p),
                    lambda run: emit(run, j),
                ),
            ),
        )

    return let(xs, over)


def split_words(col: Column) -> Column:
    """T2 (metrics_calculator.py:304-321): normalize then split on spaces.

    Returns an empty array for empty text (Python ``"".split() == []``).
    """
    norm = normalize_text(col)
    return F.when(norm == "", F.array().cast("array<string>")).otherwise(F.split(norm, " "))


def char_set(col: Column) -> Column:
    """Distinct characters of the *normalized* text (set semantics of
    metrics_calculator.py:171-173; includes the space character)."""
    norm = normalize_text(col)
    return F.array_distinct(F.filter(F.split(norm, ""), lambda c: c != ""))


def word_set(col: Column) -> Column:
    """Distinct normalized words (metrics_calculator.py:209-210)."""
    return F.array_distinct(split_words(col))


def cyrillic_count(col: Column, include_yo: bool = True) -> Column:
    """Script char count on the lowered text (pdf variant includes 'ё',
    ocr variant does not — see module docstring)."""
    cls = _CYR_WITH_YO if include_yo else _CYR_NO_YO
    return _count_chars(F.lower(F.coalesce(col, F.lit(""))), cls)


def latin_count(col: Column) -> Column:
    return _count_chars(F.lower(F.coalesce(col, F.lit(""))), "a-z")


def detect_language_ocr(col: Column) -> Column:
    """T4, ocr_service.py:632-662: 'ru' / 'en' / 'mixed' / 'unknown'.

    Empty or null text → 'unknown' is only produced by the reference when the
    input *list* is empty; a present-but-empty string gives cyr==lat==0 →
    'mixed'. We mirror that: null → 'unknown', else compare counts.
    """
    cyr = cyrillic_count(col, include_yo=False)
    lat = latin_count(col)
    return (
        F.when(col.isNull(), F.lit("unknown"))
        .when(cyr > lat, F.lit("ru"))
        .when(lat > cyr, F.lit("en"))
        .otherwise(F.lit("mixed"))
    )


def script_balance(col: Column) -> Column:
    """Cyrillic minus Latin letters of ``col`` by the pdf per-line counts
    (null → null), without a regex: each count is the length a
    ``translate`` that deletes its letters takes off the text, so the
    difference is that of the two translated lengths."""
    return F.length(F.translate(col, _PDF_LATIN, "")) - F.length(F.translate(col, _PDF_CYRILLIC, ""))


def line_language(col: Column) -> Column:
    """Per-line language of the PDF path (pdf_processor.py:789-797):
    'ru' if cyr>lat and cyr>0; 'en' if lat>cyr and lat>0; else 'mixed'.
    Both counts are ≥ 0, so cyr>lat already means cyr>0: the sign of
    :func:`script_balance`, evaluated once, decides."""
    return let(
        script_balance(col),
        lambda d: F.when(d > 0, F.lit("ru")).when(d < 0, F.lit("en")).otherwise(F.lit("mixed")),
    )


def text_quality_score(col: Column) -> Column:
    """T5 (ocr_service.py:154-168): 2*cyr_ratio + word_density + 0.5*length_score.

    cyr follows the reference's exact quirk: ``'а'<=ch.lower()<='я' or ch
    in 'ёй'`` — the literal check is on the UNLOWERED char, so lowercase
    'ё' counts but uppercase 'Ё' does NOT ('й' is inside а-я either way).
    num_alpha counts Unicode letters (``\\p{L}``, the characters Python's
    ``str.isalpha`` accepts); words = whitespace tokens containing a
    letter; word_density = #words / max(1, len/25); length_score =
    min(len/1000, 1). Returns 0.0 for empty / letterless text.
    """
    c = F.coalesce(col, F.lit(""))
    num_alpha = _count_chars(c, r"\p{L}")
    cyr = cyrillic_count(c, include_yo=False) + _count_chars(c, "ё")
    cyr_ratio = cyr / F.greatest(F.lit(1), num_alpha)
    # words with at least one letter
    toks = F.filter(
        F.split(py_strip(c), r"(?U)\s+"),
        lambda w: w.rlike(r"\p{L}"),
    )
    word_density = F.size(toks) / F.greatest(F.lit(1.0), F.length(c) / F.lit(25.0))
    length_score = F.least(F.length(c) / F.lit(1000.0), F.lit(1.0))
    score = F.lit(2.0) * cyr_ratio + word_density + F.lit(0.5) * length_score
    return F.when((c == "") | (num_alpha == 0), F.lit(0.0)).otherwise(score)


def correct_ocr_errors(col: Column) -> Column:
    """T3 (ocr_service.py:317-373): sequential literal replaces.

    The reference's "second pass" over mixed-script words
    (ocr_service.py:358-369) is provably a no-op: it re-applies only the
    single-char mappings, all of which pass 1 already applied globally, so
    ``fixed_word == word`` always. This implementation is therefore exactly
    equivalent with just the first pass (the pure-Python twin makes the
    same reduction; fuzz parity covers both against mixed-script inputs).

    Multi-char word fixes must run in dict insertion order; single-char maps
    compose into one translate(). The reference applies char maps and word
    maps in one interleaved dict loop, but since the single-char sources
    never overlap the multi-char sources' outputs *in dict order preceding
    them*, we replicate exactly by applying replacements strictly in
    insertion order (chars first in the dict, then words — matching
    ocr_service.py:329-346 literal order).
    """
    out = F.coalesce(col, F.lit(""))
    # single-char corrections in dict order == one translate (no overlap
    # between sources; translate applies simultaneously which equals
    # sequential here because no correction output is another's input
    # within the char map... except chains like 'a'->'а' (latin->cyr) which
    # never re-trigger since outputs are Cyrillic and inputs Latin/digits).
    src = "".join(config.OCR_CHAR_CORRECTIONS.keys())
    dst = "".join(config.OCR_CHAR_CORRECTIONS.values())
    out = F.translate(out, src, dst)
    for wrong, right in config.OCR_WORD_CORRECTIONS.items():
        # after translate, latin-letter patterns like 'TOO' can no longer
        # appear; the reference has the same dead branches (its char pass
        # precedes word entries in dict order). Apply anyway for parity
        # with mixed remnants.
        out = F.replace(out, F.lit(wrong), F.lit(right))
    return out
