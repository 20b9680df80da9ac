"""Structured field extraction + validation (SURVEY.md §2.3 T6–T13, F4,
§2.4 M10–M11, §2.5 A2) as generated Column-expression stacks.

The reference's pattern table (config.py:133-166) is config data folded
into literal `regexp_extract` chains; nothing here touches Python at
runtime. The field map sits inside `map_filter`, which Spark evaluates
interpreted (`CodegenFallback`) with no common-subexpression elimination,
so every value read twice is bound once with `text.let`: each pattern
runs at most once per text, a fallback pattern only when the earlier ones
miss, and each normalizer reads its input once.

The built-in patterns run behind two gates that skip only work that
cannot match, so the result is the same with or without them:

- a field whose every pattern needs a literal character
  (``_REQUIRED_CHAR``: ``@`` for ``email``) runs its patterns only when
  ``instr(text, char) > 0``; `@` folds to no other character, so a text
  without it matches neither pattern;
- a pattern that starts with a label alternation, ``(?:имя|name|…)``,
  starts with a lookahead over the labels' first letters,
  ``(?=[иnф])`` (:func:`_label_gate`). Under `(?iU)` Java folds case the
  same way for a class member and for a literal's letter (``K`` U+212A
  and ``ſ`` U+017F included), so the lookahead admits exactly the
  positions where a label can begin, and every other position fails on
  one class test instead of one test per label.

A caller's ``patterns`` overlay runs exactly as given, with no gate.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from ocr_spark import config
from ocr_spark.functions.text import let, py_strip


def _java_ci(pattern: str) -> str:
    """Java-regex Unicode case-insensitive prefix (== re.IGNORECASE here)."""
    return "(?iU)" + pattern


def available_fields(patterns: dict[str, list[str]] | None = None) -> list[str]:
    """get_available_fields analog (data_extractor.py:391-393): the fields
    the extractor currently knows, built-in plus any overlay."""
    merged = dict(config.FIELD_PATTERNS)
    merged.update(patterns or {})
    return sorted(merged)


# The gates are built here, not written into config.FIELD_PATTERNS: the
# reference twin (Python re) and the DuckDB oracles (RE2, no lookaround)
# read that table as it is.
# a character every built-in pattern of the field matches literally
_REQUIRED_CHAR = {"email": "@"}
# a leading non-capturing group of plain alternatives (no groups, no classes)
_LABEL = r"(?:[^()\[\]\\|]|\\.)+"
_LABELS = re.compile(rf"\(\?:({_LABEL}(?:\|{_LABEL})*)\)(?![?*{{])")


def _label_gate(pattern: str) -> str:
    """``pattern`` behind a lookahead over the first letters of its leading
    label alternation: ``(?:имя|name|фио|ф\\.и\\.о\\.?)…`` →
    ``(?=[иnф])(?:имя|…)…``. A pattern that does not start with such a
    group, not optional itself, whose labels each begin with a letter that
    is not optional either, comes back unchanged."""
    m = _LABELS.match(pattern)
    labels = re.findall(_LABEL, m.group(1)) if m else []
    if not labels or not all(lb[0].isalpha() and lb[1:2] not in ("?", "*", "{") for lb in labels):
        return pattern
    return "(?=[" + "".join(dict.fromkeys(lb[0] for lb in labels)) + "])" + pattern


def _extract_raw(text: Column, field: str, patterns: dict[str, list[str]] | None = None) -> Column:
    """First match of the first matching pattern (data_extractor.py:96-103).

    Python: `re.findall(p, text, I|M)[0].strip()`, skipping patterns whose
    first match strips to ''. regexp_extract returns '' on no match → null.
    Each stripped match is bound once and the next pattern runs only in
    the `otherwise` branch of the one before. A built-in field's patterns
    run behind the gates of the module docstring.

    ``patterns`` is the add_custom_field_pattern analog
    (data_extractor.py:376-389), Spark style: instead of mutating a
    registry at runtime, callers pass an OVERLAY that extends/overrides the
    config table per plan; it folds into literal regexp_extract columns at
    plan build and runs as given, with no gate.
    """

    def first(pats: list[str]) -> Column:
        if not pats:
            return F.lit(None).cast("string")
        m = py_strip(F.regexp_extract(text, _java_ci(pats[0]), 1))
        return let(m, lambda m: F.when(m != "", m).otherwise(first(pats[1:])))

    if patterns and field in patterns:
        return first(patterns[field])
    raw = first([_label_gate(p) for p in config.FIELD_PATTERNS[field]])
    need = _REQUIRED_CHAR.get(field)
    return F.when(F.instr(text, need) > 0, raw) if need else raw


def normalize_phone(v: Column) -> Column:
    """T7 (data_extractor.py:126-128): keep digits and '+'."""
    return F.regexp_replace(v, r"[^0-9+]", "")


def normalize_email(v: Column) -> Column:
    """T8 (data_extractor.py:129-131): lowercase."""
    return F.lower(v)


def normalize_date(v: Column) -> Column:
    """T9 (data_extractor.py:148-162): separators → '.', keep if it then
    STARTS with d{1,2}.d{1,2}.d{2,4} (re.match = start-anchored), else the
    original string. Stays a string — no DateType cast (reference parity).
    `(?U)`: Python's `\\d` matches every Unicode decimal digit."""
    return let(
        F.regexp_replace(v, r"[/\-]", "."),
        lambda norm: F.when(norm.rlike(r"(?U)^\d{1,2}\.\d{1,2}\.\d{2,4}"), norm).otherwise(v),
    )


def normalize_amount(v: Column) -> Column:
    """T10 (data_extractor.py:164-179): first number, comma → dot.
    `(?U)`: Python's `\\d` matches every Unicode decimal digit."""
    return let(
        F.regexp_extract(v, r"(?U)(\d+(?:[.,]\d+)?)", 1),
        lambda num: F.when(num != "", F.regexp_replace(num, ",", ".")).otherwise(v),
    )


def normalize_name(v: Column) -> Column:
    """T11 (data_extractor.py:181-198): per-word `w[0].upper()+w[1:].lower()`,
    words joined with a single space (Python split() collapses whitespace).
    Spark initcap capitalizes after any whitespace and lowercases tails —
    identical once we collapse runs of whitespace first."""
    collapsed = py_strip(F.regexp_replace(v, r"(?U)\s+", " "))
    return F.initcap(collapsed)


_NORMALIZERS = {
    "phone": normalize_phone,
    "email": normalize_email,
    "date": normalize_date,
    "amount": normalize_amount,
    "name": normalize_name,
}


def extract_field(text: Column, field: str, patterns: dict[str, list[str]] | None = None) -> Column:
    """T6 + per-field cleanup (data_extractor.py:79-146). Null if absent.
    ``patterns`` overlays/extends the config table (custom fields get no
    normalizer, matching the reference's add_custom_field_pattern)."""
    raw = _extract_raw(text, field, patterns)
    norm = _NORMALIZERS.get(field)
    return let(raw, norm) if norm else raw


def extract_fields_map(
    text: Column,
    fields: list[str] | None = None,
    patterns: dict[str, list[str]] | None = None,
) -> Column:
    """All fields as map<string,string>, with F4 cleanup: entries whose value
    is null/blank are dropped (data_extractor.py:200-221). With a
    ``patterns`` overlay and no explicit ``fields``, custom fields are
    extracted alongside the defaults."""
    if fields is None:
        fields = list(config.DEFAULT_FIELDS) + sorted(
            f for f in (patterns or {}) if f not in config.FIELD_PATTERNS
        )
    entries = [
        (F.lit(f), extract_field(text, f, patterns))
        for f in fields
    ]
    m = F.map_from_arrays(
        F.array(*[k for k, _ in entries]),
        F.array(*[v for _, v in entries]),
    )
    return F.map_filter(m, lambda k, v: v.isNotNull() & (py_strip(v) != ""))


def validate_json(_data: Column) -> Column:
    """T12 (data_extractor.py:223-240): json.dumps on typed columns is total
    → constant true; kept for API parity."""
    return F.lit(True)


def validate_schema(data_map: Column, schema: dict) -> Column:
    """T13: compile a JSON Schema dict into one boolean expression
    (data_extractor.py:242-266; default schemas config.py:99-130).

    Supported (all the defaults need): required keys, per-property
    `pattern` (re.search semantics) and `minLength` on string values.
    `format` is annotation-only in jsonschema's default validator → ignored.
    No UDF — a pure expression the optimizer can push around.
    """
    if not schema:
        return F.lit(True)
    conds: list[Column] = []
    for key in schema.get("required", []):
        conds.append(F.element_at(data_map, key).isNotNull())
    for key, spec in schema.get("properties", {}).items():
        v = F.element_at(data_map, key)
        checks: list[Column] = []
        if "pattern" in spec:
            checks.append(v.rlike(spec["pattern"]))
        if "minLength" in spec:
            checks.append(F.length(v) >= int(spec["minLength"]))
        if checks:
            ok = checks[0]
            for c in checks[1:]:
                ok = ok & c
            conds.append(F.when(v.isNull(), F.lit(True)).otherwise(ok))
    if not conds:
        return F.lit(True)
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def schema_consistency(data_map: Column) -> Column:
    """True iff the extracted map satisfies ANY of the three default schemas
    (mirrors the service's optional schema check, main.py:143-146)."""
    cols = [validate_schema(data_map, s) for s in config.DEFAULT_SCHEMAS.values()]
    out = cols[0]
    for c in cols[1:]:
        out = out | c
    return out


def field_accuracy(extracted: Column, ground_truth: Column) -> Column:
    """M10 (data_extractor.py:268-298): per-field exact equality over the
    ground-truth keys → map<string,double> of {0.0, 1.0}."""
    return F.map_from_arrays(
        F.map_keys(ground_truth),
        F.transform(
            F.map_keys(ground_truth),
            lambda k: F.when(
                (F.element_at(ground_truth, k) != "")
                & F.element_at(ground_truth, k).isNotNull()
                & (F.coalesce(F.element_at(extracted, k), F.lit("")) == F.element_at(ground_truth, k)),
                F.lit(1.0),
            ).otherwise(F.lit(0.0)),
        ),
    )


def _char_jaccard(a: Column, b: Column) -> Column:
    """lower → char sets → |∩|/|∪| (data_extractor.py:326-334)."""
    sa = F.array_distinct(F.filter(F.split(F.lower(a), ""), lambda c: c != ""))
    sb = F.array_distinct(F.filter(F.split(F.lower(b), ""), lambda c: c != ""))
    union = F.size(F.array_union(sa, sb))
    return F.when(union > 0, F.size(F.array_intersect(sa, sb)).cast("double") / union).otherwise(F.lit(0.0))


def field_f1(extracted: Column, ground_truth: Column) -> Column:
    """M11 (data_extractor.py:300-344): per-field 1.0 on exact match, else
    char-Jaccard of lowercased char sets; 0.0 when either side is empty."""

    def per_key(k: Column) -> Column:
        g = F.element_at(ground_truth, k)
        e = F.coalesce(F.element_at(extracted, k), F.lit(""))
        return (
            F.when(g.isNull() | (g == ""), F.lit(0.0))
            .when(e == g, F.lit(1.0))
            .when(e == "", F.lit(0.0))
            .otherwise(_char_jaccard(e, g))
        )

    return F.map_from_arrays(
        F.map_keys(ground_truth),
        F.transform(F.map_keys(ground_truth), per_key),
    )


def exact_match_pct(df, extracted_col="extracted_data", gt_col="ground_truth_data"):
    """A2 (data_extractor.py:346-374): % of rows whose extracted map equals
    the ground-truth map. Map equality = same keys and values (compare
    sorted entry lists — map equality isn't defined in SQL)."""

    def entries(c):
        return F.array_sort(
            F.transform(
                F.map_keys(c), lambda k: F.struct(k.alias("k"), F.element_at(c, k).alias("v"))
            )
        )

    eq = (entries(F.col(extracted_col)) == entries(F.col(gt_col))).cast("double")
    return df.agg((F.avg(eq) * 100).alias("exact_match_percentage"))


def extract_fields_spans(
    docs,
    fields: list[str] | None = None,
    patterns: dict[str, list[str]] | None = None,
    id_col: str = "doc_id",
    spans_col: str = "spans",
):
    """Span-level field tagging on the interleaved corpus shape: which
    SPAN yielded each extracted key field — the provenance the north-star
    pipeline keeps next to structured data (a doc-level map says WHAT was
    extracted, this says WHERE). Returns one row per (text span, found
    field): (doc_id, span_ord, field, value, is_first) with span_ord the
    span's position among ALL spans in canonical order (the span-sequence
    order contract, ``operators/spans``) and is_first marking the
    document-level winner — the lowest-ord occurrence, mirroring
    first-match semantics of the full-text extractor
    (data_extractor.py:79-146).

    Plan shape: sort + posexplode is narrow per document; the regex stack
    is the same folded literal chain as extract_fields_map; the only
    shuffle is the (doc_id, field) is_first window, whose partitions are
    tiny (≤ spans-per-doc rows). Skew bounded by document size."""
    from pyspark.sql import DataFrame, Window  # local: fields.py is Column-only elsewhere

    from ocr_spark.operators.spans import span_order

    assert isinstance(docs, DataFrame)
    d1 = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(span_order(F.col(spans_col))).alias("span_ord", "s"),
    )
    d2 = d1.filter(F.col("s.kind") == "text").select(
        "doc_id",
        F.col("span_ord").cast("long").alias("span_ord"),
        extract_fields_map(F.col("s.text"), fields, patterns).alias("fmap"),
    )
    d3 = d2.select(
        "doc_id", "span_ord", F.explode("fmap").alias("field", "value")
    )
    w = Window.partitionBy("doc_id", "field").orderBy("span_ord")
    return d3.withColumn("is_first", F.row_number().over(w) == 1)
