"""Field extraction + validation vs pure-Python golden on the reference's
fixture docs (FIXTURES.md §3, verbatim from demo.py:69-85 / test_api.py:134)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_spark import config
from ocr_spark.functions import fields as FX
from tests import reference_impl as ref

DOCS = [
    ("f1", "ФИО: Иванов Иван Иванович, Дата рождения: 01.01.1990, Паспорт: 1234 567890"),
    ("f2", "Заказчик: Петров Петр Петрович, Сумма: 100000 руб, Дата: 15.03.2023"),
    ("f3", "Имя: Сидоров Сидор, Телефон: +7(999)123-45-67, Email: sidor@example.com"),
    ("f4", "Имя: Иван Иванов, Дата: 01.01.2023, Телефон: +7(999)123-45-67"),
    ("f5", "Договор № 123 от 01/02-2023, сумма: 1500,75 руб, ИНН: 1234567890"),
    ("f6", "Contact: john.DOE+x@Example.COM, phone +1 (555) 123-4567 ext"),
    ("f7", "пустой документ без полей"),
    ("f8", "Адрес: г. Москва, ул. Ленина, д. 1"),
    # Python's \d is every Unicode decimal digit: the date and amount
    # normalizers must match Arabic-Indic digits as the reference does
    ("f9", "Дата: ١٢/٠٣/٢٠٢٣"),
    ("f10", "Сумма: ١٠٠,٥ руб"),
]


@pytest.fixture(scope="module")
def extracted_rows(spark):
    df = spark.createDataFrame(DOCS, "doc_id string, text string")
    out = df.select(
        "doc_id",
        FX.extract_fields_map(F.col("text")).alias("fields"),
    )
    return {r["doc_id"]: r["fields"] for r in out.collect()}


@pytest.mark.parametrize("doc_id,text", DOCS)
def test_extract_fields_match_reference(extracted_rows, doc_id, text):
    expected = ref.extract_fields(text)
    assert extracted_rows[doc_id] == expected, (
        f"{doc_id}: spark={extracted_rows[doc_id]} expected={expected}"
    )


def test_schema_validation(spark):
    # maps that should pass / fail each default schema (config.py:99-130)
    rows = [
        ("ok_person", {"name": "Иванов Иван", "date": "01.01.2023"}),
        ("bad_person", {"date": "01.01.2023"}),  # missing required name
        ("ok_financial", {"amount": "100.5", "date": "15.03.2023"}),
        ("bad_financial", {"amount": "100.5", "date": "вчера"}),  # bad pattern
        ("ok_identity", {"name": "Иванов", "passport": "1234 567890"}),
        ("bad_identity", {"name": "Иванов", "passport": "12-34"}),
    ]
    import jsonschema

    df = spark.createDataFrame(rows, "case string, data map<string,string>")
    out = df.select(
        "case",
        *[
            FX.validate_schema(F.col("data"), schema).alias(name)
            for name, schema in config.DEFAULT_SCHEMAS.items()
        ],
    )
    got = {r["case"]: r.asDict() for r in out.collect()}
    for case, data in rows:
        for name, schema in config.DEFAULT_SCHEMAS.items():
            try:
                jsonschema.validate(data, schema)
                expected = True
            except jsonschema.ValidationError:
                expected = False
            assert got[case][name] == expected, f"{case} vs {name}: got {got[case][name]}, want {expected}"


def test_field_accuracy_and_f1(spark):
    rows = [
        (
            "d1",
            {"name": "Иван Иванов", "date": "01.01.2023"},
            {"name": "Иван Иванов", "date": "02.01.2023", "phone": "+79991234567"},
        ),
        ("d2", {}, {"name": "Иван"}),
    ]
    df = spark.createDataFrame(
        rows, "doc string, extracted map<string,string>, gt map<string,string>"
    )
    out = df.select(
        "doc",
        FX.field_accuracy(F.col("extracted"), F.col("gt")).alias("acc"),
        FX.field_f1(F.col("extracted"), F.col("gt")).alias("f1"),
    ).collect()
    by_doc = {r["doc"]: r for r in out}
    # golden per data_extractor.py:268-344
    for doc, extracted, gt in rows:
        for field, gval in gt.items():
            eval_ = extracted.get(field, "")
            want_acc = 1.0 if (gval and eval_ == gval) else 0.0
            assert by_doc[doc]["acc"][field] == want_acc
            if not gval:
                want_f1 = 0.0
            elif eval_ == gval:
                want_f1 = 1.0
            elif eval_ and gval:
                common = set(eval_.lower()) & set(gval.lower())
                total = set(eval_.lower()) | set(gval.lower())
                want_f1 = len(common) / len(total) if total else 0.0
            else:
                want_f1 = 0.0
            assert abs(by_doc[doc]["f1"][field] - want_f1) < 1e-12, (doc, field)


def test_exact_match_pct(spark):
    rows = [
        ("a", {"x": "1"}, {"x": "1"}),
        ("b", {"x": "1"}, {"x": "2"}),
        ("c", {"x": "1", "y": "2"}, {"y": "2", "x": "1"}),
        ("d", {}, {}),
    ]
    df = spark.createDataFrame(rows, "doc string, extracted_data map<string,string>, ground_truth_data map<string,string>")
    row = FX.exact_match_pct(df).collect()[0]
    assert abs(row["exact_match_percentage"] - 75.0) < 1e-12


def test_custom_field_pattern_overlay(spark):
    """add_custom_field_pattern / get_available_fields analogs
    (data_extractor.py:376-393): a pattern overlay extends the extractor
    per-plan, without touching the config registry."""
    from ocr_spark.functions import fields as FF

    overlay = {"order_id": [r"order\s+#(\w+)"]}
    assert "order_id" in FF.available_fields(overlay)
    assert "order_id" not in FF.available_fields()

    df = spark.createDataFrame(
        [(1, "please ship Order #A17B9 today"), (2, "no order here")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["m"]
        for r in df.select(
            "doc_id", FF.extract_fields_map(F.col("text"), patterns=overlay).alias("m")
        ).collect()
    }
    assert got[1]["order_id"] == "A17B9"  # (?i) case-insensitive like built-ins
    assert "order_id" not in got[2]
    # built-in extraction still works through the overlay path
    df2 = spark.createDataFrame([(3, "email: Foo@Bar.COM")], "doc_id long, text string")
    m = df2.select(FF.extract_fields_map(F.col("text"), patterns=overlay).alias("m")).first()["m"]
    assert m["email"] == "foo@bar.com"


def test_custom_pattern_overrides_builtin(spark):
    from ocr_spark.functions import fields as FF

    overlay = {"email": [r"contact=(\S+)"]}  # replaces the built-in pattern
    df = spark.createDataFrame([(1, "contact=X@Y.Z no plain email")], "doc_id long, text string")
    v = df.select(FF.extract_field(F.col("text"), "email", overlay).alias("v")).first()["v"]
    assert v == "x@y.z"  # email normalizer still applies


def test_extract_fields_spans_provenance(spark):
    docs = spark.createDataFrame(
        [
            # phone in span 0 AND span 3 (is_first picks ord 0);
            # media span occupies ord 1; date in span 2
            (
                1,
                [
                    ("text", "Телефон: +7 (905) 123-45-67", "", 0),
                    ("media", None, "m-1", 16),
                    ("text", "Дата: 01.02.2023", "", 32),
                    ("text", "Телефон: +7 (905) 999-45-67", "", 48),
                ],
            ),
            # out-of-offset-order input: ord must follow offsets, not
            # array position
            (
                2,
                [
                    ("text", "Email: A@B.COM", "", 16),
                    ("text", "Имя: Иван Петров", "", 0),
                ],
            ),
        ],
        "doc_id long, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    rows = FX.extract_fields_spans(docs).collect()
    d1 = {(r.field, r.span_ord): r for r in rows if r.doc_id == 1}
    assert d1[("phone", 0)].value == "+79051234567"
    assert d1[("phone", 0)].is_first and not d1[("phone", 3)].is_first
    assert d1[("date", 2)].value == "01.02.2023"
    assert ("phone", 1) not in d1  # media span yields nothing
    d2 = {r.field: r for r in rows if r.doc_id == 2}
    assert d2["name"].span_ord == 0 and d2["email"].span_ord == 1
    assert d2["email"].value == "a@b.com"
