"""Central configuration: every magic number / pattern the reference engine uses.

All thresholds and regex patterns are re-keyed from the reference's behavior
(cited per entry) so the Spark pipeline, the pure-Python golden generator in
``tests/reference_impl.py``, and the DuckDB oracle SQL all share one source of
truth.  Reference: NextFutureHub/OCR (read-only at /root/reference).
"""

from __future__ import annotations

# --- confidence thresholds (ocr_service.py:303, ocr_service.py:448, config.py:19)
CONF_TEXT_ASSEMBLY = 0.4  # boxes kept for full-text assembly
CONF_LAYOUT = 0.3  # boxes kept for column analysis / single-column fallback
CONF_DEFAULT_MIN = 0.5  # extract_text_with_confidence default

# --- geometry column split (ocr_service.py:472)
COLUMN_GAP_FRACTION = 0.15  # max x-gap must be >= 15% of image width

# --- PDF routing gate (pdf_processor.py:31)
PDF_DIRECT_TEXT_MIN_CHARS = 10  # len(text.strip()) > 10 -> direct path

# --- side-by-side (translation-pair) detector (pdf_processor.py:344-362)
SBS_MIN_LINES = 10
SBS_MIN_PAIRS = 5
SBS_CONFIDENCE = 0.95  # pdf_processor.py:456
# keyword pairs (pdf_processor.py:394-401)
TRANSLATION_KEYWORD_PAIRS = [
    ("ДОГОВОР", "AGREEMENT"),
    ("ИСПОЛНИТЕЛЬ", "CONTRACTOR"),
    ("ЗАКАЗЧИК", "CUSTOMER"),
    ("СТОРОНА", "PARTY"),
    ("УСЛОВИЯ", "TERMS"),
    ("УСЛУГИ", "SERVICES"),
]
NUMBERED_ITEM_PREFIXES = ("1.", "2.", "3.", "4.", "5.")  # pdf_processor.py:389

# --- bilingual-structure detector (pdf_processor.py:502, :531)
BILINGUAL_MIN_LINES = 6
BILINGUAL_MIN_PAIRS = 3
BILINGUAL_CONFIDENCE = 0.9  # pdf_processor.py:576

# --- alternating-language detector (pdf_processor.py:778, :834, :852)
ALTERNATING_MIN_LINES = 4
ALTERNATING_SIZE_RATIO = 0.2
ALTERNATING_CONFIDENCE = 0.8

# --- pattern-split detector (pdf_processor.py:653, :713, :738)
PATTERN_MIN_COUNT = 3
PATTERN_SIZE_RATIO = 0.3
PATTERN_CONFIDENCE = 0.8

# --- field extraction patterns (config.py:133-166 / data_extractor.py:12-45).
# Order matters: first pattern with a match wins (data_extractor.py:96-103).
# Written for Java regex, run with an `(?iU)` prefix (fields._java_ci):
# UNICODE_CHARACTER_CLASS: Unicode case folding and Unicode `\s`/`\d`.
# Python's `\s` and `\d` on str are Unicode, and `(?iu)` would leave them
# ASCII-only in Java, so `(?iU)` is what matches re.IGNORECASE here.
# DuckDB (RE2) uses `(?i)`.
FIELD_PATTERNS: dict[str, list[str]] = {
    "name": [
        r"(?:имя|name|фио|ф\.и\.о\.?)\s*:?\s*([а-яё\s]+)",
        r"([А-ЯЁ][а-яё]+\s+[А-ЯЁ][а-яё]+(?:\s+[А-ЯЁ][а-яё]+)?)",
    ],
    "date": [
        r"(?:дата|date)\s*:?\s*(\d{1,2}[./]\d{1,2}[./]\d{2,4})",
        r"(\d{1,2}[./]\d{1,2}[./]\d{2,4})",
    ],
    "phone": [
        r"(?:телефон|phone|тел\.?)\s*:?\s*([+]?[0-9\s\-\(\)]+)",
        r"([+]?[0-9\s\-\(\)]{10,})",
    ],
    "email": [
        r"(?:email|почта|e-mail)\s*:?\s*([a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,})",
        r"([a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,})",
    ],
    "address": [
        r"(?:адрес|address|адр\.?)\s*:?\s*([а-яё\s\d,.-]+)",
        r"(г\.\s*[а-яё\s]+,\s*[а-яё\s\d,.-]+)",
    ],
    "passport": [
        r"(?:паспорт|passport|пасп\.?)\s*:?\s*(\d{4}\s*\d{6})",
        r"(\d{4}\s*\d{6})",
    ],
    "inn": [
        r"(?:инн|inn)\s*:?\s*(\d{10,12})",
        r"(\d{10,12})",
    ],
    "amount": [
        r"(?:сумма|amount|сумм\.?)\s*:?\s*(\d+(?:[.,]\d+)?)",
        r"(\d+(?:[.,]\d+)?\s*(?:руб|р\.?|₽))",
    ],
}
DEFAULT_FIELDS = ["name", "date", "phone", "email", "address", "passport", "inn", "amount"]

# --- JSON validation schemas (config.py:99-130)
DEFAULT_SCHEMAS: dict[str, dict] = {
    "person_document": {
        "type": "object",
        "properties": {
            "name": {"type": "string", "minLength": 1},
            "date": {"type": "string", "pattern": r"^\d{1,2}[./]\d{1,2}[./]\d{2,4}$"},
            "phone": {"type": "string", "pattern": r"^[+]?[0-9\s\-\(\)]+$"},
            "email": {"type": "string", "format": "email"},
        },
        "required": ["name"],
    },
    "financial_document": {
        "type": "object",
        "properties": {
            "amount": {"type": "string", "pattern": r"^\d+(?:[.,]\d+)?$"},
            "date": {"type": "string", "pattern": r"^\d{1,2}[./]\d{1,2}[./]\d{2,4}$"},
            "inn": {"type": "string", "pattern": r"^\d{10,12}$"},
        },
        "required": ["amount", "date"],
    },
    "identity_document": {
        "type": "object",
        "properties": {
            "name": {"type": "string", "minLength": 1},
            "passport": {"type": "string", "pattern": r"^\d{4}\s*\d{6}$"},
            "date": {"type": "string", "pattern": r"^\d{1,2}[./]\d{1,2}[./]\d{2,4}$"},
        },
        "required": ["name", "passport"],
    },
}

# --- OCR error-correction maps (ocr_service.py:329-346).
# Insertion order is semantic: replacements are applied sequentially.
OCR_CHAR_CORRECTIONS: dict[str, str] = {
    "a": "а", "A": "А", "B": "В", "C": "С", "E": "Е", "H": "Н",
    "K": "К", "M": "М", "O": "О", "P": "Р", "T": "Т", "X": "Х",
    "Y": "У", "c": "с", "e": "е", "o": "о", "p": "р", "x": "х",
    "y": "у", "r": "г", "u": "и", "n": "п", "b": "б", "d": "д",
    "6": "б", "9": "я", "I": "І", "l": "л", "1": "І",
}
OCR_WORD_CORRECTIONS: dict[str, str] = {
    "TOO": "ТОО", "OOO": "ООО", "LLC": "ЛЛС",
    "AOBOP": "ДОГОВОР", "roBoр": "ДОГОВОР", "AoroBop": "Договор",
    "KyrrJrrr": "Кыргыз", "Anruarrr": "Алматы", "Anruarr": "Алматы",
    "AoroBopa": "Договора", "Cropourr": "Сторон", "Cropon": "Сторон",
    "rpoAalrur": "рамочный", "O6oy4onauus": "обслуживание",
    "aKaзчик": "Заказчик", "oMnaния": "Компания", "омпания": "Компания",
    "редприятие": "Предприятие", "едприятие": "Предприятие",
    "редмет": "Предмет", "оимость": "Стоимость", "Tоимость": "Стоимость",
}

# --- span pipeline (new engine; north_rule) --------------------------------
# Salting: a document's spans are pre-aggregated in offset-contiguous chunks
# of this many offset units, so one mega-document spreads over many reducers.
SPAN_SALT_CHUNK = 4096
# Hybrid skew routing: documents with more kept spans than this take the
# salted two-phase assembly; the rest take the cheaper single-shuffle path
# (crossover + OOM rationale measured in tools/skew_bench.py / BENCH.md).
BIG_DOC_SPANS = 100_000
# Boilerplate classifier thresholds (Boilerpipe-style NumWords/LinkDensity
# rules, deterministic; see operators/spans.py docstring).
BOILERPLATE_MAX_LINK_DENSITY = 0.33
BOILERPLATE_MIN_WORDS = 5
BOILERPLATE_MARKER_PATTERN = (
    r"(?i)^(?:©|copyright|all rights reserved|cookie|privacy policy|"
    r"terms of (?:use|service)|navigation|menu|home\s*\||skip to content)"
)

# --- training-data ops ------------------------------------------------------
MINHASH_NUM_HASHES = 16  # minhash signature length
MINHASH_BAND_SIZE = 4  # rows per LSH band -> 4 bands
SHINGLE_SIZE = 3  # word n-gram shingles
NEAR_DUP_JACCARD = 0.8
SIMHASH_BITS = 64

# language-ID stopword profiles (public-knowledge function words)
LANGID_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "you", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"],
    "fr": ["le", "la", "les", "et", "est", "pas", "une", "pour", "que", "dans"],
    "es": ["el", "la", "los", "y", "es", "no", "una", "por", "que", "con"],
    "ru": ["и", "в", "не", "на", "что", "это", "с", "как", "по", "для"],
}
