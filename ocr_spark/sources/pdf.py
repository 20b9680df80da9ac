"""PDF sources (SURVEY.md §2.1 S2–S5) over binary document columns.

The reference shells out to PyPDF2 / pdf2image+poppler per request
(pdf_processor.py:168-184, :259-290). Here:

- S5 sniffer        pure Column expression over (path, content) — magic
                    bytes '%PDF' or extension (pdf_processor.py:1011-1035)
- S2 direct text    Arrow-batched UDF: pypdf when importable; otherwise a
                    built-in reader covering the real-world structural
                    range — classic and PDF 1.5+ object-stream (/ObjStm)
                    files, /FlateDecode (+PNG predictors) and /LZWDecode
                    (public-spec codec, EarlyChange honored), Tj / ' / TJ
                    arrays, literal+hex strings with full escape decoding,
                    nested page trees, /Contents arrays, indirect /Length;
                    unsupported stream FILTERS (DCT, CCITT, …) raise an
                    actionable error naming pypdf
- S3 rasterizer     deterministic text-band renderer in-sandbox, plus the
                    real pdf2image/poppler adapter (rasterize_pages_poppler,
                    executor-side import gate)
- S4 metadata       same reader pair as S2 (trailer /Info dictionary)

The page-exploded schema feeds the same span pipeline as HTML text: one
row per page → per-page column analysis → A4 order-preserving concat.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

try:  # optional dependency gate (not installed in this sandbox)
    import pypdf  # type: ignore

    HAVE_PYPDF = True
except ImportError:
    pypdf = None
    HAVE_PYPDF = False


def _doc_id(rid) -> int | None:
    """One doc_id of a pandas batch as an int, or None when it is null.

    pandas widens a long column holding nulls to float, so a null doc_id
    arrives as NaN, and ``int`` of it would fail the whole task. The float
    is exact below 2^53, which covers every id :func:`pack_image_id` can
    pack (doc_id × 10^6 must fit in int64)."""
    return None if pd.isna(rid) else int(rid)


PAGES_SCHEMA = "doc_id long, page_number int, text string"
META_SCHEMA = (
    "doc_id long, pages int, title string, author string, subject string, "
    "creator string, producer string"
)


def is_pdf(path: Column, content: Column) -> Column:
    """S5 (pdf_processor.py:1011-1035): extension OR %PDF magic bytes."""
    by_ext = F.lower(F.coalesce(path, F.lit(""))).endswith(".pdf")
    magic = F.substring(content, 1, 4) == F.lit(b"%PDF")
    return by_ext | F.coalesce(magic, F.lit(False))


import re as _re
import zlib as _zlib

# --- minipdf: a dependency-free reader for real-world PDF structure ---------
#
# Covers what the large majority of real PDFs use (reference path
# pdf_processor.py:168-184 via PyPDF2): classic AND PDF 1.5+ object-stream
# ("/ObjStm") files, /FlateDecode and /LZWDecode, literal/hex strings with
# full escape decoding, Tj / ' / TJ-array show operators, nested page trees,
# /Contents arrays, and indirect /Length. Unsupported stream FILTERS (DCT,
# CCITT, ASCII85, JBIG2, …) raise the actionable pypdf boundary error —
# never a silent empty page.

_OBJ_HEAD_RE = _re.compile(rb"(\d+)\s+\d+\s+obj\b")
_STREAM_RE = _re.compile(rb"stream\r?\n")
_REF_RE = _re.compile(rb"(\d+)\s+\d+\s+R")
_SHOW_RE = _re.compile(
    rb"""\(((?:[^()\\]|\\.)*)\)\s*(?:Tj|')            # literal string + Tj / '
       | <([0-9A-Fa-f\s]*)>\s*(?:Tj|')                # hex string + Tj / '
       | \[((?:\((?:[^()\\]|\\.)*\)|<[0-9A-Fa-f\s]*>|[^\]()<])*)\]\s*TJ  # TJ array
    """,
    _re.VERBOSE,
)
_ARRAY_STR_RE = _re.compile(rb"\(((?:[^()\\]|\\.)*)\)|<([0-9A-Fa-f\s]*)>")
_ESC_RE = _re.compile(rb"\\([0-7]{1,3}|\r\n|\n|\r|.)")
_LENGTH_RE = _re.compile(rb"/Length\s+(\d+)(\s+\d+\s+R)?")
_ENDSTREAM_RE = _re.compile(rb"\r?\n?endstream")
_FILTER_RE = _re.compile(rb"/Filter\s*(?:\[\s*)?/(\w+)")
_DECODE_PARMS_RE = _re.compile(rb"/DecodeParms\s*(?:\[\s*)?<<(.*?)>>", _re.S)
_EARLY_CHANGE_RE = _re.compile(rb"/EarlyChange\s+(\d+)")
_PREDICTOR_RE = _re.compile(rb"/Predictor\s+(\d+)")
_COLUMNS_RE = _re.compile(rb"/Columns\s+(\d+)")
_OBJSTM_N_RE = _re.compile(rb"/N\s+(\d+)")
_OBJSTM_FIRST_RE = _re.compile(rb"/First\s+(\d+)")
_ROOT_REF_RE = _re.compile(rb"/Root\s+(\d+)\s+\d+\s+R")
_PAGES_REF_RE = _re.compile(rb"/Pages\s+(\d+)\s+\d+\s+R")
_KIDS_RE = _re.compile(rb"/Kids\s*\[(.*?)\]", _re.DOTALL)
_CONTENTS_RE = _re.compile(rb"/Contents\s*(\[[^\]]*\]|\d+\s+\d+\s+R)")
_ESC_MAP = {b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f"}


def _pdf_unescape(raw: bytes) -> str:
    """Decode a literal-string body: \\( \\) \\\\ , \\n-style controls,
    1-3 digit octal escapes, and escaped-newline line continuations."""

    def sub(m: _re.Match) -> bytes:
        e = m.group(1)
        if e[:1] in b"01234567" and e.isdigit():
            return bytes([int(e, 8) & 0xFF])
        if e in (b"\r\n", b"\n", b"\r"):
            return b""  # line continuation
        return _ESC_MAP.get(e, e)

    return _ESC_RE.sub(sub, raw).decode("latin-1")


def _pdf_unhex(raw: bytes) -> str:
    """Decode a hex-string body: whitespace ignored, odd digit padded 0."""
    h = b"".join(raw.split())
    if len(h) % 2:
        h += b"0"
    return bytes.fromhex(h.decode("ascii")).decode("latin-1")


def _show_text_chunks(stream: bytes) -> list[str]:
    """Every shown string in content-stream order: Tj, ' (next-line show),
    and TJ arrays (elements of one TJ concatenated — kerning numbers are
    positioning, not line breaks)."""
    chunks: list[str] = []
    for m in _SHOW_RE.finditer(stream):
        lit, hx, arr = m.group(1), m.group(2), m.group(3)
        if lit is not None:
            chunks.append(_pdf_unescape(lit))
        elif hx is not None:
            chunks.append(_pdf_unhex(hx))
        else:
            parts = []
            for am in _ARRAY_STR_RE.finditer(arr):
                parts.append(
                    _pdf_unescape(am.group(1)) if am.group(1) is not None else _pdf_unhex(am.group(2))
                )
            chunks.append("".join(parts))
    return chunks


class _MiniPdf:
    """Parsed object table of one PDF: obj number → (dict/body bytes,
    raw stream bytes | None). The scan is sequential and /Length-aware, so
    binary Flate data containing 'endobj' or 'N 0 obj' never corrupts
    object boundaries; objects inside /ObjStm object streams (how PDF 1.5+
    writers pack non-stream objects) are inflated and merged in."""

    def __init__(self, data: bytes):
        self.data = data
        self.objs: dict[int, tuple[bytes, bytes | None]] = {}
        self._scan(data)
        self._merge_object_streams()

    # -- object table ------------------------------------------------------
    def _scan(self, data: bytes) -> None:
        pos = 0
        while True:
            hm = _OBJ_HEAD_RE.search(data, pos)
            if hm is None:
                break
            num = int(hm.group(1))
            body_start = hm.end()
            em = data.find(b"endobj", body_start)
            sm = _STREAM_RE.search(data, body_start, em if em != -1 else len(data))
            if sm is None:
                body = data[body_start : em if em != -1 else len(data)]
                self.objs[num] = (body, None)
                pos = em + 6 if em != -1 else len(data)
                continue
            head = data[body_start : sm.start()]
            raw_start = sm.end()
            length = self._stream_length(head, data, raw_start)
            raw = data[raw_start : raw_start + length]
            end = data.find(b"endobj", raw_start + length)
            self.objs[num] = (head, raw)
            pos = end + 6 if end != -1 else raw_start + length

    def _stream_length(self, head: bytes, data: bytes, raw_start: int) -> int:
        lm = _LENGTH_RE.search(head)
        if lm and not lm.group(2):
            return int(lm.group(1))
        if lm:  # indirect /Length — resolve if the target already scanned,
            ref = int(lm.group(1))  # else fall through to delimiter scan
            if ref in self.objs and self.objs[ref][1] is None:
                try:
                    return int(self.objs[ref][0].strip())
                except ValueError:
                    pass
        em = _ENDSTREAM_RE.search(data, raw_start)
        return (em.start() if em else len(data)) - raw_start

    # -- stream decode -----------------------------------------------------
    def stream_bytes(self, num: int) -> bytes:
        head, raw = self.objs[num]
        if raw is None:
            return b""
        return self._decode(head, raw)

    @staticmethod
    def _decode(head: bytes, raw: bytes) -> bytes:
        fm = _FILTER_RE.search(head)
        if not fm:
            return raw
        # filter parameters live only in the /DecodeParms sub-dictionary; a
        # same-named key elsewhere in the stream dictionary is not one
        dm = _DECODE_PARMS_RE.search(head)
        parms = dm.group(1) if dm else b""
        if fm.group(1) == b"FlateDecode":
            data = _zlib.decompress(raw)
        elif fm.group(1) == b"LZWDecode":
            em = _EARLY_CHANGE_RE.search(parms)
            data = _lzw_decode(raw, early=int(em.group(1)) if em else 1)
        else:
            raise NotImplementedError(
                f"unsupported PDF stream filter /{fm.group(1).decode()}: "
                "install pypdf for general PDFs (the built-in reader handles "
                "uncompressed, /FlateDecode, and /LZWDecode streams)"
            )
        pm = _PREDICTOR_RE.search(parms)
        if pm and int(pm.group(1)) >= 10:
            cm = _COLUMNS_RE.search(parms)
            data = _png_unpredict(data, int(cm.group(1)) if cm else 1)
        return data

    # -- PDF 1.5+ object streams ------------------------------------------
    def _merge_object_streams(self) -> None:
        for num in [n for n, (h, r) in self.objs.items() if r is not None]:
            head = self.objs[num][0]
            if b"/ObjStm" not in head:
                continue
            nm = _OBJSTM_N_RE.search(head)
            fm = _OBJSTM_FIRST_RE.search(head)
            if not (nm and fm):
                continue
            data = self.stream_bytes(num)
            first = int(fm.group(1))
            pairs = [int(x) for x in data[:first].split()]
            nums, offs = pairs[0::2], pairs[1::2]
            bounds = offs[1:] + [len(data) - first]
            for onum, off, end in zip(nums, offs, bounds):
                self.objs.setdefault(onum, (data[first + off : first + end], None))

    # -- document structure ------------------------------------------------
    @staticmethod
    def _ref(body: bytes, key_ref: _re.Pattern) -> int | None:
        m = key_ref.search(body)
        return int(m.group(1)) if m else None

    def page_ids(self) -> list[int]:
        """Leaf /Page object numbers in page-tree order (nested /Kids
        walked depth-first; cycle-guarded)."""
        root = self._ref(self.data, _ROOT_REF_RE)
        pages_ref = None
        if root is not None and root in self.objs:
            pages_ref = self._ref(self.objs[root][0], _PAGES_REF_RE)
        if pages_ref is None:  # damaged trailer/catalog: first /Kids found
            for num, (body, _raw) in sorted(self.objs.items()):
                if b"/Kids" in body:
                    pages_ref = num
                    break
        if pages_ref is None:
            raise ValueError("no /Kids page tree")
        out: list[int] = []
        seen: set[int] = set()

        def walk(num: int) -> None:
            if num in seen or num not in self.objs:
                return
            seen.add(num)
            body = self.objs[num][0]
            km = _KIDS_RE.search(body)
            if km:
                for rm in _REF_RE.finditer(km.group(1)):
                    walk(int(rm.group(1)))
            elif b"/Page" in body:
                out.append(num)

        walk(pages_ref)
        if not out:
            raise ValueError("no /Kids page tree")
        return out

    def page_content(self, page_num: int) -> bytes:
        """Concatenated decoded content streams of one page (/Contents as a
        single ref or an array of refs)."""
        body = self.objs[page_num][0]
        cm = _CONTENTS_RE.search(body)
        if not cm:
            return b""
        refs = [int(m.group(1)) for m in _REF_RE.finditer(cm.group(1))]
        return b"\n".join(self.stream_bytes(r) for r in refs if r in self.objs)


_LZW_BASE = {i: bytes([i]) for i in range(256)}


def _lzw_decode(data: bytes, early: int = 1) -> bytes:
    """PDF /LZWDecode (ISO 32000-2 §7.4.4 — the public TIFF-style LZW
    variant): MSB-first variable-width codes, 9→12 bits, 256 = clear
    table, 257 = end of data. ``early`` is /EarlyChange (default 1: the
    code width grows one code earlier than strictly required — the spec
    default every real writer uses). Reference parity: its PyPDF2 handles
    LZW PDFs on the direct-text path (`pdf_processor.py:168-184`); without
    this, a born-digital LZW PDF pays the 100-1000× rasterize+OCR branch
    unnecessarily."""
    table = dict(_LZW_BASE)
    next_code, width = 258, 9
    out = bytearray()
    prev: bytes | None = None
    buf = nbits = 0
    for byte in data:
        buf = (buf << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (buf >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            buf &= (1 << nbits) - 1  # drop consumed bits — bounded bigint,
            # else decode is O(n²) in stream length (measured 16.8 s at 274 KB)
            if code == 256:
                table = dict(_LZW_BASE)
                next_code, width = 258, 9
                prev = None
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                if code not in table:
                    raise ValueError(f"corrupt LZW stream: first code {code} undefined")
                entry = table[code]
            elif code in table:
                entry = table[code]
                table[next_code] = prev + entry[:1]
                next_code += 1
            elif code == next_code:
                entry = prev + prev[:1]  # the KwKwK case
                table[next_code] = entry
                next_code += 1
            else:
                raise ValueError(f"corrupt LZW stream: code {code} > {next_code}")
            out += entry
            prev = entry
            if next_code + early >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


def _png_unpredict(data: bytes, columns: int) -> bytes:
    """Reverse PNG row predictors (PDF /Predictor >= 10, 8-bit, 1 color):
    each row is [tag][columns bytes]; used by xref and some object streams."""
    row_w = columns + 1
    out = bytearray()
    prev = bytearray(columns)
    for r in range(0, len(data) - row_w + 1, row_w):
        tag = data[r]
        row = bytearray(data[r + 1 : r + row_w])
        if tag == 1:  # Sub
            for i in range(1, columns):
                row[i] = (row[i] + row[i - 1]) & 0xFF
        elif tag == 2:  # Up
            for i in range(columns):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif tag == 3:  # Average
            for i in range(columns):
                left = row[i - 1] if i else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif tag == 4:  # Paeth
            for i in range(columns):
                a = row[i - 1] if i else 0
                b, c = prev[i], (prev[i - 1] if i else 0)
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        out += row
        prev = row
    return bytes(out)


def _minipdf_pages(data: bytes) -> list[str]:
    """Per-page text in page-tree order. Show-operator coverage: Tj, ',
    TJ arrays (concatenated), literal + hex strings, full escape decoding.
    Chunks from successive show ops join with newlines (the reference's
    PyPDF2 extract_text analog for simple layouts)."""
    pdf = _MiniPdf(data)
    pages = []
    for pid in pdf.page_ids():
        try:
            chunks = _show_text_chunks(pdf.page_content(pid))
        except (NotImplementedError, ValueError, _zlib.error):
            # DCT/JPX/CCITT-filtered content stream (unsupported codec —
            # NotImplementedError), or a CORRUPT supported stream (LZW
            # ValueError, Flate zlib.error): graceful-degradation parity
            # with the reference (pdf_processor.py:142-166) — the page
            # contributes NO direct text, so the F6 min-text gate
            # (pipeline.route_documents) sends the document down the
            # rasterize+OCR branch instead of the whole job dying on (or
            # silently DROPPING — the round-5 review catch) one bad PDF.
            chunks = []
        pages.append("\n".join(chunks))
    return pages


def _minipdf_info(pdf: _MiniPdf) -> dict[str, str | None]:
    """The trailer /Info fields of a parsed PDF (absent → None)."""
    out: dict[str, str | None] = {}
    im = _re.search(rb"/Info\s+(\d+)\s+\d+\s+R", pdf.data)
    info_obj = pdf.objs.get(int(im.group(1)), (b"", None))[0] if im else b""
    for key in ("Title", "Author", "Subject", "Creator", "Producer"):
        m = _re.search(
            rb"/" + key.encode() + rb"\s*(?:\(((?:[^()\\]|\\.)*)\)|<([0-9A-Fa-f\s]*)>)",
            info_obj,
        )
        if m is None:
            out[key.lower()] = None
        elif m.group(1) is not None:
            out[key.lower()] = _pdf_unescape(m.group(1))
        else:
            out[key.lower()] = _pdf_unhex(m.group(2))
    return out


def extract_pages(docs: DataFrame, id_col: str = "doc_id", content_col: str = "content") -> DataFrame:
    """S2: per-page direct text (pdf_processor.py:168-184), one output row
    per page. Uses pypdf when installed; falls back to the built-in
    uncompressed-stream reader (module docstring) otherwise."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        for pdf in batches:
            out = {"doc_id": [], "page_number": [], "text": []}
            for rid, content in zip(pdf[id_col].tolist(), pdf[content_col].tolist()):
                try:
                    if HAVE_PYPDF:
                        reader = pypdf.PdfReader(io.BytesIO(content))
                        texts = [p.extract_text() or "" for p in reader.pages]
                    else:
                        texts = _minipdf_pages(bytes(content))
                except NotImplementedError:
                    # document-STRUCTURE-level unsupported compression (e.g.
                    # a non-Flate ObjStm): no page tree is readable, so emit
                    # one empty page row — the doc routes to the OCR branch
                    # (F6) instead of killing the task. CORRUPT stream data
                    # inside a page is absorbed per page in _minipdf_pages
                    # (ValueError/zlib.error → empty page text, count kept);
                    # structurally unreadable bytes still drop via the
                    # Exception absorber below, as before.
                    texts = [""]
                except Exception:  # graceful degradation (§4): bad doc → no rows
                    continue
                for i, text in enumerate(texts, start=1):
                    out["doc_id"].append(_doc_id(rid))
                    out["page_number"].append(i)
                    out["text"].append(text)
            yield pd.DataFrame(out)

    return docs.select(F.col(id_col), F.col(content_col)).mapInPandas(process, PAGES_SCHEMA)


def extract_metadata(docs: DataFrame, id_col: str = "doc_id", content_col: str = "content") -> DataFrame:
    """S4: document metadata (pdf_processor.py:222-257) — page count plus
    the trailer /Info fields, via the same reader pair as extract_pages."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        cols = ("title", "author", "subject", "creator", "producer")
        for pdf in batches:
            out: dict[str, list] = {"doc_id": [], "pages": []}
            for c in cols:
                out[c] = []
            for rid, content in zip(pdf[id_col].tolist(), pdf[content_col].tolist()):
                try:
                    if HAVE_PYPDF:
                        reader = pypdf.PdfReader(io.BytesIO(content))
                        meta = reader.metadata or {}
                        info = {c: getattr(meta, c, None) for c in cols}
                        n_pages = len(reader.pages)
                    else:
                        parsed = _MiniPdf(bytes(content))
                        info = _minipdf_info(parsed)
                        # the page count needs the page tree only, not the
                        # content streams: a corrupt page still counts
                        n_pages = len(parsed.page_ids())
                except NotImplementedError:
                    # unsupported structure compression: metadata unreadable
                    # → emit the row with pages=0 / null fields (reference
                    # degrades to empty metadata, pdf_processor.py:222-257)
                    info, n_pages = {}, 0
                except Exception:
                    continue
                out["doc_id"].append(_doc_id(rid))
                out["pages"].append(n_pages)
                for c in cols:
                    out[c].append(info.get(c))
            yield pd.DataFrame(out)

    return docs.select(F.col(id_col), F.col(content_col)).mapInPandas(process, META_SCHEMA)


def join_pages(pages: Column) -> Column:
    """A4's page order as an expression: an array of (page_number, text)
    structs → the texts sorted by (page_number, text) and joined with
    newlines (a null text is skipped)."""
    return F.array_join(F.transform(F.array_sort(pages), lambda s: s["text"]), "\n")


def concat_pages(pages: DataFrame) -> DataFrame:
    """A4 (pdf_processor.py:104-139): order-preserving page concat — sort
    INSIDE the aggregation, never relying on partition order.

    ``total_pages`` is the size of the collected page list, i.e. the
    number of page rows of the document."""
    collected = pages.groupBy("doc_id").agg(
        F.collect_list(F.struct("page_number", "text")).alias("pages")
    )
    return collected.select(
        "doc_id", join_pages(F.col("pages")).alias("all_text"), F.size("pages").alias("total_pages")
    )


ALLOWED_EXTENSIONS = (".jpg", ".jpeg", ".png", ".bmp", ".tiff", ".pdf")
MAX_IMAGE_BYTES = 10 * 1024 * 1024
MAX_PDF_BYTES = 50 * 1024 * 1024


def validate_upload(
    df: DataFrame,
    path_col: str = "path",
    content_col: str = "content",
    max_pdf_bytes: int | None = None,
    max_image_bytes: int | None = None,
) -> DataFrame:
    """F5 (main.py:87-104): extension allowlist + size caps — but as a
    quarantine COLUMN (ok, reject_reason), never an exception: bad rows are
    routed to a reject side-output instead of failing a 10^12-doc job.
    Caps default to the reference constants; tests/driver queries may pass
    tight caps to exercise the file_too_large branch on small fixtures."""
    max_pdf = MAX_PDF_BYTES if max_pdf_bytes is None else max_pdf_bytes
    max_img = MAX_IMAGE_BYTES if max_image_bytes is None else max_image_bytes
    path = F.lower(F.coalesce(F.col(path_col), F.lit("")))
    n = F.coalesce(F.length(F.col(content_col)), F.lit(0))
    ext_ok = F.lit(False)
    for ext in ALLOWED_EXTENSIONS:
        ext_ok = ext_ok | path.endswith(ext)
    is_pdf_ext = path.endswith(".pdf")
    too_big = F.when(is_pdf_ext, n > max_pdf).otherwise(n > max_img)
    reason = (
        F.when(~ext_ok, F.lit("unsupported_extension"))
        .when(n == 0, F.lit("empty_file"))
        .when(too_big, F.lit("file_too_large"))
    )
    return df.withColumn("reject_reason", reason).withColumn(
        "ok", F.col("reject_reason").isNull()
    )


def pages_with_columns(pages: DataFrame) -> DataFrame:
    """Per-page PageData rows (main.py:51-56): page text + detected columns
    via the text-path analyzer — the per-page stage of
    pdf_processor.extract_text_with_pages_and_columns (pdf_processor.py:43-166)."""
    from ocr_spark.operators.layout import analyze_text_columns

    cols = analyze_text_columns(F.col("text"))
    return pages.select(
        "doc_id",
        F.col("page_number"),
        "text",
        cols.alias("columns"),
        F.size(cols).cast("int").alias("columns_count"),
        (F.size(cols) > 1).alias("has_multiple_columns"),
    )


def synth_pdf_docs(spark, n: int = 40) -> DataFrame:
    """Deterministic fixture corpus: n docs, doc i has 1 + i % 4 pages of
    real PDF bytes (sources/pdf_fixture.synth_pdf_bytes), built inside the
    plan via an Arrow-batched UDF — no driver-side byte assembly.

    Odd doc_ids compress their content streams — /LZWDecode when
    doc_id % 4 == 1, /FlateDecode when doc_id % 4 == 3 — even ones stay
    raw, and the writer STYLE cycles with doc_id % 3 — classic ``(s) Tj``,
    TJ-array/hex/octal, and PDF 1.5 object-stream+xref-stream — so every
    consumer of this corpus (pdf_pages/pdf_fulltext/pdf_process and their
    oracles) exercises all reader paths, all three stream codecs included,
    on every run; neither compression nor writer style ever changes the
    extracted text, only the bytes."""
    from pyspark.sql.functions import pandas_udf

    from ocr_spark.sources.pdf_fixture import STYLES, synth_pdf_bytes

    @pandas_udf("binary")
    def gen(ids: pd.Series, pages: pd.Series) -> pd.Series:
        return pd.Series(
            [
                synth_pdf_bytes(
                    int(i),
                    int(p),
                    compress=("lzw" if int(i) % 4 == 1 else bool(int(i) % 2)),
                    style=STYLES[int(i) % 3],
                )
                for i, p in zip(ids, pages)
            ]
        )

    base = spark.range(n).select(
        F.col("id").alias("doc_id"), (1 + F.col("id") % 4).cast("int").alias("n_pages")
    )
    return base.select("doc_id", gen("doc_id", "n_pages").alias("content"))


RASTER_W = 120
RASTER_LINE_H = 10
RASTER_MARGIN = 2
RASTER_BAND_ROWS = 3
_HASH_MOD = 1_000_000_007


def _line_hash(line: str) -> int:
    """textstats.char_hash twin (base-131 ascii fold, mod 1e9+7)."""
    h = 0
    for ch in line:
        h = (h * 131 + ord(ch)) % _HASH_MOD
    return h


def render_page_array(text: str, width: int = RASTER_W):
    """Deterministic page raster: one dark horizontal band per text line on
    a white page — the same band structure operators/image.synth_image_array
    uses, so the deterministic OCR engine (and the DuckDB oracle) can
    predict every box. Band darkness is a function of the line's char hash,
    making conf values text-dependent and exactly computable in SQL."""
    import numpy as np

    lines = [ln for ln in (text or "").split("\n") if ln.strip() != ""]
    height = 8 + RASTER_LINE_H * max(len(lines), 1)  # 4px top/bottom margins
    img = np.full((height, width), 255, dtype=np.uint8)
    for i, line in enumerate(lines):
        dark = 30 + _line_hash(line) % 50
        y0 = 4 + RASTER_LINE_H * i
        img[y0 : y0 + RASTER_BAND_ROWS, RASTER_MARGIN : width - RASTER_MARGIN] = dark
    return img


def rasterize_pages(pages: DataFrame, width: int = RASTER_W) -> DataFrame:
    """S3: page → image for the OCR fallback branch (pdf_processor.py:259-290,
    dpi=300 via pdf2image/poppler in the reference).

    poppler is a native process boundary this environment lacks, so the
    rasterizer renders the page's extracted TEXT deterministically
    (render_page_array) — the Spark plumbing (schema, mapInPandas batch
    shape, downstream OCR scan contract) is the real thing, and swapping in
    `pdf2image.convert_from_bytes` is a one-function change here."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf_b in batches:
            out = {"doc_id": [], "page_number": [], "data": [], "width": [], "height": []}
            for rid, pno, text in zip(
                pdf_b["doc_id"].tolist(), pdf_b["page_number"].tolist(), pdf_b["text"].tolist()
            ):
                img = render_page_array(text, width)
                out["doc_id"].append(_doc_id(rid))
                out["page_number"].append(int(pno))
                out["data"].append(img.tobytes())
                out["width"].append(img.shape[1])
                out["height"].append(img.shape[0])
            yield pd.DataFrame(out)

    return pages.mapInPandas(
        process, "doc_id long, page_number int, data binary, width int, height int"
    )


PAGE_PACK = 1_000_000  # max pages representable in a packed (doc, page) key


def pack_image_id(doc_id: Column, page_number: Column) -> Column:
    """Packed image key for the per-page OCR stages: doc_id*PAGE_PACK + page.

    Real PDFs routinely exceed 1,000 pages, so the multiplier is 10^6 —
    and the guard is explicit: a page number outside [0, PAGE_PACK) raises
    instead of silently bleeding into the next doc_id when unpacked. At
    10^12 docs the packed key tops out near 10^18, inside int64."""
    return F.when(
        (page_number >= 0) & (page_number < PAGE_PACK),
        doc_id.cast("long") * PAGE_PACK + page_number,
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"page_number outside packing range [0, {PAGE_PACK}): "),
                page_number.cast("string"),
            )
        ).cast("long")
    )


def rasterize_pages_poppler(
    docs: DataFrame,
    dpi: int = 300,
    id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    """S3 real tier: pdf2image/poppler rasterization of RAW PDF BYTES →
    the same (doc_id, page_number, data, width, height) grayscale rows
    :func:`rasterize_pages` emits, so :func:`pack_image_id` → scan_images
    consume either tier unchanged (reference `pdf_processor.py:259-290`,
    dpi=300).

    The import is EXECUTOR-side inside the mapInPandas generator — the
    exact gating discipline of the easyocr adapter (ocr_engine._load_model):
    the module resolves once per python worker, never on the driver, so a
    cluster with poppler installed runs this tier while this sandbox
    (which lacks the native binary) proves the full wiring with a fake
    ``pdf2image`` module shipped via addPyFile. Each PIL page converts to
    ``L`` (8-bit grayscale) and lands as raw bytes + dims; a PDF poppler
    cannot parse contributes zero rows (A6 errors-as-data: the doc simply
    has no rasterized pages, and the route/quarantine stages upstream
    already explain why)."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from pdf2image import convert_from_bytes  # poppler boundary, per worker

        for pdf_b in batches:
            out = {"doc_id": [], "page_number": [], "data": [], "width": [], "height": []}
            for rid, content in zip(
                pdf_b[id_col].tolist(), pdf_b[content_col].tolist()
            ):
                try:
                    pages = convert_from_bytes(bytes(content), dpi=dpi)
                except Exception:
                    continue  # unparseable PDF → no pages, not a dead job
                for pno, pil_img in enumerate(pages, start=1):
                    try:
                        # per-page guard: a degenerate MediaBox can blow
                        # PIL's decompression-bomb limit at dpi=300, a
                        # truncated page raises OSError on load — one bad
                        # page degrades to a missing row, never a dead task
                        arr = np.asarray(pil_img.convert("L"), dtype=np.uint8)
                    except Exception:
                        continue
                    out["doc_id"].append(_doc_id(rid))
                    out["page_number"].append(pno)
                    out["data"].append(arr.tobytes())
                    out["width"].append(arr.shape[1])
                    out["height"].append(arr.shape[0])
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        process, "doc_id long, page_number int, data binary, width int, height int"
    )
