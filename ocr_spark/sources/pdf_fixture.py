"""Deterministic minimal PDF fixtures — real, spec-valid bytes for the S2/S4
direct-text path (reference pdf_processor.py:168-184, :222-257) without any
native dependency.

``synth_pdf_bytes`` hand-assembles a multi-page PDF in one of three styles:

- ``classic``  PDF 1.4: one ``(text) Tj`` literal per page, classic xref
               table — the original fixture form.
- ``tj``       PDF 1.4 layout but the text is shown through a TJ array
               mixing literal strings (with octal escapes), kerning
               numbers, and hex strings; the /Title is a hex string. This
               is how real writers emit kerned text.
- ``objstm``   PDF 1.5: every non-stream object (catalog, page tree, font,
               info, page dicts) is packed into a /FlateDecode'd /ObjStm
               object stream (PNG /Predictor 12 + /Columns, the row filter
               real xref/object streams use), with a cross-reference
               STREAM (/Type /XRef, W-encoded type-1/type-2 entries)
               instead of a classic xref table — the modern writer layout.

``compress`` additionally Flate-compresses the page content streams (any
style). Everything is derived from (doc_id, n_pages); the same bytes are
produced on every engine, which is what lets the DuckDB oracle predict the
extracted text without parsing PDFs itself.
"""

from __future__ import annotations

import zlib

STYLES = ("classic", "tj", "objstm")


def page_text(doc_id: int, page_number: int) -> str:
    """The canonical fixture text of one page (1-based page numbers)."""
    return f"Page {page_number} of doc {doc_id}"


def doc_title(doc_id: int) -> str:
    return f"Doc {doc_id}"


PDF_AUTHOR = "ocr-spark-synth"
PDF_PRODUCER = "ocr_spark.sources.pdf_fixture"

_PRED_COLUMNS = 16  # /Columns for the predictor-encoded object stream


def _hex_str(s: str) -> bytes:
    return b"<" + s.encode("latin-1").hex().encode() + b">"


def _tj_content(text: str) -> bytes:
    """Show ``text`` via a TJ array: literal with an octal escape + kerning
    numbers + a hex-string element, concatenating back to exactly ``text``."""
    # "Page N of doc D" → [(Pa\147e ) -12 <hex(N)> -8 ( of doc D)] TJ
    head, rest = text[:5], text[5:]  # "Page " / "N of doc D"
    num, tail = rest.split(" ", 1)  # "N" / "of doc D"
    lit_head = head.replace("g", "\\147").encode("latin-1")  # octal 'g'
    return (
        b"BT /F1 12 Tf 72 720 Td [("
        + lit_head
        + b") -12 "
        + _hex_str(num)
        + b" -8 ( "
        + tail.encode("latin-1")
        + b")] TJ ET"
    )


def _png_predict_up(data: bytes, columns: int) -> bytes:
    """PNG /Predictor 12 (Up) encode, padding with spaces to whole rows —
    trailing pad lands after the last packed object and is regex-inert."""
    if len(data) % columns:
        data += b" " * (columns - len(data) % columns)
    out = bytearray()
    prev = bytes(columns)
    for r in range(0, len(data), columns):
        row = data[r : r + columns]
        out.append(2)  # Up filter tag
        out += bytes((row[i] - prev[i]) & 0xFF for i in range(columns))
        prev = row
    return bytes(out)


LZW_MAX_CODE = 4095  # the largest code 12 bits carry


def lzw_codes(data: bytes, early: int = 1) -> list[tuple[int, int]]:
    """The (code, width) sequence :func:`lzw_encode` packs: MSB-first
    variable-width codes 9→12 bits, 256 = clear, 257 = EOD, width grows
    ``early`` codes ahead (the spec default 1).

    Each code emitted inside the loop registers one table entry. The
    clear code goes out as soon as entry ``LZW_MAX_CODE`` is registered,
    whatever ``early`` is, so no code above it is ever registered or
    emitted."""
    codes: list[tuple[int, int]] = [(256, 9)]
    table = {bytes([i]): i for i in range(256)}
    next_code, width = 258, 9
    w = b""
    for ch in data:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
            continue
        codes.append((table[w], width))
        table[wc] = next_code
        next_code += 1
        if next_code > LZW_MAX_CODE:
            codes.append((256, width))
            table = {bytes([i]): i for i in range(256)}
            next_code, width = 258, 9
        elif next_code + early - 1 >= (1 << width):
            width += 1
        w = bytes([ch])
    if w:
        codes.append((table[w], width))
    codes.append((257, width))
    return codes


def lzw_encode(data: bytes, early: int = 1) -> bytes:
    """PDF /LZWDecode-compatible encoder (ISO 32000-2 §7.4.4, TIFF-style):
    :func:`lzw_codes` packed MSB-first. The fixture-side inverse of
    pdf._lzw_decode — kept here so the reader never round-trips through
    its own encoder in production."""
    buf = nbits = 0
    out = bytearray()
    for code, wd in lzw_codes(data, early):
        buf = (buf << wd) | code
        nbits += wd
        while nbits >= 8:
            out.append((buf >> (nbits - 8)) & 0xFF)
            nbits -= 8
            buf &= (1 << nbits) - 1  # bounded bigint (same O(n²) trap as decode)
    if nbits:
        out.append((buf << (8 - nbits)) & 0xFF)
    return bytes(out)


def _content_obj(text_ops: bytes, compress) -> bytes:
    if compress == "lzw":
        z = lzw_encode(text_ops)
        return b"<< /Length %d /Filter /LZWDecode >>\nstream\n%s\nendstream" % (len(z), z)
    if compress:
        z = zlib.compress(text_ops, 9)
        return b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream" % (len(z), z)
    return b"<< /Length %d >>\nstream\n%s\nendstream" % (len(text_ops), text_ops)


def synth_pdf_bytes(
    doc_id: int, n_pages: int, compress: bool = False, style: str = "classic"
) -> bytes:
    """A complete n_pages-page PDF with deterministic text and metadata."""
    if n_pages < 1:
        raise ValueError("n_pages must be >= 1")
    if style not in STYLES:
        raise ValueError(f"style must be one of {STYLES}")

    # object numbers: 1 catalog, 2 pages, 3 font, 4 info,
    # then per page p (0-based): 5+2p page, 6+2p content
    kids = " ".join(f"{5 + 2 * p} 0 R" for p in range(n_pages))
    catalog = b"<< /Type /Catalog /Pages 2 0 R >>"
    pages_obj = f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    font = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    if style == "tj":  # hex-string /Title exercises the hex metadata path
        info = (
            b"<< /Title "
            + _hex_str(doc_title(doc_id))
            + f" /Author ({PDF_AUTHOR}) /Producer ({PDF_PRODUCER}) >>".encode()
        )
    else:
        info = (
            f"<< /Title ({doc_title(doc_id)}) /Author ({PDF_AUTHOR}) "
            f"/Producer ({PDF_PRODUCER}) >>"
        ).encode()
    page_dicts = [
        (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Contents {6 + 2 * p} 0 R "
            f"/Resources << /Font << /F1 3 0 R >> >> >>"
        ).encode()
        for p in range(n_pages)
    ]
    contents = [
        _content_obj(
            _tj_content(page_text(doc_id, p + 1))
            if style == "tj"
            else f"BT /F1 12 Tf 72 720 Td ({page_text(doc_id, p + 1)}) Tj ET".encode(),
            compress,
        )
        for p in range(n_pages)
    ]

    if style != "objstm":
        objects = [catalog, pages_obj, font, info]
        for p in range(n_pages):
            objects.append(page_dicts[p])
            objects.append(contents[p])
        out = bytearray(b"%PDF-1.4\n")
        offsets = [0]  # object 0 is the free head
        for i, body in enumerate(objects, start=1):
            offsets.append(len(out))
            out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
        xref_pos = len(out)
        out += f"xref\n0 {len(objects) + 1}\n".encode()
        out += b"0000000000 65535 f \n"
        for off in offsets[1:]:
            out += f"{off:010d} 00000 n \n".encode()
        out += (
            f"trailer\n<< /Size {len(objects) + 1} /Root 1 0 R /Info 4 0 R >>\n"
            f"startxref\n{xref_pos}\n%%EOF\n"
        ).encode()
        return bytes(out)

    # --- objstm: pack non-stream objects, write an xref STREAM -----------
    packed = [(1, catalog), (2, pages_obj), (3, font), (4, info)] + [
        (5 + 2 * p, page_dicts[p]) for p in range(n_pages)
    ]
    bodies = b" ".join(b for _n, b in packed)
    offs = []
    pos = 0
    for _n, b in packed:
        offs.append(pos)
        pos += len(b) + 1  # the joining space
    header = " ".join(f"{n} {o}" for (n, _b), o in zip(packed, offs)).encode() + b" "
    objstm_payload = header + bodies
    z = zlib.compress(_png_predict_up(objstm_payload, _PRED_COLUMNS), 9)
    objstm_num = 5 + 2 * n_pages
    xref_num = objstm_num + 1
    objstm = (
        b"<< /Type /ObjStm /N %d /First %d /Length %d /Filter /FlateDecode "
        b"/DecodeParms << /Predictor 12 /Columns %d >> >>\nstream\n%s\nendstream"
        % (len(packed), len(header), len(z), _PRED_COLUMNS, z)
    )

    out = bytearray(b"%PDF-1.5\n")
    top_offsets: dict[int, int] = {}
    for p in range(n_pages):
        num = 6 + 2 * p
        top_offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + contents[p] + b"\nendobj\n"
    top_offsets[objstm_num] = len(out)
    out += f"{objstm_num} 0 obj\n".encode() + objstm + b"\nendobj\n"

    # xref stream: W [1 4 2]; type 0 = free, 1 = (offset, 0), 2 = (objstm, idx)
    xref_pos = len(out)
    size = xref_num + 1
    rows = bytearray()
    for num in range(size):
        if num == 0:
            t, f2, f3 = 0, 0, 65535
        elif num in top_offsets:
            t, f2, f3 = 1, top_offsets[num], 0
        elif num == xref_num:
            t, f2, f3 = 1, xref_pos, 0
        else:  # packed into the object stream
            t, f2, f3 = 2, objstm_num, next(
                i for i, (n, _b) in enumerate(packed) if n == num
            )
        rows.append(t)
        rows += f2.to_bytes(4, "big")
        rows += f3.to_bytes(2, "big")
    xref = (
        b"<< /Type /XRef /Size %d /W [1 4 2] /Root 1 0 R /Info 4 0 R /Length %d "
        b">>\nstream\n%s\nendstream" % (size, len(rows), bytes(rows))
    )
    out += f"{xref_num} 0 obj\n".encode() + xref + b"\nendobj\n"
    out += f"startxref\n{xref_pos}\n%%EOF\n".encode()
    return bytes(out)
