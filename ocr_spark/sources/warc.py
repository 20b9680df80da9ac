"""WARC (ISO 28500) web-archive source — the standard container format
for web crawls (Common Crawl, Internet Archive), and the natural input
for a web-scale main-content extraction pipeline: each file is a
sequence of framed records (warcinfo / request / response / metadata),
response records carrying a full HTTP message whose body is the page
HTML that feeds the boilerplate extractor.

The reference service has no bulk-archive path (uploads arrive one
request at a time, main.py:72); this module is part of the engine's
web-scale ingestion surface alongside sources/jsonl.py.

Scale posture:
- ``read_warc`` scans with Spark's ``binaryFile`` source, so one archive
  file = one task (``.warc.gz`` is NOT splittable: each record is its own
  gzip member, the file cannot be cut mid-member without an index). Crawl
  archives are conventionally ~1 GB per file exactly so that file-level
  parallelism is sufficient — at 100 TB that is ~100k tasks, far above
  any executor count, and per-task memory is bounded by one file.
- Parsing runs in ``mapInPandas`` (one Python pass per file, Arrow
  batches out); all record framing is byte-offset arithmetic, no
  per-record regex over the whole file.
- Malformed records are QUARANTINED to an ``error`` column and the
  parser resynchronizes at the next record boundary — at crawl scale a
  single truncated record must not kill the job (same F5 contract as the
  JSONL/CSV sources).
"""

from __future__ import annotations

import codecs
import re
import zlib
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

GZIP_MAGIC = b"\x1f\x8b"

RECORD_SCHEMA = (
    "file_name string, rec_offset long, warc_type string, record_id string, "
    "target_uri string, warc_date string, http_status int, "
    "http_content_type string, payload binary, error string"
)


# --- deterministic fixture corpus ---------------------------------------------
#
# Like sources/pdf_fixture.py, the fixture is a pure function of doc_id so
# the DuckDB oracle can reconstruct every expected value in SQL. ASCII
# only: byte lengths == character lengths on both engines.

# >40 words per paragraph: the NumWordsRules classifier keeps a 41+-word
# block unconditionally, so single-paragraph pages survive even between
# two linkful boiler blocks
_PARA = (
    "Doc {i} paragraph {j} covers alpha beta gamma delta epsilon zeta eta "
    "theta iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon phi "
    "chi psi omega and further synthetic crawl content tokens extending "
    "this paragraph well past the forty word content threshold."
)
_NOT_FOUND_HTML = (
    "<html><head><title>404</title></head><body><p>Not found.</p></body></html>"
)


def warc_uri(doc_id: int) -> str:
    return f"https://site{doc_id % 7}.example/page/{doc_id}"


def warc_date(doc_id: int) -> str:
    return f"2026-01-{1 + doc_id % 28:02d}T00:00:00Z"


def is_not_found(doc_id: int) -> bool:
    """Every 11th-ish doc is a 404 so consumers must prove status routing."""
    return doc_id % 11 == 3


def warc_html(doc_id: int) -> str:
    """The page HTML served for ``doc_id`` — same nav/content/footer shape
    as the html_extract facade so the boilerplate classifier sees both
    linkful boiler and >16-word content blocks."""
    if is_not_found(doc_id):
        return _NOT_FOUND_HTML
    paras = "</p><p>".join(
        _PARA.format(i=doc_id, j=j) for j in range(1, 2 + doc_id % 3)
    )
    return (
        f"<html><head><title>Doc {doc_id}</title></head><body>"
        '<div class="nav"><a href="/">Home</a> <a href="/x">Links</a></div>'
        f"<div><p>{paras}</p></div>"
        '<div class="footer"><a>(c) 2026 Synth Corp</a></div></body></html>'
    )


def _record(headers: list[tuple[str, str]], content: bytes) -> bytes:
    head = "".join(f"{k}: {v}\r\n" for k, v in headers)
    return (
        f"WARC/1.0\r\n{head}Content-Length: {len(content)}\r\n\r\n".encode()
        + content
        + b"\r\n\r\n"
    )


def _response_record(doc_id: int) -> bytes:
    body = warc_html(doc_id).encode()
    status = "404 Not Found" if is_not_found(doc_id) else "200 OK"
    http = (
        f"HTTP/1.1 {status}\r\n"
        "Content-Type: text/html; charset=utf-8\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode() + body
    return _record(
        [
            ("WARC-Type", "response"),
            ("WARC-Record-ID", f"<urn:ocr-spark:rec:{doc_id}>"),
            ("WARC-Date", warc_date(doc_id)),
            ("WARC-Target-URI", warc_uri(doc_id)),
            ("Content-Type", "application/http;msgtype=response"),
        ],
        http,
    )


def _request_record(doc_id: int) -> bytes:
    http = (
        f"GET /page/{doc_id} HTTP/1.1\r\nHost: site{doc_id % 7}.example\r\n\r\n"
    ).encode()
    return _record(
        [
            ("WARC-Type", "request"),
            ("WARC-Record-ID", f"<urn:ocr-spark:req:{doc_id}>"),
            ("WARC-Date", warc_date(doc_id)),
            ("WARC-Target-URI", warc_uri(doc_id)),
            ("Content-Type", "application/http;msgtype=request"),
        ],
        http,
    )


def _warcinfo_record(file_id: int) -> bytes:
    return _record(
        [
            ("WARC-Type", "warcinfo"),
            ("WARC-Record-ID", f"<urn:ocr-spark:info:{file_id}>"),
            ("WARC-Date", "2026-01-01T00:00:00Z"),
            ("Content-Type", "application/warc-fields"),
        ],
        b"software: ocr-spark-synth\r\n",
    )


def synth_warc_file(file_id: int, doc_ids: Iterable[int], compress: bool) -> bytes:
    """One archive: a warcinfo header record, then per doc an (optional)
    request record followed by its response record. ``compress`` gzips
    EVERY record as its own gzip member — the crawl-archive convention
    that keeps records independently seekable."""
    records = [_warcinfo_record(file_id)]
    for i in doc_ids:
        if i % 4 == 0:  # some docs also carry their request record
            records.append(_request_record(i))
        records.append(_response_record(i))
    if compress:
        return b"".join(
            zlib.compress(r, 6, wbits=31) for r in records  # per-record members
        )
    return b"".join(records)


def synth_warc_files(spark: SparkSession, n_docs: int, n_files: int = 6) -> DataFrame:
    """(file_name, content) fixture frame built inside the plan (one task
    per archive, no driver-side byte assembly): doc i lives in file
    ``i % n_files``; odd files are per-record-gzip (.warc.gz), even files
    plain (.warc), so every consumer exercises both code paths."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"file_name": [], "content": []}
            for f in pdf["id"]:
                f = int(f)
                gz = bool(f % 2)
                rows["file_name"].append(
                    f"crawl-{f:04d}.warc" + (".gz" if gz else "")
                )
                rows["content"].append(
                    synth_warc_file(f, range(f, n_docs, n_files), gz)
                )
            yield pd.DataFrame(rows)

    return (
        spark.range(n_files)
        .repartition(min(n_files, 32))
        .mapInPandas(gen, "file_name string, content binary")
    )


# --- parser -------------------------------------------------------------------


def gunzip_members(data: bytes) -> bytes:
    """Concatenated-gzip-member decompress (stdlib zlib only). wbits=47
    auto-detects the gzip wrapper; loop over ``unused_data`` walks the
    member chain."""
    out = []
    while data:
        d = zlib.decompressobj(wbits=47)
        out.append(d.decompress(data))
        out.append(d.flush())
        if not d.unused_data or d.unused_data == data:
            break
        data = d.unused_data
    return b"".join(out)


def _dechunk(body: bytes) -> bytes:
    """Transfer-Encoding: chunked de-framing (size-line;ext CRLF data CRLF
    ... 0 CRLF) — real crawl responses carry it routinely."""
    out, pos = [], 0
    while True:
        nl = body.find(b"\r\n", pos)
        if nl < 0:
            raise ValueError("chunked: missing size line")
        size = int(body[pos:nl].split(b";")[0], 16)
        pos = nl + 2
        if size == 0:
            return b"".join(out)
        if pos + size > len(body):
            raise ValueError("chunked: truncated chunk")
        out.append(body[pos : pos + size])
        pos += size + 2  # chunk-terminating CRLF


def _decode_body(body: bytes, headers: dict[str, str]) -> bytes:
    """Undo the transport layers a real archive captures verbatim:
    chunked framing, gzip/deflate Content-Encoding, and a non-UTF-8
    charset (transcoded to UTF-8 so the downstream binary->string cast is
    faithful). Unknown charset labels are left as-is rather than
    quarantining the page."""
    if "chunked" in headers.get("transfer-encoding", "").lower():
        body = _dechunk(body)
    ce = headers.get("content-encoding", "").strip().lower()
    if ce in ("gzip", "x-gzip", "deflate"):
        try:
            body = zlib.decompress(body, wbits=47)
        except zlib.error:
            body = zlib.decompress(body, wbits=-15)  # raw-deflate servers
    m = re.search(r"charset=\"?([\w.:-]+)", headers.get("content-type", ""), re.I)
    if m and m.group(1).lower() not in ("utf-8", "utf8", "ascii", "us-ascii"):
        try:
            codecs.lookup(m.group(1))
        except LookupError:
            pass
        else:
            body = body.decode(m.group(1), errors="replace").encode("utf-8")
    return body


def _parse_http_response(content: bytes):
    """(status, content_type, body) from an HTTP response message; raises
    ValueError on a malformed message (caller quarantines the record but
    keeps the archive framing, so the next record is unaffected)."""
    sep = content.find(b"\r\n\r\n")
    if sep < 0:
        raise ValueError("http: no header/body separator")
    head = content[:sep].decode("latin-1").split("\r\n")
    parts = head[0].split(" ", 2)
    if len(parts) < 2 or not parts[0].startswith("HTTP/"):
        raise ValueError(f"http: bad status line {head[0]!r}")
    status = int(parts[1])
    headers: dict[str, str] = {}
    for line in head[1:]:
        k, _, v = line.partition(":")
        headers[k.strip().lower()] = v.strip()
    body = _decode_body(content[sep + 4 :], headers)
    return status, headers.get("content-type"), body


def parse_warc_bytes(file_name: str, data: bytes) -> Iterator[dict]:
    """Row dicts (RECORD_SCHEMA) for every record in one archive.

    Framing (ISO 28500 §4): ``WARC/1.0 CRLF headers CRLF CRLF`` then
    exactly Content-Length content bytes, then CRLF CRLF. A record that
    violates the frame yields ONE error row and the parser resynchronizes
    at the next ``\\r\\nWARC/`` boundary; for ``.gz`` files offsets are in
    the decompressed stream."""
    gz_error = None
    if data[:2] == GZIP_MAGIC:
        # salvage: a corrupt member quarantines ITSELF, not the records
        # already decompressed before it — at 1 GB/archive a late bit
        # flip must not discard thousands of good pages
        chunks, rest = [], data
        try:
            while rest:
                d = zlib.decompressobj(wbits=47)
                chunks.append(d.decompress(rest))
                chunks.append(d.flush())
                if not d.unused_data or d.unused_data == rest:
                    break
                rest = d.unused_data
        except Exception as e:
            gz_error = f"gzip: {e}"
        data = b"".join(chunks)
    pos, n = 0, len(data)
    while pos < n:
        while pos < n and data[pos : pos + 1] in (b"\r", b"\n"):
            pos += 1
        if pos >= n:
            break
        start = pos
        scan_from = start + 1  # framing-error resync floor
        try:
            hdr_end = data.find(b"\r\n\r\n", pos)
            if hdr_end < 0:
                raise ValueError("warc: unterminated header block")
            lines = data[pos:hdr_end].decode("latin-1").split("\r\n")
            if not lines[0].startswith("WARC/"):
                raise ValueError(f"warc: bad version line {lines[0]!r}")
            # version line is sound: a later framing error may resync
            # past this record's header (its bytes can't start a record)
            scan_from = hdr_end + 4
            hdrs: dict[str, str] = {}
            for line in lines[1:]:
                k, _, v = line.partition(":")
                hdrs[k.strip().lower()] = v.strip()
            clen = int(hdrs["content-length"])
            body_start = hdr_end + 4
            if clen < 0 or body_start + clen > n:
                raise ValueError(f"warc: content-length {clen} past EOF")
            content = data[body_start : body_start + clen]
            row = {
                "file_name": file_name,
                "rec_offset": start,
                "warc_type": hdrs.get("warc-type"),
                "record_id": hdrs.get("warc-record-id"),
                "target_uri": hdrs.get("warc-target-uri"),
                "warc_date": hdrs.get("warc-date"),
            }
            pos = body_start + clen  # framing is sound past this point
            try:
                if row["warc_type"] == "response":
                    status, ctype, body = _parse_http_response(content)
                    row.update(http_status=status, http_content_type=ctype,
                               payload=body)
                else:
                    row["payload"] = content
                yield row
            except Exception as e:
                # HTTP-level damage: quarantine THIS record, framing keeps
                # the parser exactly at the next record (no resync scan)
                yield {"file_name": file_name, "rec_offset": start,
                       "target_uri": row.get("target_uri"),
                       "warc_type": row.get("warc_type"),
                       "error": f"http: {e}"}
        except Exception as e:
            yield {"file_name": file_name, "rec_offset": start,
                   "error": str(e)}
            nxt = data.find(b"\r\nWARC/", scan_from)
            if nxt < 0:
                break
            pos = nxt + 2
    if gz_error is not None:
        yield {"file_name": file_name, "rec_offset": n, "error": gz_error}


_ROW_KEYS = [f.split(" ")[0] for f in RECORD_SCHEMA.split(", ")]


def parse_warc_records(files: DataFrame) -> DataFrame:
    """(file_name, content) -> one row per WARC record (RECORD_SCHEMA),
    errors quarantined per record."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # one output frame PER FILE, not per Arrow batch: a batch can
            # hold several ~1 GB archives, and accumulating all of their
            # decompressed pages in one dict would defeat the per-task
            # memory bound the module exists to keep
            for fname, blob in zip(pdf["file_name"], pdf["content"]):
                rows: dict[str, list] = {k: [] for k in _ROW_KEYS}
                for rec in parse_warc_bytes(str(fname), bytes(blob)):
                    for k in _ROW_KEYS:
                        rows[k].append(rec.get(k))
                if rows["file_name"]:
                    yield pd.DataFrame(rows)

    return files.mapInPandas(run, RECORD_SCHEMA)


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Archive glob -> parsed record frame. ``binaryFile`` gives
    (path, content); one file per task — see the module docstring for why
    that is the right granularity for crawl archives."""
    files = spark.read.format("binaryFile").load(path).select(
        F.col("path").alias("file_name"), F.col("content")
    )
    return parse_warc_records(files)


def read_warc_stream(spark: SparkSession, path: str) -> DataFrame:
    """Continuous crawl ingestion: a Structured Streaming ``binaryFile``
    source over an archive drop directory -> the same parsed record frame
    as :func:`read_warc`, one micro-batch per file batch. The whole
    downstream extraction chain (``responses`` -> ``warc_documents``) is
    stateless per record, so it composes onto this stream unchanged;
    watermark/stateful assembly belongs to streaming/spans.py. Pair with
    ``.option("maxFilesPerTrigger", k)`` semantics via
    ``spark.readStream``'s options when rate-limiting a backlog."""
    files = (
        spark.readStream.format("binaryFile")
        .schema("path string, modificationTime timestamp, length long, content binary")
        .load(path)
        .select(F.col("path").alias("file_name"), F.col("content"))
    )
    return parse_warc_records(files)


def responses(parsed: DataFrame) -> DataFrame:
    """Well-formed response records with the HTML payload decoded to a
    string column — the frame the extraction operators consume."""
    return (
        parsed.filter((F.col("warc_type") == "response") & F.col("error").isNull())
        .select(
            "file_name", "record_id", "target_uri", "warc_date",
            "http_status", "http_content_type",
            F.col("payload").cast("string").alias("html"),
        )
    )


def _html_pages(parsed: DataFrame, respect_noindex: bool) -> DataFrame:
    """(doc_id, html) of the 200-OK text/html and xhtml responses, doc_id =
    xxhash64 of the target URI; with ``respect_noindex``, pages whose
    robots meta says noindex (or none) are dropped first."""
    ct = F.lower(F.coalesce(F.col("http_content_type"), F.lit("")))
    r = responses(parsed).filter(
        (F.col("http_status") == 200)
        & (ct.startswith("text/html") | ct.startswith("application/xhtml+xml"))
    )
    if respect_noindex:
        from ocr_spark.operators.links import robots_meta_directive

        r = r.filter(~robots_meta_directive(F.col("html"), "noindex"))
    return r.select(F.xxhash64("target_uri").alias("doc_id"), F.col("html"))


def warc_documents(
    parsed: DataFrame,
    extractor: str = "boilerpipe",
    respect_noindex: bool = False,
) -> DataFrame:
    """(doc_id, text) corpus view for the curation/dedup jobs: 200-OK
    text/html responses, main content stripped of boilerplate, doc_id =
    xxhash64 of the target URI (stable across runs and cluster sizes,
    like textstats.split_assign's hashing).

    ``extractor`` picks the north-star family member: ``boilerpipe``
    (per-block NumWordsRules, linear, the high-recall default for crawl
    corpora), ``readability`` (Arc90 container scoring — higher
    precision on template-heavy pages, quadratic in containers×blocks
    per document), or ``justext`` (stopword-density classification with
    context-sensitive revision — the conservative choice for clean-text
    corpus building; English stoplist). All are pure Column expressions.

    ``respect_noindex`` drops pages whose robots meta says noindex (or
    none) BEFORE extraction — the corpus-entry half of the crawl-hygiene
    contract (the outlink half, nofollow + robots.txt gating, lives in
    jobs/links_job.py); a narrow filter ahead of the heavy
    boilerplate pass, so excluded pages cost one regexp scan."""
    keyed = _html_pages(parsed, respect_noindex)
    if extractor == "readability":
        from ocr_spark.operators.boilerplate import readability_extract

        return readability_extract(keyed).select(
            "doc_id", F.col("main_text").alias("text")
        )
    if extractor == "justext":
        from ocr_spark.operators.boilerplate import justext_extract

        return justext_extract(keyed).select(
            "doc_id", F.col("main_text").alias("text")
        )
    if extractor != "boilerpipe":
        raise ValueError(f"unknown HTML extractor {extractor!r}")
    from ocr_spark.operators.boilerplate import extract_main_content

    main = extract_main_content(F.col("html"))
    return keyed.select("doc_id", main["main_text"].alias("text"))


def warc_span_corpus(
    parsed: DataFrame, respect_noindex: bool = False
) -> DataFrame:
    """(doc_id, spans) INTERLEAVED corpus view — the crawl→flagship
    bridge: the same 200-OK text/html selection as :func:`warc_documents`
    (same stable xxhash64 doc_id, same optional noindex gate), but
    emitting the canonical span sequence via
    ``boilerplate.html_to_spans`` (content text spans + kept ``<img>``
    media spans, in document order) instead of flattened text — so a
    crawled WARC drop flows straight into ``spans.classify_and_assemble``
    / ``pipeline.extract_documents`` and every span_corpus operator
    unchanged."""
    from ocr_spark.operators.boilerplate import html_to_spans

    return html_to_spans(_html_pages(parsed, respect_noindex))
