"""WARC (ISO 28500) reader: the input format of web-scale HTML
pipelines (Common Crawl and every serious crawler ship WARC).

`parse_warc` handles plain and gzip-compressed archives (member-per-
record or whole-file — stdlib gzip decodes concatenated members
transparently), WARC/1.0 and 1.1 version lines, header folding,
Content-Length-delimited payloads, and the response/request/metadata/
conversion/warcinfo record types. For `response` records the embedded
HTTP message is split too (status line, headers, body), with the body
run through the ingest tier's transport decodings
(Content-Encoding: gzip/br/... via sources/ingest) and charset
detection — so a WARC record goes to parse-ready text in one call.

`warc_stage` lifts this to Spark: a DataFrame of (archive_id, payload
binary) explodes into per-record rows inside the per-document Arrow
kernel (Arrow batches, no Python UDF per row) — archives are
independent, so the stage is embarrassingly parallel and the natural
100 TB layout is "one task per WARC member range", exactly how Common
Crawl ships (~1 GB gzip archives).

`build_warc` is the zero-fixtures test encoder: records -> conformant
WARC bytes (optionally gzipped member-wise), so the driver oracle can
round-trip synthetic archives without any fixture on disk.

Reference parity anchor: the reference parses documents handed to it
by I/O helpers (helper/DataUtil.java); WARC is the corpus-scale
transport of the same payloads, reference-free by design.
"""

from __future__ import annotations

import gzip
import io

from pyspark.sql import DataFrame, types as T

from . import ingest
from ..operators.pipeline import doc_stage

_CRLF = b"\r\n"


class WarcRecord:
    __slots__ = ("headers", "payload", "http_status", "http_headers",
                 "body")

    def __init__(self, headers, payload):
        self.headers = headers          # dict, original-case keys
        self.payload = payload          # raw record block
        self.http_status = None
        self.http_headers = None
        self.body = None                # decoded text for responses

    def header(self, name: str, default=None):
        for k, v in self.headers.items():
            if k.lower() == name.lower():
                return v
        return default

    @property
    def record_type(self):
        return self.header("WARC-Type", "")

    @property
    def target_uri(self):
        u = self.header("WARC-Target-URI", "")
        # WARC/1.1 permits <uri> bracketing
        return u[1:-1] if u.startswith("<") and u.endswith(">") else u


def _parse_headers(block: bytes):
    """Header lines (with RFC folding) -> ordered dict."""
    headers: dict[str, str] = {}
    last = None
    for line in block.split(b"\r\n"):
        if not line:
            continue
        if line[:1] in (b" ", b"\t") and last is not None:
            headers[last] += " " + line.strip().decode(
                "utf-8", "replace")
            continue
        if b":" not in line:
            raise ValueError("WARC: malformed header line")
        k, v = line.split(b":", 1)
        last = k.strip().decode("utf-8", "replace")
        headers[last] = v.strip().decode("utf-8", "replace")
    return headers


def parse_warc(data: bytes, *, decode_http: bool = True
               ) -> list[WarcRecord]:
    """WARC archive bytes (plain or gzip) -> list of records."""
    if data[:2] == b"\x1f\x8b":
        data = gzip.decompress(data)    # handles concatenated members
    records = []
    pos = 0
    n = len(data)
    while pos < n:
        # tolerate inter-record CRLFs
        while pos < n and data[pos:pos + 2] == _CRLF:
            pos += 2
        if pos >= n:
            break
        eol = data.find(b"\r\n", pos)
        if eol < 0:
            raise ValueError("WARC: truncated version line")
        version = data[pos:eol]
        if not version.startswith(b"WARC/"):
            raise ValueError("WARC: bad version line")
        hdr_end = data.find(b"\r\n\r\n", eol)
        if hdr_end < 0:
            raise ValueError("WARC: truncated record headers")
        headers = _parse_headers(data[eol + 2:hdr_end])
        rec = WarcRecord(headers, b"")
        length = rec.header("Content-Length")
        if length is None:
            raise ValueError("WARC: missing Content-Length")
        length = int(length)
        body_start = hdr_end + 4
        if body_start + length > n:
            raise ValueError("WARC: truncated record payload")
        rec.payload = data[body_start:body_start + length]
        pos = body_start + length
        if data[pos:pos + 4] == b"\r\n\r\n":
            pos += 4
        if decode_http and rec.record_type == "response" \
                and rec.payload[:5] == b"HTTP/":
            _split_http(rec)
        records.append(rec)
    return records


def _split_http(rec: WarcRecord):
    p = rec.payload
    hdr_end = p.find(b"\r\n\r\n")
    if hdr_end < 0:
        return
    lines = p[:hdr_end].split(b"\r\n")
    status = lines[0].split(b" ")
    rec.http_status = int(status[1]) if len(status) > 1 \
        and status[1].isdigit() else None
    rec.http_headers = _parse_headers(b"\r\n".join(lines[1:]))
    body = p[hdr_end + 4:]
    enc = None
    for k, v in (rec.http_headers or {}).items():
        if k.lower() == "content-encoding":
            enc = v.lower()
    if enc == "br":
        rec.body = ingest.decode_html_bytes(body, encoding="br")
    else:
        # gzip/deflate/zstd/lz4 sniffed; identity passes through
        rec.body = ingest.decode_html_bytes(body)


WARC_ROWS = T.StructType([
    T.StructField("archive_id", T.StringType(), False),
    T.StructField("record_idx", T.IntegerType(), False),
    T.StructField("record_type", T.StringType(), True),
    T.StructField("target_uri", T.StringType(), True),
    T.StructField("warc_date", T.StringType(), True),
    T.StructField("http_status", T.IntegerType(), True),
    T.StructField("content_type", T.StringType(), True),
    T.StructField("body", T.StringType(), True),
    T.StructField("n_payload_bytes", T.LongType(), False),
])


def warc_stage(archives: DataFrame) -> DataFrame:
    """(archive_id, payload binary) -> exploded per-record rows
    (WARC_ROWS schema) through the per-document Arrow kernel
    (operators/pipeline.py doc_stage); archives decode independently
    (the embarrassingly-parallel 100 TB shape)."""

    def per_doc(payload):
        return [(i, rec.record_type, rec.target_uri,
                 rec.header("WARC-Date", ""), rec.http_status,
                 rec.header("Content-Type", ""), rec.body,
                 len(rec.payload))
                for i, rec in enumerate(parse_warc(payload))]

    return doc_stage(archives, ["payload"], per_doc, WARC_ROWS)


def build_warc(records, *, gzip_members: bool = False) -> bytes:
    """Test encoder: iterable of (headers dict, payload bytes) ->
    conformant WARC/1.0 bytes; `gzip_members` compresses each record
    as its own gzip member (the Common Crawl layout)."""
    out = bytearray()
    for headers, payload in records:
        rec = bytearray(b"WARC/1.0\r\n")
        hs = dict(headers)
        hs["Content-Length"] = str(len(payload))
        for k, v in hs.items():
            rec += f"{k}: {v}\r\n".encode()
        rec += b"\r\n" + payload + b"\r\n\r\n"
        if gzip_members:
            buf = io.BytesIO()
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as f:
                f.write(bytes(rec))
            out += buf.getvalue()
        else:
            out += rec
    return bytes(out)


def http_response(body: bytes, *, content_type: str = "text/html",
                  encoding: str | None = None,
                  status: int = 200) -> bytes:
    """Wrap a body as an HTTP/1.1 response message (for response
    records), optionally transport-encoded."""
    if encoding == "gzip":
        buf = io.BytesIO()
        with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as f:
            f.write(body)
        body = buf.getvalue()
    elif encoding == "br":
        from jsoup_spark.operators.brotli import compress_stored
        body = compress_stored(body)
    elif encoding is not None:
        raise ValueError(f"unsupported test encoding {encoding}")
    hdr = f"HTTP/1.1 {status} OK\r\nContent-Type: {content_type}\r\n"
    if encoding:
        hdr += f"Content-Encoding: {encoding}\r\n"
    hdr += f"Content-Length: {len(body)}\r\n\r\n"
    return hdr.encode() + body
