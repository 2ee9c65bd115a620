"""WARC (Web ARChive, ISO 28500) source: the Common Crawl container
format (X44).

The reference ingests rendered PDFs (reference src/stage2_ocr.py:
406-442); this graft's north input is Common-Crawl-style web pages, and
WARC is the wire format those actually arrive in — so the source
surface gains a real WARC record reader: split a WARC file (plain or
per-record-gzip, the Common Crawl convention that makes members
independently seekable) into records, peel the HTTP envelope off
response records, and emit the same (url, warc_ts, html) shape the
extraction pipeline reads.

Scale shape: one WARC file = one input row (binary blob from a
files-table or `binaryFile` scan); `warc_pages_df` is a narrow
mapInPandas — each blob parses independently, no shuffle, and the
parser is bomb-guarded (record-length and inflation caps) so hostile
archives degrade to fewer rows, never an executor OOM.

Parsing is strictly Content-Length-driven per the spec: a payload that
itself contains "WARC/1.0" cannot desynchronize the reader.  On a
malformed record the parser stops and returns the records before it
(partial archives are the common real-world failure).
"""

from __future__ import annotations

import gzip
import io
import zlib
from collections.abc import Iterator

__all__ = [
    "MAX_RECORD_BYTES",
    "build_warc",
    "parse_warc",
    "split_http_response",
    "warc_pages_df",
    "wet_export_df",
]

# per-record payload cap: a lying Content-Length (or a gzip bomb) stops
# the parse instead of allocating unbounded executor memory
MAX_RECORD_BYTES = 64 * 1024 * 1024
# header-block allowance on top of the payload cap for gzip members
# (the member plaintext carries the WARC header envelope too)
MAX_HEADER_BYTES = 64 * 1024
_CRLF = b"\r\n"


# --------------------------------------------------------------------------
# writer (fixture encoder — same role as the JPEG/GIF fixture encoders:
# a spec-faithful byte producer the parser is exercised against)
# --------------------------------------------------------------------------
def build_warc(
    records: list[dict], per_record_gzip: bool = False
) -> bytes:
    """Assemble a WARC/1.0 file from record dicts with keys
    ``rec_type`` (e.g. "response"), ``url``, ``date`` (ISO-8601 string),
    ``payload`` (bytes; for responses, the full HTTP message).  With
    ``per_record_gzip`` each record is its own gzip member — the Common
    Crawl layout."""
    out = []
    for i, rec in enumerate(records):
        payload = rec["payload"]
        headers = [
            b"WARC/1.0",
            b"WARC-Type: " + rec["rec_type"].encode("ascii"),
            b"WARC-Record-ID: <urn:uuid:%08d>" % i,
            b"WARC-Date: " + rec["date"].encode("ascii"),
        ]
        if rec.get("url"):
            headers.append(
                b"WARC-Target-URI: " + rec["url"].encode("ascii")
            )
        if rec["rec_type"] == "response":
            headers.append(
                b"Content-Type: application/http; msgtype=response"
            )
        else:
            headers.append(b"Content-Type: text/plain")
        headers.append(b"Content-Length: %d" % len(payload))
        blob = (
            _CRLF.join(headers)
            + _CRLF + _CRLF
            + payload
            + _CRLF + _CRLF
        )
        if per_record_gzip:
            buf = io.BytesIO()
            # mtime pinned: deterministic bytes for golden fixtures
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                gz.write(blob)
            blob = buf.getvalue()
        out.append(blob)
    return b"".join(out)


def http_response_payload(
    body: bytes, status: int = 200, content_type: str = "text/html"
) -> bytes:
    """Wrap a body in a minimal HTTP/1.1 response message (what a
    crawler stores in a WARC response record)."""
    return (
        b"HTTP/1.1 %d OK\r\n" % status
        + b"Content-Type: %s\r\n" % content_type.encode("ascii")
        + b"Content-Length: %d\r\n" % len(body)
        + _CRLF
        + body
    )


# --------------------------------------------------------------------------
# reader
# --------------------------------------------------------------------------
def _gunzip_members(data: bytes) -> Iterator[bytes]:
    """Iterate concatenated gzip members with bounded inflation.

    The member plaintext is the whole record ENVELOPE (WARC header
    block + payload + trailing CRLFs), so the inflation bound is the
    payload cap plus a header allowance — capping the envelope at
    MAX_RECORD_BYTES alone would silently drop records whose payload
    is legal but whose headers push the envelope past the cap, while
    the plain path (which caps the parsed Content-Length) accepted
    them."""
    cap = MAX_RECORD_BYTES + MAX_HEADER_BYTES
    pos = 0
    while pos < len(data):
        d = zlib.decompressobj(wbits=16 + zlib.MAX_WBITS)
        try:
            chunk = d.decompress(data[pos:], cap + 1)
        except zlib.error:
            return
        if len(chunk) > cap or not d.eof:
            return  # bomb or truncated member: stop, keep prior records
        yield chunk
        consumed = len(data) - pos - len(d.unused_data)
        if consumed <= 0:
            return
        pos += consumed


def _parse_plain(data: bytes) -> Iterator[dict]:
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record CRLFs
        while data.startswith(_CRLF, pos):
            pos += 2
        if pos >= n:
            return
        eol = data.find(_CRLF, pos)
        if eol < 0 or not data[pos:eol].startswith(b"WARC/"):
            return
        hdr_end = data.find(_CRLF + _CRLF, eol)
        if hdr_end < 0:
            return
        headers: dict[str, str] = {}
        for line in data[eol + 2 : hdr_end].split(_CRLF):
            k, sep, v = line.partition(b":")
            if sep:
                headers[k.strip().lower().decode("latin-1")] = (
                    v.strip().decode("latin-1")
                )
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            return
        if length < 0 or length > MAX_RECORD_BYTES:
            return
        body_start = hdr_end + 4
        if body_start + length > n:
            return  # truncated record
        yield {"headers": headers, "payload": data[body_start : body_start + length]}
        pos = body_start + length


def parse_warc(data: bytes) -> list[dict]:
    """Parse a WARC file (plain or concatenated-gzip) into record dicts
    {rec_type, url, date, payload, headers}.  Malformed input yields the
    records parsed before the defect — never an exception, never an
    unbounded allocation."""
    if data[:2] == b"\x1f\x8b":
        raw_records: Iterator[dict] = (
            rec
            for member in _gunzip_members(data)
            for rec in _parse_plain(member)
        )
    else:
        raw_records = _parse_plain(data)
    out = []
    for rec in raw_records:
        h = rec["headers"]
        out.append(
            {
                "rec_type": h.get("warc-type", ""),
                "url": h.get("warc-target-uri", ""),
                "date": h.get("warc-date", ""),
                "payload": rec["payload"],
                "headers": h,
            }
        )
    return out


def split_http_response(payload: bytes) -> tuple[int, bytes]:
    """(status, body) from an HTTP response message; (0, payload) if the
    payload isn't one — the caller keeps the bytes either way."""
    if not payload.startswith(b"HTTP/"):
        return 0, payload
    hdr_end = payload.find(_CRLF + _CRLF)
    if hdr_end < 0:
        return 0, payload
    status_line = payload[: payload.find(_CRLF)]
    parts = status_line.split(b" ", 2)
    try:
        status = int(parts[1])
    except (IndexError, ValueError):
        return 0, payload
    return status, payload[hdr_end + 4 :]


# --------------------------------------------------------------------------
# Spark source operator
# --------------------------------------------------------------------------
WARC_PAGES_DDL = (
    "url string, warc_date string, rec_type string, http_status int, "
    "html binary, n_rec_bytes long"
)


def warc_pages_df(warc_df, blob_col: str = "warc"):
    """Explode WARC file blobs into page rows: one input row per WARC
    file, one output row per record.  Narrow mapInPandas — blobs parse
    independently, nothing shuffles; at 100 TB the input is a
    `binaryFile` (or files-table) scan over the crawl's WARC objects
    and this kernel is the first stage of the extraction job."""
    import pandas as pd

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for blob in pdf[blob_col]:
                for rec in parse_warc(bytes(blob)):
                    status, body = split_http_response(rec["payload"])
                    rows.append(
                        {
                            "url": rec["url"],
                            "warc_date": rec["date"],
                            "rec_type": rec["rec_type"],
                            "http_status": status,
                            "html": body,
                            "n_rec_bytes": len(rec["payload"]),
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "url", "warc_date", "rec_type", "http_status",
                    "html", "n_rec_bytes",
                ],
            )

    return warc_df.mapInPandas(kernel, schema=WARC_PAGES_DDL)


def documents_as_warc_df(
    documents_df, group_size: int = 50, per_record_gzip: bool = True
):
    """Deterministically pack the testdata `documents` table into WARC
    file blobs (``group_size`` consecutive doc_ids per file, records in
    doc_id order, gzip mtime pinned) — the fixture-side counterpart of
    `warc_pages_df`, mirroring how `documents_as_pages_df` drives the
    extraction queries."""
    import pandas as pd
    from pyspark.sql import functions as F

    from ocr_pipeline_spark.fixtures.gen_pages import wrap_document_as_page

    def make_blob(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        recs = []
        for d, t, l, s in zip(pdf.doc_id, pdf.text, pdf.lang, pdf.source):
            page = wrap_document_as_page(int(d), t, l, s)
            recs.append(
                {
                    "rec_type": "response",
                    "url": page["url"],
                    "date": page["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ"),
                    "payload": http_response_payload(page["html"]),
                }
            )
        return pd.DataFrame(
            {
                "warc_id": [int(pdf.doc_id.iloc[0]) // group_size],
                "warc": [build_warc(recs, per_record_gzip)],
            }
        )

    return (
        documents_df.select("doc_id", "text", "lang", "source")
        .withColumn("warc_id", F.expr(f"doc_id div {group_size}"))
        .groupBy("warc_id")
        .applyInPandas(make_blob, schema="warc_id long, warc binary")
    )


WET_SHARD_DDL = "shard int, n_records long, n_bytes long, wet_md5 string"


def wet_export_df(extracted, n_shards: int = 8):
    """Extracted text -> WET-style shard files: WARC 'conversion'
    records (text/plain payload per url, WARC-Target-URI + WARC-Date
    headers), one gzip member per record — the Common Crawl WET layout,
    written with the same `build_warc` the reader tests round-trip.

    Input columns: (url, wet_date, text) — the caller renders the date
    string (`date_format(warc_ts, "yyyy-MM-dd'T'HH:mm:ss'Z'")`) so this
    stays agnostic of session-timezone handling.  Sharding is
    content-addressed (first md5 hex digit of url -> shard), so shard
    membership is independent of partitioning and parallelism; records
    are sorted by url INSIDE the shard and gzip mtime is pinned, so the
    container bytes — and therefore each shard's md5 — are
    deterministic.  Output: one row per shard
    (shard, n_records, n_bytes, wet_md5).

    Scale shape: the only shuffle is the shard groupBy (in production a
    shard is one WET *file*, so n_shards grows with the corpus and each
    group stays ~1 GiB); the blob never leaves the executor — only the
    md5 and sizes do.
    """
    import hashlib

    import pandas as pd
    from pyspark.sql import functions as F

    def make_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("url")
        recs = [
            {
                "rec_type": "conversion",
                "url": u,
                "date": d,
                "payload": (t or "").encode("utf-8"),
            }
            for u, d, t in zip(pdf["url"], pdf["wet_date"], pdf["text"])
        ]
        blob = build_warc(recs, per_record_gzip=True)
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0])],
                "n_records": [len(recs)],
                "n_bytes": [len(blob)],
                "wet_md5": [hashlib.md5(blob).hexdigest()],
            }
        )

    shard = (
        F.expr("conv(substring(md5(url), 1, 1), 16, 10)").cast("int")
        % n_shards
    )
    return (
        extracted.select("url", "wet_date", "text")
        .withColumn("shard", shard)
        .groupBy("shard")
        .applyInPandas(make_shard, schema=WET_SHARD_DDL)
    )
