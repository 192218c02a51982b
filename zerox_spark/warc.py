"""WARC ingestion — Common Crawl's native archive format (ISO 28500).

The input_hint models an Iceberg table of Common-Crawl-style pages; this
module closes the loop from the RAW crawl: ``read_warc`` turns a directory
of ``*.warc(.gz)`` files into the exact pages schema the whole engine
consumes (url, warc_ts, html, text, lang), so the pipeline runs end-to-end
from archive bytes without a separate ETL. (The reference's downloadFile
fetches one document per call, node-zerox/src/utils/file.ts:32-86; a crawl
archive is the table-native generalization.)

Format notes (public spec, ISO 28500 / WARC 1.0-1.1):

- a warc.gz is CONCATENATED gzip members, canonically one record per
  member (the Common Crawl layout — members are independently seekable);
  plain .warc is the same records uncompressed.
- record = ``WARC/1.x CRLF`` + header lines + blank line + Content-Length
  body bytes + CRLF CRLF. ``WARC-Type: response`` records carry an HTTP
  response; the html payload starts after the HTTP header block's blank
  line.

Scale + robustness:

- Spark side is a ``binaryFile`` scan → ``mapInArrow`` parse: one archive
  file = one task (Common Crawl ships ~64k files per crawl, so file-level
  parallelism is the natural unit, exactly how production WARC jobs run).
- per-record body cap (MAX_RECORD_BYTES) and a per-file decompression
  budget (MAX_ARCHIVE_BYTES) bound the work a hostile archive can cause;
  oversized records are SKIPPED (the next member resyncs), a blown file
  budget truncates the file's record stream (rows so far are kept).
- malformed record headers stop the parse at the last whole record —
  degrade, never crash (the extractor's containment philosophy).

``write_warc`` is the deterministic writer (gzip mtime pinned) used by the
test corpus; it round-trips through ``parse_warc`` byte-exactly.
"""

from __future__ import annotations

import datetime as _dt
import gzip
import io

from pyspark.sql import DataFrame, SparkSession

MAX_RECORD_BYTES = 64 * 1024 * 1024
MAX_ARCHIVE_BYTES = 1 << 30  # 1 GiB decompressed per archive file

_CRLF2 = b"\r\n\r\n"


def _decompress_members(data: bytes, budget: int = MAX_ARCHIVE_BYTES) -> bytes:
    """All concatenated gzip members (GzipFile iterates members natively),
    chunked against the decompression budget; non-gzip input passes
    through. A blown budget truncates — callers keep whole records.

    Not ``extract/inflate.py``: that loop fails the document at its cap,
    while an archive over budget is cut short and keeps the records before
    the cut."""
    if data[:2] != b"\x1f\x8b":
        return data[:budget]
    out = []
    total = 0
    with gzip.GzipFile(fileobj=io.BytesIO(data)) as gz:
        try:
            while total < budget:
                chunk = gz.read(1 << 20)
                if not chunk:
                    break
                out.append(chunk)
                total += len(chunk)
        except (OSError, EOFError):
            pass  # corrupt tail member — keep what decompressed
    return b"".join(out)


def _http_payload(body: bytes) -> bytes | None:
    """HTTP response → decoded body, or None for non-2xx statuses.

    Real crawl archives need three things a naive CRLFCRLF split gets
    wrong: (1) only bodies that START with an HTTP status line have
    headers to strip — arbitrary content containing a blank line must
    pass through whole; (2) 404/301/5xx bodies are error/stub boilerplate
    and must be dropped, not ingested as pages; (3) Transfer-Encoding:
    chunked framing and Content-Encoding: gzip must be decoded or the
    "html" column carries framed/compressed garbage."""
    if not body.startswith(b"HTTP/"):
        return body  # no HTTP envelope: the record body IS the payload
    head_end = body.find(_CRLF2)
    if head_end == -1:
        return None
    head_lines = body[:head_end].split(b"\r\n")
    status_parts = head_lines[0].split()
    try:
        status = int(status_parts[1])
    except (IndexError, ValueError):
        return None
    if not 200 <= status < 300:
        return None
    headers = {}
    for line in head_lines[1:]:
        k, sep, v = line.partition(b":")
        if sep:
            headers[k.strip().lower()] = v.strip().lower()
    payload = body[head_end + 4 :]
    if b"chunked" in headers.get(b"transfer-encoding", b""):
        payload = _dechunk(payload)
    if headers.get(b"content-encoding", b"") in (b"gzip", b"x-gzip"):
        payload = _decompress_members(payload, MAX_RECORD_BYTES)
    return payload


def _dechunk(data: bytes) -> bytes:
    """Un-frame HTTP chunked transfer encoding; a malformed chunk header
    returns what was assembled so far (degrade, never crash)."""
    out, pos, n = [], 0, len(data)
    while pos < n:
        line_end = data.find(b"\r\n", pos)
        if line_end == -1:
            break
        size_field = data[pos:line_end].split(b";")[0].strip()
        try:
            size = int(size_field, 16)
        except ValueError:
            break
        if size == 0:
            break
        chunk_at = line_end + 2
        out.append(data[chunk_at : chunk_at + size])
        pos = chunk_at + size + 2  # skip the chunk's trailing CRLF
    return b"".join(out)


def parse_warc(data: bytes):
    """Yield (url, ts, payload) per 2xx ``WARC-Type: response`` record,
    with the HTTP envelope stripped and chunked/gzip bodies decoded
    (_http_payload); non-response and non-2xx records are skipped."""
    raw = _decompress_members(data)
    pos, n = 0, len(raw)
    while pos < n:
        if not raw.startswith(b"WARC/", pos):
            nxt = raw.find(b"\r\n\r\nWARC/", pos)
            if nxt == -1:
                break
            pos = nxt + 4  # resync at the next record boundary
        head_end = raw.find(_CRLF2, pos)
        if head_end == -1:
            break
        headers: dict[str, str] = {}
        for line in raw[pos:head_end].split(b"\r\n")[1:]:
            k, _, v = line.partition(b":")
            if _:
                headers[k.strip().lower().decode("latin-1")] = (
                    v.strip().decode("latin-1")
                )
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            break  # header block without a parseable length — stop clean
        body_at = head_end + 4
        if length < 0 or body_at + length > n:
            break  # truncated record — keep everything before it
        if length <= MAX_RECORD_BYTES and (
            headers.get("warc-type", "").lower() == "response"
        ):
            payload = _http_payload(raw[body_at : body_at + length])
            url = headers.get("warc-target-uri", "")
            ts = None
            date = headers.get("warc-date", "")
            if date:
                try:
                    # normalize to UTC BEFORE dropping tzinfo — a +05:00
                    # date naively stripped would sort after a later Z
                    # date and corrupt the incremental warc_ts watermark.
                    # (astimezone only when aware: on a naive datetime it
                    # would interpret the value as machine-local time)
                    parsed = _dt.datetime.fromisoformat(
                        date.replace("Z", "+00:00")
                    )
                    if parsed.tzinfo is not None:
                        parsed = parsed.astimezone(_dt.timezone.utc)
                    ts = parsed.replace(tzinfo=None)
                except ValueError:
                    ts = None
            if url and payload is not None:
                yield url, ts, payload
        pos = body_at + length
        if raw.startswith(_CRLF2, pos):
            pos += 4


def write_warc(
    records: list[tuple[str, _dt.datetime, bytes]], compress: bool = True
) -> bytes:
    """Deterministic WARC writer (test corpus): one response record per
    gzip member (the Common Crawl layout), gzip mtime pinned to 0."""
    out = []
    for url, ts, html in records:
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html
        )
        head = (
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            + f"WARC-Target-URI: {url}\r\n".encode("latin-1")
            + f"WARC-Date: {ts.strftime('%Y-%m-%dT%H:%M:%SZ')}\r\n".encode()
            + f"Content-Length: {len(http)}\r\n".encode()
            + b"\r\n"
        )
        record = head + http + _CRLF2
        if compress:
            buf = io.BytesIO()
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                gz.write(record)
            out.append(buf.getvalue())
        else:
            out.append(record)
    return b"".join(out)


def read_warc(spark: SparkSession, path: str, lang: str = "") -> DataFrame:
    """Directory/glob of ``*.warc(.gz)`` → pages DataFrame (input_hint
    shape). binaryFile scan → mapInArrow parse; one archive = one task."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from zerox_spark.schema import PAGES_SCHEMA

    raw = spark.read.format("binaryFile").load(path)
    schema = to_arrow_schema(PAGES_SCHEMA)

    def batches(it):
        for batch in it:
            # one output batch PER ARCHIVE FILE, not per Arrow batch:
            # a 1 GiB-budget archive already holds raw + decompressed +
            # payload copies in memory — accumulating several files'
            # records on top of that before yielding would OOM at exactly
            # the archive sizes this reader targets
            for content in batch["content"]:
                rows = [
                    {
                        "url": url,
                        "warc_ts": ts,
                        "html": payload,
                        "text": "",
                        "lang": lang,
                    }
                    for url, ts, payload in parse_warc(content.as_py())
                ]
                yield pa.RecordBatch.from_pylist(rows, schema=schema)

    return raw.select("content").mapInArrow(batches, schema=PAGES_SCHEMA)
