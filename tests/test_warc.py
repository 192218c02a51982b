"""WARC ingestion: archive bytes → pages table → extraction, end to end."""

from __future__ import annotations

import datetime as dt

from zerox_spark.warc import parse_warc, read_warc, write_warc


def _records(doc_ids, text="alpha beta gamma delta epsilon zeta"):
    from zerox_spark.synth import doc_ts, doc_url, render_html

    return [
        (
            doc_url(i, "src0"),
            doc_ts(i).replace(tzinfo=None),
            render_html(i, text, "en", "src0"),
        )
        for i in doc_ids
    ]


def test_warc_roundtrip_gz_and_plain():
    recs = _records([2, 4, 6])
    for compress in (True, False):
        got = list(parse_warc(write_warc(recs, compress=compress)))
        assert got == recs


def test_warc_truncated_and_resync():
    recs = _records([2, 4, 6])
    plain = write_warc(recs, compress=False)
    # truncated mid-record: whole-record prefix survives
    assert len(list(parse_warc(plain[:-30]))) == 2
    # non-response record skipped; garbage between records resyncs
    extra = (
        b"WARC/1.0\r\nWARC-Type: request\r\nContent-Length: 3\r\n\r\nxyz\r\n\r\n"
        + b"garbage"
        + b"\r\n\r\n"
        + plain
    )
    assert len(list(parse_warc(extra))) == 3


def test_warc_oversized_record_skipped_not_fatal():
    from zerox_spark import warc as W

    recs = _records([2, 4])
    big = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://big.example/x\r\n"
        + f"Content-Length: {W.MAX_RECORD_BYTES + 100}\r\n\r\n".encode()
    )
    # oversized record APPEARS complete (length within data) → skipped,
    # following records still parse
    payload = big + b"\x00" * (W.MAX_RECORD_BYTES + 100) + b"\r\n\r\n"
    got = list(parse_warc(payload + write_warc(recs, compress=False)))
    assert [u for u, _, _ in got] == [u for u, _, _ in recs]


def test_read_warc_to_extraction_end_to_end(spark, tmp_path):
    """warc.gz files on disk → read_warc → extract_pages → the SAME
    markdown the closed-form spec predicts — the full raw-crawl-to-table
    loop."""
    from zerox_spark.extract.core import ExtractConfig
    from zerox_spark.operators.extract import extract_pages
    from zerox_spark.synth import expected_markdown_pages

    text = "the fast key order sort table scan merge part window small"
    ids_a, ids_b = [2, 4], [6, 8]
    (tmp_path / "a.warc.gz").write_bytes(write_warc(_records(ids_a, text)))
    (tmp_path / "b.warc.gz").write_bytes(write_warc(_records(ids_b, text)))

    pages = read_warc(spark, str(tmp_path / "*.warc.gz"), lang="en")
    ex = extract_pages(pages, ExtractConfig(trust_text=False), 4)
    got = {
        (r.url, r.page_no): r.markdown
        for r in ex.select("url", "page_no", "markdown").collect()
    }
    from zerox_spark.synth import doc_url

    expected = {}
    for i in ids_a + ids_b:
        for page_no, md in expected_markdown_pages(i, text, "src0"):
            expected[(doc_url(i, "src0"), page_no)] = md
    assert got == expected


def test_warc_http_status_filtering_and_encodings():
    """Real-crawl record shapes: non-2xx dropped; chunked bodies
    de-framed; gzip bodies decompressed; +05:00 dates normalized to UTC."""
    import gzip as _gzip
    import io as _io

    def rec(headers_http, body, url="https://x.example/a", date="2026-01-01T12:00:00+05:00"):
        http = headers_http + b"\r\n\r\n" + body
        return (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            + f"WARC-Target-URI: {url}\r\n".encode()
            + f"WARC-Date: {date}\r\n".encode()
            + f"Content-Length: {len(http)}\r\n\r\n".encode()
            + http
            + b"\r\n\r\n"
        )

    # 404 dropped
    assert list(parse_warc(rec(b"HTTP/1.1 404 Not Found", b"<html>no</html>"))) == []
    # 301 dropped
    assert list(parse_warc(rec(b"HTTP/1.1 301 Moved\r\nLocation: /x", b"stub"))) == []
    # chunked de-framed
    chunked = b"5\r\nhello\r\n6\r\n world\r\n0\r\n\r\n"
    got = list(parse_warc(rec(
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked", chunked)))
    assert got[0][2] == b"hello world"
    # gzip body decompressed
    buf = _io.BytesIO()
    with _gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
        gz.write(b"<html>gz body</html>")
    got = list(parse_warc(rec(
        b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip", buf.getvalue())))
    assert got[0][2] == b"<html>gz body</html>"
    # +05:00 is 07:00 UTC — naive-stripped it would read 12:00
    assert got[0][1].hour == 7
    # a body with NO HTTP envelope passes through whole even if it
    # contains a blank line
    raw = b"plain\r\n\r\ncontent"
    r = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://x.example/raw\r\n"
        + f"Content-Length: {len(raw)}\r\n\r\n".encode()
        + raw + b"\r\n\r\n"
    )
    assert list(parse_warc(r))[0][2] == raw


def test_snapshot_ids_survive_deleted_snapshots(tmp_path):
    """next id = max(existing)+1, never the file COUNT — deleting an old
    snapshot must not make a new id collide with rows already on disk."""
    from zerox_spark.sinks import ParquetSnapshotSink

    sink = ParquetSnapshotSink(str(tmp_path))
    for _ in range(3):
        sink.commit_snapshot("job", sink.next_snapshot_id(), {})
    assert sink.next_snapshot_id() == 3
    (tmp_path / "_snapshots" / "snap-000001.json").unlink()
    assert sink.next_snapshot_id() == 3  # count would say 2 → collision
