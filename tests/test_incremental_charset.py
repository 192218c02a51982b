"""Tests: incremental (delta) processing and charset resolution."""

from __future__ import annotations

import datetime

from pyspark.sql import Row, functions as F

from zerox_spark.extract.core import extract_document
from zerox_spark.pipeline import ExtractionPipeline, PipelineConfig
from zerox_spark.schema import PAGES_SCHEMA
from zerox_spark.sinks import ParquetSnapshotSink


def _page(url, ts_sec, body):
    return Row(
        url=url,
        warc_ts=datetime.datetime(2024, 1, 1, 0, 0, ts_sec),
        html=f"<html><body><article><p>{body} content long enough here</p></article></body></html>".encode(),
        text=None,
        lang="en",
    )


def test_incremental_processes_only_new_rows(spark, tmp_path):
    sink = ParquetSnapshotSink(str(tmp_path / "s"))
    pipe = ExtractionPipeline(
        PipelineConfig(num_partitions=2, num_buckets=4)
    )
    old = spark.createDataFrame([_page("https://i/1", 10, "old one"),
                                 _page("https://i/2", 20, "old two")], PAGES_SCHEMA)
    pipe.run(spark, old, sink, job_id="day1", incremental=True)
    assert sink.lineage_state("day1")[1] is not None

    both = old.unionByName(
        spark.createDataFrame([_page("https://i/3", 30, "new three")], PAGES_SCHEMA)
    )
    stats = pipe.run(spark, both, sink, job_id="day2", incremental=True)
    # the table now holds all three urls, and day2 advanced the cursor
    urls = {r.url for r in sink.read_extracted(spark).select("url").collect()}
    assert urls == {"https://i/1", "https://i/2", "https://i/3"}
    assert "00:00:30" in str(sink.lineage_state("day2")[1])
    # day3 with no new rows processes nothing and keeps the cursor
    stats3 = pipe.run(spark, both, sink, job_id="day3", incremental=True)
    assert "00:00:30" in str(sink.lineage_state("day3")[1])
    assert stats3["total_docs"] == 3  # table state unchanged


def test_charset_meta_declaration_latin1():
    body = "caf\xe9 r\xe9sum\xe9"
    payload = (
        '<html><head><meta charset="iso-8859-1"></head><body><article>'
        f"<p>{body} plus enough ascii text to be content</p>"
        "</article></body></html>"
    ).encode("latin-1")
    out = extract_document(payload, None)
    assert "café résumé" in out[0].markdown


def test_charset_undeclared_falls_back():
    payload = ("<article><p>ol\xe9 and plenty of plain words follow here"
               " to make content</p></article>").encode("latin-1")
    out = extract_document(payload, None)  # invalid utf-8, no declaration
    assert "olé" in out[0].markdown


def test_charset_utf8_bom():
    payload = b"\xef\xbb\xbf<article><p>bom page with enough text content</p></article>"
    out = extract_document(payload, None)
    assert out[0].markdown == "bom page with enough text content"


def test_charset_lying_declaration_recovers():
    # declares latin-1 but is valid utf-8 with multibyte chars: latin-1
    # decode SUCCEEDS (total codec) → mojibake is unavoidable without
    # heuristics; declare utf-8 content as ascii instead: decode fails,
    # falls through to utf-8
    payload = ('<html><head><meta charset="us-ascii"></head><body><article>'
               "<p>naïve declaration with enough text content</p>"
               "</article></body></html>").encode("utf-8")
    out = extract_document(payload, None)
    assert "naïve" in out[0].markdown


def test_incremental_recrawl_latest_wins(spark, tmp_path):
    sink = ParquetSnapshotSink(str(tmp_path / "s2"))
    pipe = ExtractionPipeline(
        PipelineConfig(num_partitions=2, num_buckets=4)
    )
    v1 = spark.createDataFrame([_page("https://r/1", 10, "version one")], PAGES_SCHEMA)
    pipe.run(spark, v1, sink, job_id="d1", incremental=True)
    recrawl = v1.unionByName(
        spark.createDataFrame([_page("https://r/1", 40, "version two")], PAGES_SCHEMA)
    )
    pipe.run(spark, recrawl, sink, job_id="d2", incremental=True)
    # both versions exist physically: d1 appended v1 and d2 appended v2
    # (the >= watermark boundary lets v1 into d2's input too, and the
    # in-run newest-crawl dedupe keeps only v2 of it); the latest view
    # resolves to exactly v2
    assert sink.read_extracted(spark).filter("url='https://r/1'").count() >= 2
    latest = sink.read_extracted_latest(spark).filter("url='https://r/1'").collect()
    assert len(latest) == 1 and "version two" in latest[0].markdown


def test_incremental_boundary_split_second_not_lost(spark, tmp_path):
    """Rows delivered LATE with warc_ts EQUAL to the committed watermark
    (split crawl deliveries at second granularity) must still be
    processed — the strict > filter would drop them forever."""
    sink = ParquetSnapshotSink(str(tmp_path / "s3"))
    pipe = ExtractionPipeline(
        PipelineConfig(num_partitions=2, num_buckets=4)
    )
    first = spark.createDataFrame([_page("https://b/1", 10, "early half")], PAGES_SCHEMA)
    pipe.run(spark, first, sink, job_id="d1", incremental=True)
    late = first.unionByName(
        spark.createDataFrame(
            [_page("https://b/2", 10, "late half same second")], PAGES_SCHEMA
        )
    )
    pipe.run(spark, late, sink, job_id="d2", incremental=True)
    urls = {
        r.url for r in sink.read_extracted_latest(spark).select("url").collect()
    }
    assert urls == {"https://b/1", "https://b/2"}


def test_streaming_job_cli_drains_and_checkpoint_resumes(spark, tmp_path):
    """job.py --streaming: file-source stream drained with availableNow;
    the checkpoint makes a rerun over the same dir a no-op (no duplicate
    rows) and a rerun after new files arrive processes only the delta."""
    pages_dir = str(tmp_path / "pages")
    spark.createDataFrame(
        [_page("https://s/1", 10, "stream one"), _page("https://s/2", 20, "stream two")],
        PAGES_SCHEMA,
    ).write.parquet(pages_dir)

    import os

    from zerox_spark.extract.core import ExtractConfig
    from zerox_spark.streaming import read_pages_stream, stream_extract

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = stream_extract(
            read_pages_stream(spark, pages_dir),
            out,
            ckpt,
            config=ExtractConfig(),
            available_now=True,
        )
        q.awaitTermination()

    drain()
    first = spark.read.parquet(out).count()
    assert first == 2
    drain()  # nothing new → no duplicates
    assert spark.read.parquet(out).count() == 2
    # new file lands → only the delta is processed
    spark.createDataFrame(
        [_page("https://s/3", 30, "stream three")], PAGES_SCHEMA
    ).write.mode("append").parquet(pages_dir)
    drain()
    rows = spark.read.parquet(out)
    assert rows.count() == 3
    assert {r.url for r in rows.select("url").collect()} == {
        "https://s/1", "https://s/2", "https://s/3"
    }
    assert os.path.isdir(ckpt)


def test_streaming_job_cli_empty_backlog_prints_zero_totals(tmp_path):
    """job.py --streaming over an input dir with no files must print zero
    totals, not crash with PATH_NOT_FOUND."""
    import json
    import subprocess
    import sys

    empty_in = tmp_path / "nofiles"
    empty_in.mkdir()
    out = subprocess.run(
        [
            sys.executable, "zerox_spark/job.py", "--streaming",
            "--input", str(empty_in), "--output", str(tmp_path / "out"),
            "--master", "local[2]",
        ],
        capture_output=True, text=True, timeout=240,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    stats = json.loads(out.stdout.strip().splitlines()[-1])
    assert stats == {
        "mode": "streaming", "total_docs": 0, "total_pages": 0, "failed": 0
    }


def test_streaming_job_main_reads_back_totals(spark, tmp_path, capsys):
    """job.main --streaming in process over a non-empty backlog: the
    printed totals are read back from the stream sink, and a rerun after a
    new file lands adds only that file's rows (the checkpoint); its empty
    payload is one ERROR page."""
    import json

    from zerox_spark import job

    pages_dir = str(tmp_path / "pages")
    spark.createDataFrame(
        [_page("https://m/1", 10, "main one"), _page("https://m/2", 20, "main two")],
        PAGES_SCHEMA,
    ).write.parquet(pages_dir)
    # the fixture's master: job.main picks up the running session as it is
    argv = [
        "--streaming", "--input", pages_dir, "--output", str(tmp_path / "out"),
        "--master", "local[4]",
    ]

    def totals():
        assert job.main(argv) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    assert totals() == {
        "mode": "streaming", "total_docs": 2, "total_pages": 2, "failed": 0
    }
    empty = _page("https://m/3", 30, "").asDict() | {"html": b""}
    spark.createDataFrame([Row(**empty)], PAGES_SCHEMA).write.mode(
        "append"
    ).parquet(pages_dir)
    assert totals() == {
        "mode": "streaming", "total_docs": 3, "total_pages": 3, "failed": 1
    }
