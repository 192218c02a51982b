"""Tests: payload capping (I4 analog), filename-rule divergence (P4 vs P5),
retry wrapper (O6), markdown file sink (K1), extractor registry (M1)."""

from __future__ import annotations

import gzip

import pytest

from tests.conftest import SF_SMOKE

from zerox_spark import synth
from zerox_spark.extract.core import (
    EXTRACTOR_NAMES,
    ExtractConfig,
    extract_document,
    get_extractor,
)
from zerox_spark.extract.fences import sanitize_filename
from zerox_spark.sinks import export_markdown_files, run_retries


def test_payload_cap_truncates_at_tag_boundary():
    big = (
        b"<html><body><article>"
        + b"<p>chunk of text</p>" * 100
        + b"</article></body></html>"
    )
    out = extract_document(big, None, ExtractConfig(max_payload_bytes=500))
    assert out[0].status == "SUCCESS"
    # truncated but parsed: fewer paragraphs than the full doc would give
    assert 0 < out[0].markdown.count("chunk of text") < 100


def test_payload_cap_disabled_with_zero():
    big = b"<article><p>" + b"x" * 1000 + b"</p></article>"
    out = extract_document(big, None, ExtractConfig(max_payload_bytes=0))
    assert out[0].content_length >= 1000


def test_filename_rules_diverge_as_documented():
    # SURVEY.md §7(d): PY underscores every non-alnum (Node's rule, which
    # underscores only whitespace, is a documented divergence)
    assert sanitize_filename("My Doc (v2).pdf") == "my_doc__v2_"


def test_run_retries_retries_then_raises():
    calls = []

    def flaky_ok():
        calls.append(1)
        if len(calls) < 2:
            raise OSError("transient")
        return "ok"

    assert run_retries(flaky_ok, max_retries=1) == "ok"
    with pytest.raises(OSError):
        run_retries(lambda: (_ for _ in ()).throw(OSError("always")), max_retries=2)


def test_extractor_registry():
    layout = get_extractor("layout")
    pages = layout(b"%PDF-SYNTH 1.0\n%%page no=1 w=10.0 h=10.0\n"
                   b"%%line y=5.0 x=1.0 size=10.0 text=hello world\n", None)
    assert pages[0][1] == "hello world"
    with pytest.raises(ValueError):
        get_extractor("gpt-4o")  # no network models in this engine


_WORDS = " ".join(f"word{i}" for i in range(80))


def _rows(row_fn, ids):
    return [row_fn(i, _WORDS, "en", "cc")[0] for i in ids]


def _own_format(name: str) -> list[bytes]:
    """Synth payloads of the format each named route exists for."""
    tax = range(64)
    if name == "readability":
        html = _rows(synth._row_taxonomy, [
            i for i in tax
            if not (synth.is_fast(i) or synth.is_sheet_doc(i)
                    or synth.is_pdf_doc(i))
        ][:12])
        return html + [
            b'<meta charset="latin-1"><p>caf\xe9 au lait</p>',
            gzip.compress(html[0]),
        ]
    if name == "layout":
        pdfs = [i for i in tax if synth.is_pdf_doc(i)][:6]
        return _rows(synth._row_taxonomy, pdfs) + _rows(
            synth._row_pdf_real, range(6)
        )
    if name == "sheets":
        return _rows(
            synth._row_taxonomy, [i for i in tax if synth.is_sheet_doc(i)]
        )
    row_fn = {
        "ooxml": synth._row_ooxml,
        "legacy_office": synth._row_legacy,
        "delimited": synth._row_delimited,
        "rtf": synth._row_rtf,
    }[name]
    return _rows(row_fn, range(8))


_INVALID = {
    "auto": b"",
    "readability": b"\x89PNG\r\n\x1a\n" + b"\x00" * 64,
    "layout": b"%PDF-SYNTH\n",
    "sheets": b"%SHEET\n",
    "ooxml": b"PK\x03\x04 not a zip",
    "legacy_office": b"\xd0\xcf\x11\xe0" + b"\x00" * 60,
    "delimited": b"just some prose\nwith two lines\n",
    "rtf": b"plain",
}


@pytest.mark.parametrize("name", EXTRACTOR_NAMES)
def test_route_table(name):
    route = get_extractor(name)
    named = ExtractConfig(extractor=route)
    # a named route extracts its own format exactly as auto-routing does
    if route is not None:
        for payload in _own_format(name):
            auto = extract_document(payload, None)
            assert {p.status for p in auto} == {"SUCCESS"}
            assert extract_document(payload, None, named) == auto
    # an empty or invalid payload is one contained ERROR row, never zero
    out = extract_document(_INVALID[name], None, named)
    assert [p.status for p in out] == ["ERROR"]
    # prose that merely starts with the bzip2 letters is not a container:
    # the cap applies, so the output equals that of the truncated payload
    line = b"BZh is prose, not a bzip2 stream.\n"
    capped = ExtractConfig(extractor=route, max_payload_bytes=500)
    assert extract_document(line * 40, None, capped) == extract_document(
        line * (500 // len(line)), None, named
    )


def test_extractor_choices_track_registry():
    from zerox_spark.job import parse_args

    base = ["--output", "/tmp/x"]
    args = parse_args(base + ["--extractor", "delimited"])
    assert args.extractor == "delimited"
    with pytest.raises(SystemExit):
        parse_args(base + ["--extractor", "nope"])
    # every registry strategy is accepted
    for name in EXTRACTOR_NAMES:
        assert parse_args(base + ["--extractor", name]).extractor == name


def test_iceberg_incremental_rejected_before_spark(monkeypatch):
    """IcebergSink writes _snap = 0 on every commit, so an incremental run
    would claim every bucket of the table as its own: the flag pair must
    fail at argument validation, not after the SparkSession has started."""
    import zerox_spark.session
    from zerox_spark.job import main

    def no_spark(*a, **k):
        raise AssertionError("SparkSession started")

    monkeypatch.setattr(zerox_spark.session, "get_spark", no_spark)
    with pytest.raises(SystemExit) as exc:
        main(["--iceberg", "--incremental", "--input", "db.pages",
              "--output", "db.extracted"])
    assert "--iceberg" in str(exc.value)
    assert "--incremental" in str(exc.value)


def test_export_markdown_files(spark, tmp_path):
    from zerox_spark.extract.core import ExtractConfig as EC
    from zerox_spark.operators.extract import extract_pages
    from zerox_spark.synth import synth_pages

    out = tmp_path / "md"
    ex = extract_pages(synth_pages(spark, SF_SMOKE).limit(10), EC(), 4)
    n = export_markdown_files(ex, str(out))
    assert n == 10
    sample = sorted(out.iterdir())[0]
    assert sample.suffix == ".md" and sample.read_text()


def test_lineage_mixed_schema_old_sink_dir(spark, tmp_path):
    """A sink dir written by an older engine version (lineage rows without
    max_warc_ts) must still support the watermark aggregation after new
    rows are appended — mergeSchema yields nulls for the old files."""
    from pyspark.sql import Row, functions as F

    from zerox_spark.sinks import ParquetSnapshotSink

    sink = ParquetSnapshotSink(str(tmp_path / "s"))
    old = spark.createDataFrame(
        [
            Row(
                job_id="old", partition_id=1, input_split="x", doc_count=1,
                page_count=1, checksum="0", elapsed_ms=1, status="SUCCESS",
            )
        ]
    )
    old.write.mode("append").parquet(sink.lineage_path)
    import datetime

    new = spark.createDataFrame(
        [
            Row(
                job_id="new", partition_id=2, input_split="y", doc_count=1,
                page_count=1, checksum="0", elapsed_ms=1, status="SUCCESS",
                max_warc_ts=datetime.datetime(2024, 1, 2),
            )
        ]
    )
    new.write.mode("append").parquet(sink.lineage_path)
    wm = (
        sink.read_lineage(spark)
        .agg(F.max("max_warc_ts").alias("wm"))
        .collect()[0]
        .wm
    )
    assert wm == datetime.datetime(2024, 1, 2)


def test_fresh_sink_lineage_launches_no_tasks(spark, tmp_path):
    """A first run has no lineage yet. The fallback frame is read twice
    (the resume and the lineage anti-joins), so it must be backed by an
    RDD of 0 partitions: a local-data frame would launch a Python task per
    default-parallelism slot on every read."""
    from zerox_spark.schema import LINEAGE_SCHEMA
    from zerox_spark.sinks import ParquetSnapshotSink

    lin = ParquetSnapshotSink(str(tmp_path / "fresh")).read_lineage(spark)
    assert lin.schema == LINEAGE_SCHEMA
    assert lin.rdd.getNumPartitions() == 0
    assert lin.collect() == []


def test_commit_after_write_job_count(spark, tmp_path):
    """Spark jobs a fresh-sink run launches after write_extracted returns:
    the one collect of the per-bucket aggregate; the lineage append, the
    summary and the watermark fold on the driver. On this input the
    formulation that persisted the whole latest table and aggregated it
    twice launched 10, one checkpointed aggregate with a Spark lineage
    append, summary collect and lineage re-read 9, one collect 4."""
    from zerox_spark.pipeline import ExtractionPipeline, PipelineConfig
    from zerox_spark.sinks import ParquetSnapshotSink
    from zerox_spark.synth import synth_pages

    sc = spark.sparkContext
    group = f"after-write-{tmp_path.name}"
    sink = ParquetSnapshotSink(str(tmp_path / "fresh"))
    write = sink.write_extracted

    def write_then_tag(*args, **kwargs):
        write(*args, **kwargs)
        sc.setJobGroup(group, "jobs after write_extracted")

    sink.write_extracted = write_then_tag
    pipe = ExtractionPipeline(PipelineConfig(num_partitions=4, num_buckets=8))
    try:
        pipe.run(spark, synth_pages(spark, SF_SMOKE), sink, job_id="jobs")
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 4


def test_lineage_mixed_writers_agree(spark, tmp_path):
    """One lineage directory holds an old Spark file without max_warc_ts,
    a Spark file (INT96 timestamps) and a driver-written file. The
    driver's lineage_state, read_lineage(spark) and DuckDB agree on the
    committed buckets and on the max, and the driver file has the Spark
    file's physical column types."""
    import datetime
    import glob

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import Row, functions as F, types as T

    from zerox_spark.schema import LINEAGE_SCHEMA
    from zerox_spark.sinks import ParquetSnapshotSink

    sink = ParquetSnapshotSink(str(tmp_path / "mixed"))
    common = dict(input_split="x", doc_count=1, page_count=1, checksum="0",
                  elapsed_ms=1)
    old_schema = T.StructType(LINEAGE_SCHEMA.fields[:-1])
    assert "max_warc_ts" not in old_schema.names
    spark.createDataFrame(
        [Row(job_id="j", partition_id=1, **common, status="SUCCESS")],
        old_schema,
    ).write.mode("append").parquet(sink.lineage_path)
    spark_files = set(glob.glob(f"{sink.lineage_path}/*.parquet"))
    late = datetime.datetime(2024, 1, 3, 13, 37, 29, 250000)
    spark.createDataFrame(
        [
            Row(job_id="j", partition_id=2, **common, status="SUCCESS",
                max_warc_ts=datetime.datetime(2024, 1, 2)),
            Row(job_id="j", partition_id=3, **common, status="PARTIAL",
                max_warc_ts=late),
            Row(job_id="k", partition_id=5, **common, status="SUCCESS",
                max_warc_ts=datetime.datetime(2024, 1, 1)),
        ],
        LINEAGE_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(sink.lineage_path)
    (int96_file,) = set(glob.glob(f"{sink.lineage_path}/*.parquet")) - spark_files
    sink.write_lineage(pa.Table.from_pylist([
        dict(job_id="j", partition_id=4, **common, status="SUCCESS",
             max_warc_ts=datetime.datetime(2024, 1, 2, 6)),
    ]))
    (driver_file,) = glob.glob(f"{sink.lineage_path}/*-driver.zstd.parquet")

    def physical(path):
        schema = pq.ParquetFile(path).schema
        return {c.name: c.physical_type for c in schema}

    assert physical(driver_file) == physical(int96_file)
    assert physical(driver_file)["max_warc_ts"] == "INT96"

    done, wm = sink.lineage_state("j")
    assert done == {1, 2, 4} and wm == late

    lin = sink.read_lineage(spark)
    spark_done = {
        r.partition_id
        for r in lin.filter((F.col("job_id") == "j")
                            & (F.col("status") == "SUCCESS")).collect()
    }
    spark_wm = lin.agg(F.max("max_warc_ts")).collect()[0][0]
    assert (spark_done, spark_wm) == (done, wm)

    rel = f"read_parquet('{sink.lineage_path}/*.parquet', union_by_name = true)"
    duck_done = {
        r[0] for r in duckdb.sql(
            f"SELECT partition_id FROM {rel} "
            "WHERE job_id = 'j' AND status = 'SUCCESS'"
        ).fetchall()
    }
    (duck_wm,) = duckdb.sql(f"SELECT max(max_warc_ts) FROM {rel}").fetchone()
    assert (duck_done, duck_wm) == (done, wm)


def test_lineage_state_of_a_fresh_sink(tmp_path):
    from zerox_spark.sinks import ParquetSnapshotSink

    sink = ParquetSnapshotSink(str(tmp_path / "fresh"))
    assert sink.lineage_state("any") == (frozenset(), None)


def test_torn_snapshot_commit_leaves_no_manifest(spark, tmp_path, monkeypatch):
    """A commit that dies in the middle of writing its manifest leaves no
    snap-*.json behind, and neither the torn write nor a stray file in
    _snapshots/ stops the next incremental run."""
    import datetime
    import json
    import types

    from pyspark.sql import Row

    from zerox_spark import sinks
    from zerox_spark.pipeline import ExtractionPipeline, PipelineConfig
    from zerox_spark.schema import PAGES_SCHEMA
    from zerox_spark.sinks import ParquetSnapshotSink

    def pages(days):
        return spark.createDataFrame(
            [
                Row(url=f"https://torn/{d}/{i}",
                    warc_ts=datetime.datetime(2024, 1, d, 12, 0, i),
                    html=f"<article><p>day {d} page {i} with enough words "
                         "to count as content</p></article>".encode(),
                    text=None, lang="en")
                for d in days for i in range(4)
            ],
            PAGES_SCHEMA,
        )

    sink = ParquetSnapshotSink(str(tmp_path / "s"))
    pipe = ExtractionPipeline(PipelineConfig(num_partitions=2, num_buckets=4))
    pipe.run(spark, pages([1]), sink, job_id="d1", incremental=True)

    def torn_dump(obj, fh, **kw):
        fh.write(json.dumps(obj, **kw)[:12])
        raise OSError("disk full")

    monkeypatch.setattr(
        sinks, "json", types.SimpleNamespace(dump=torn_dump, load=json.load)
    )
    with pytest.raises(OSError, match="disk full"):
        pipe.run(spark, pages([1, 2]), sink, job_id="d2", incremental=True)
    monkeypatch.undo()
    snap_dir = tmp_path / "s" / "_snapshots"
    assert sorted(p.name for p in snap_dir.glob("snap-*.json")) == [
        "snap-000000.json"
    ]

    (snap_dir / "snap-000000.json~").write_text("{torn")
    stats = pipe.run(spark, pages([1, 2]), sink, job_id="d2",
                     incremental=True)
    assert stats["total_docs"] == 8
    assert str(sink.lineage_state("d2")[1]) == "2024-01-02 12:00:03"
