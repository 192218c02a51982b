"""Tests: partial-failure resume (FIXTURES.md §5 e04/e08 scale machinery)
and salted-skew partition distribution."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import Row, functions as F

from tests.conftest import SF_SMOKE

from zerox_spark.pipeline import ExtractionPipeline, PipelineConfig
from zerox_spark.schema import PAGES_SCHEMA
from zerox_spark.sinks import ParquetSnapshotSink
from zerox_spark.synth import synth_pages


def test_partial_failure_resume(spark, tmp_path):
    """Simulate a job that died after committing some buckets: the restart
    must reprocess ONLY the missing buckets and converge to the full table."""
    out = str(tmp_path / "sink")
    pages = synth_pages(spark, SF_SMOKE)
    pipe = ExtractionPipeline(PipelineConfig(num_partitions=8, num_buckets=16))
    sink = ParquetSnapshotSink(out)

    # attempt 1: only a subset of buckets (simulated crash mid-job)
    from zerox_spark.operators.repartition import partition_bucket

    subset = pages.filter(partition_bucket(16) < 6)
    stats1 = pipe.run(spark, subset, sink, job_id="crashy")
    lineage1 = sink.read_lineage(spark)
    committed1 = {r.partition_id for r in lineage1.collect()}
    assert committed1 and committed1 <= set(range(6))

    # attempt 2: same job_id over the FULL input → only uncommitted buckets
    # should be re-extracted
    from zerox_spark.operators.resume import filter_uncommitted

    todo = filter_uncommitted(pages, sink.lineage_state("crashy")[0], 16)
    todo_buckets = {
        r.b for r in todo.select(partition_bucket(16).alias("b")).distinct().collect()
    }
    assert todo_buckets.isdisjoint(committed1)

    stats2 = pipe.run(spark, pages, sink, job_id="crashy")
    # final table complete: every url of the input is present exactly once
    got = spark.read.parquet(f"{out}/extracted")
    assert got.select("url").distinct().count() == pages.count()
    assert stats2["total_docs"] == pages.count()
    # dynamic partition overwrite kept attempt-1 buckets intact (no dupes)
    dupes = (
        got.groupBy("url", "page_no").count().filter(F.col("count") > 1).count()
    )
    assert dupes == 0


def test_salted_repartition_spreads_heavy_rows(spark):
    """Heavy rows of one url-neighborhood must not pile onto one partition:
    with the salt, rows above the threshold from the same url spread across
    partitions; light rows of one url stay co-located."""
    from zerox_spark.operators.repartition import salted_repartition

    heavy = [
        Row(url="https://hot/site", warc_ts=__import__("datetime").datetime(2024, 1, 1, 0, 0, i),
            html=b"x" * 2000, text=None, lang="en")
        for i in range(32)
    ]
    df = spark.createDataFrame(heavy, PAGES_SCHEMA)
    rep = salted_repartition(df, 8, skew_threshold=1000, salt_buckets=8)
    parts = {
        r.p
        for r in rep.select(F.spark_partition_id().alias("p")).collect()
    }
    assert len(parts) > 1, "salt failed to spread heavy same-url rows"

    light = spark.createDataFrame(
        [Row(url="https://cold/site", warc_ts=None, html=b"tiny", text=None, lang="en")
         for _ in range(16)],
        PAGES_SCHEMA,
    )
    rep2 = salted_repartition(light, 8, skew_threshold=1000)
    parts2 = {
        r.p for r in rep2.select(F.spark_partition_id().alias("p")).collect()
    }
    assert len(parts2) == 1, "light same-url rows must stay co-located"


def _pages(spark, urls, body="page"):
    return spark.createDataFrame(
        [
            Row(
                url=u,
                warc_ts=datetime.datetime(2024, 1, 1, 0, 0, i % 60),
                # one null payload: an ERROR row in every sequence
                html=None if u.endswith("/7") else (
                    f"<html><body><article><p>{body} {u} with enough "
                    "words to count as content</p></article></body></html>"
                ).encode(),
                text=None,
                lang="en",
            )
            for i, u in enumerate(urls)
        ],
        PAGES_SCHEMA,
    )


def _reference_stats(spark, sink) -> dict:
    """The summary as one pass over the latest table: the formula the
    per-bucket fold must reproduce."""
    return (
        sink.read_extracted_latest(spark)
        .agg(
            F.count_distinct("url").alias("total_docs"),
            F.count(F.lit(1)).alias("total_pages"),
            F.sum(F.when(F.col("status") == "SUCCESS", 1).otherwise(0)).alias(
                "successful"
            ),
            F.sum(F.when(F.col("status") == "ERROR", 1).otherwise(0)).alias(
                "failed"
            ),
            F.sum("content_length").alias("total_content_length"),
        )
        .collect()[0]
        .asDict()
    )


def _lineage_buckets(spark, sink, job_id) -> list[int]:
    return sorted(
        r.partition_id
        for r in sink.read_lineage(spark).filter(F.col("job_id") == job_id)
        .collect()
    )


def _stats(spark, pipe, pages, sink, **kw) -> dict:
    stats = pipe.run(spark, pages, sink, **kw)
    stats.pop("job_id")
    assert stats == _reference_stats(spark, sink)
    return stats


def test_lineage_holds_only_the_buckets_a_job_wrote(spark, tmp_path):
    """Job B writes one bucket of a sink job A filled: B's lineage holds
    that bucket alone (it used to claim all four), while B's summary still
    covers the whole table, where B's overwrite replaced A's bucket."""
    from zerox_spark.operators.repartition import partition_bucket

    sink = ParquetSnapshotSink(str(tmp_path / "ab"))
    pipe = ExtractionPipeline(PipelineConfig(num_partitions=2, num_buckets=4))
    a_urls = [f"https://ab/{i}" for i in range(40)]
    a = _pages(spark, a_urls)
    bucket_of = {
        r.url: r.b
        for r in a.select("url", partition_bucket(4).alias("b")).collect()
    }
    assert set(bucket_of.values()) == {0, 1, 2, 3}
    stats_a = _stats(spark, pipe, a, sink, job_id="A")
    assert stats_a["total_docs"] == 40 and stats_a["failed"] == 1
    assert _lineage_buckets(spark, sink, "A") == [0, 1, 2, 3]

    b_url = "https://ab/1"
    stats_b = _stats(
        spark, pipe, _pages(spark, [b_url], body="rewritten"), sink,
        job_id="B",
    )
    assert _lineage_buckets(spark, sink, "B") == [bucket_of[b_url]]
    replaced = sum(1 for b in bucket_of.values() if b == bucket_of[b_url])
    assert stats_b["total_docs"] == 40 - replaced + 1


def test_summary_fold_equals_one_pass_over_the_table(spark, tmp_path):
    """The summary folded from per-bucket rows equals the one-pass
    aggregate over the latest table after every run of a crashed-then-
    resumed job and of an incremental sequence, and a resumed job's
    lineage holds only the buckets the retry wrote."""
    from zerox_spark.operators.repartition import partition_bucket

    pipe = ExtractionPipeline(PipelineConfig(num_partitions=2, num_buckets=4))
    urls = [f"https://rs/{i}" for i in range(24)]
    pages = _pages(spark, urls)

    sink = ParquetSnapshotSink(str(tmp_path / "resume"))
    _stats(spark, pipe, pages.filter(partition_bucket(4) < 2), sink,
           job_id="r")
    assert _lineage_buckets(spark, sink, "r") == [0, 1]
    stats = _stats(spark, pipe, pages, sink, job_id="r")
    assert stats["total_docs"] == 24
    assert _lineage_buckets(spark, sink, "r") == [0, 1, 2, 3]

    sink = ParquetSnapshotSink(str(tmp_path / "incremental"))
    for day, n in (("d1", 8), ("d2", 16), ("d3", 16)):
        stats = _stats(spark, pipe, _pages(spark, urls[:n]), sink,
                       job_id=day, incremental=True)
        assert stats["total_docs"] == n


def test_empty_input_summary(spark, tmp_path):
    sink = ParquetSnapshotSink(str(tmp_path / "empty"))
    pipe = ExtractionPipeline(PipelineConfig(num_partitions=2, num_buckets=4))
    stats = pipe.run(spark, _pages(spark, []), sink, job_id="e")
    assert stats == {
        "job_id": "e", "total_docs": 0, "total_pages": 0,
        "successful": None, "failed": None, "total_content_length": None,
    }
    assert sink.read_lineage(spark).count() == 0


def test_sink_refuses_a_second_bucket_count(spark, tmp_path):
    """A sink keeps the bucket count of its first run, even one that
    crashed during extraction; a run with another count raises before it
    extracts and leaves extracted/ as it was."""
    def listing(root):
        return sorted(
            (d, f, os.path.getmtime(os.path.join(d, f)))
            for d, _, files in os.walk(root) for f in files
        )

    pages = _pages(spark, [f"https://nb/{i}" for i in range(8)])
    crashed = ParquetSnapshotSink(str(tmp_path / "crashed"))

    def crash(*args, **kwargs):
        raise RuntimeError("executor lost")

    crashed.write_extracted = crash
    with pytest.raises(RuntimeError):
        ExtractionPipeline(
            PipelineConfig(num_partitions=2, num_buckets=16)
        ).run(spark, pages, crashed, job_id="x")
    with pytest.raises(ValueError, match="16 buckets"):
        ExtractionPipeline(
            PipelineConfig(num_partitions=2, num_buckets=32)
        ).run(spark, pages, ParquetSnapshotSink(crashed.root), job_id="x")

    sink = ParquetSnapshotSink(str(tmp_path / "done"))
    ExtractionPipeline(PipelineConfig(num_partitions=2, num_buckets=4)).run(
        spark, pages, sink, job_id="y"
    )
    before = listing(sink.extracted_path)
    with pytest.raises(ValueError, match="4 buckets"):
        ExtractionPipeline(
            PipelineConfig(num_partitions=2, num_buckets=8)
        ).run(spark, pages, sink, job_id="y")
    assert listing(sink.extracted_path) == before


def _manifests(sink) -> list[dict]:
    import json

    out = []
    for name in sorted(os.listdir(sink.snap_dir)):
        with open(os.path.join(sink.snap_dir, name), encoding="utf-8") as fh:
            out.append(json.load(fh))
    return out


def _lineage_watermark(spark, sink) -> str:
    """The watermark as a max over the re-read lineage table."""
    return str(sink.read_lineage(spark).agg(F.max("max_warc_ts")).collect()[0][0])


def test_watermark_fold_equals_lineage_max(spark, tmp_path, monkeypatch):
    """The incremental cursor ``lineage_state`` reads equals the max over
    the re-read lineage table, no manifest carries a watermark, and the
    last manifest is written under the newest snapshot id on the rows,
    after every run: of a three-day incremental sequence (with a re-crawl
    and a sub-second timestamp), and of a job that crashed after its
    lineage append, before its commit, and was resumed."""
    from zerox_spark.operators.repartition import partition_bucket

    pipe = ExtractionPipeline(PipelineConfig(num_partitions=2, num_buckets=4))

    def day(d, urls, second=0, micro=0):
        return _pages(spark, urls, body=f"day {d}").withColumn(
            "warc_ts",
            F.lit(datetime.datetime(2024, 1, d, 13, 37, second, micro)),
        )

    def check(sink):
        assert str(sink.lineage_state("")[1]) == _lineage_watermark(
            spark, sink
        )
        manifests = _manifests(sink)
        assert not any("watermark" in m for m in manifests)
        assert manifests[-1]["snapshot"] == (
            sink.read_extracted(spark).agg(F.max("_snap")).collect()[0][0]
        )

    sink = ParquetSnapshotSink(str(tmp_path / "days"))
    crawl = day(1, [f"https://wm/{i}" for i in range(8)])
    for d, new, micro in ((1, [], 0), (2, [3, 8, 9, 10], 0),
                          (3, [11, 12], 250000)):
        crawl = crawl.unionByName(
            day(d, [f"https://wm/{i}" for i in new], 29, micro)
        )
        pipe.run(spark, crawl, sink, job_id=f"day{d}", incremental=True)
        check(sink)
    assert str(sink.lineage_state("day3")[1]) == "2024-01-03 13:37:29.250000"

    sink = ParquetSnapshotSink(str(tmp_path / "resume"))
    pages = day(1, [f"https://rs/{i}" for i in range(24)], 5)
    pipe.run(spark, pages.filter(partition_bucket(4) < 2), sink, job_id="r")
    check(sink)

    def crash(job_id, snap_id, meta):
        raise RuntimeError("killed before the commit")

    monkeypatch.setattr(sink, "commit_snapshot", crash)
    with pytest.raises(RuntimeError):
        pipe.run(spark, pages, sink, job_id="r")
    monkeypatch.undo()
    assert _lineage_buckets(spark, sink, "r") == [0, 1, 2, 3]
    stats = _stats(spark, pipe, pages, sink, job_id="r")
    assert stats["total_docs"] == 24
    # the retry re-ran only the PARTIAL bucket (the null payload's)
    (partial,) = {
        r.b for r in pages.filter(F.col("html").isNull())
        .select(partition_bucket(4).alias("b")).collect()
    }
    assert _lineage_buckets(spark, sink, "r") == sorted([0, 1, 2, 3, partial])
    check(sink)


def test_incremental_retry_resumes_at_lineage_cursor(
    spark, tmp_path, monkeypatch
):
    """An incremental run that crashed after its lineage append, before
    its manifest, already wrote its rows: the retry resumes at the lineage
    cursor and re-extracts only the rows at that cursor, not the whole
    crashed delta."""
    pipe = ExtractionPipeline(PipelineConfig(num_partitions=2, num_buckets=4))

    def crawl(urls, second):
        return _pages(spark, urls).withColumn(
            "warc_ts", F.lit(datetime.datetime(2024, 1, 1, 0, 0, second))
        )

    sink = ParquetSnapshotSink(str(tmp_path / "retry"))
    day1 = crawl([f"https://rc/{i}" for i in range(4)], 10)
    pipe.run(spark, day1, sink, job_id="d1", incremental=True)
    day2 = day1.unionByName(
        crawl([f"https://rc/{i}" for i in range(4, 8)], 20)
    ).unionByName(crawl(["https://rc/8"], 30))

    def crash(*args):
        raise RuntimeError("killed before the commit")

    monkeypatch.setattr(sink, "commit_snapshot", crash)
    with pytest.raises(RuntimeError):
        pipe.run(spark, day2, sink, job_id="d2", incremental=True)
    monkeypatch.undo()
    before = sink.read_extracted(spark).count()
    stats = pipe.run(spark, day2, sink, job_id="d2", incremental=True)
    assert sink.read_extracted(spark).count() - before == 1
    assert stats["total_docs"] == 9
