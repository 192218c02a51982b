"""spark-submit entry point.

    spark-submit --py-files zerox_spark.zip zerox_spark/job.py \
        --input  /path/or/catalog.db.pages \
        --output /path/to/sink \
        --partitions 4096 --buckets 1024 [--maintain-format/--no-maintain-format]
        [--job-id resumable-id] [--synth-sf-dir /root/testdata/sf0.1]

Reads the pages table (parquet path or, with --iceberg, a catalog table),
runs the extraction pipeline with resume + lineage, commits a snapshot.
``--synth-sf-dir`` replaces the scan with the deterministic synthesized
corpus (sandbox mode, TESTDATA.md).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# spark-submit zerox_spark/job.py runs this as a plain file: put the repo
# root on sys.path so the package resolves (harmless under --py-files)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# static mirror of synth.SYNTH_FAMILIES (test-asserted equal): importing
# synth at parse time would pay the pyarrow+pyspark import on every --help
# or arg-error invocation, against this file's lazy-import policy
SYNTH_FAMILY_CHOICES = (
    "binary", "delimited", "legacy", "misc", "odf", "ooxml",
    "pdf_crypt", "pdf_real", "poison", "pres", "rtf", "taxonomy",
)


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(prog="zerox-spark-job")
    ap.add_argument("--input", help="pages parquet path or iceberg table name")
    ap.add_argument(
        "--input-warc",
        help="raw *.warc(.gz) dir/glob — ingest Common-Crawl archives "
        "directly into the pages schema (zerox_spark/warc.py)",
    )
    ap.add_argument("--synth-sf-dir", help="synthesize pages from this TESTDATA dir")
    ap.add_argument(
        "--synth-family",
        default="taxonomy",
        choices=sorted(SYNTH_FAMILY_CHOICES),
        help="which synthesized corpus to run (with --synth-sf-dir): "
        "the mixed taxonomy default, or a per-format family incl. the "
        "encrypted-PDF/Office ones",
    )
    ap.add_argument("--output", required=True, help="sink root dir (parquet mode)")
    ap.add_argument("--iceberg", action="store_true", help="treat --input/--output as iceberg tables")
    ap.add_argument("--partitions", type=int, default=256)
    ap.add_argument("--buckets", type=int, default=256)
    ap.add_argument("--job-id", default=None, help="stable id enables resume")
    ap.add_argument("--incremental", action="store_true", help="process only rows newer than the last committed warc_ts watermark (delta mode)")
    ap.add_argument("--maintain-format", dest="maintain_format", action="store_true", default=True)
    ap.add_argument("--no-maintain-format", dest="maintain_format", action="store_false")
    ap.add_argument("--error-mode", choices=["IGNORE", "THROW"], default="IGNORE")
    ap.add_argument("--select-pages", default=None, help="comma-separated 1-indexed page list")
    ap.add_argument("--export-md", default=None, help="also write one .md artifact per document to this dir (the reference's primary sink)")
    from zerox_spark.extract.core import EXTRACTOR_NAMES

    ap.add_argument(
        "--extractor",
        default=None,
        choices=sorted(EXTRACTOR_NAMES),
        help="named extractor strategy instead of magic-byte auto-routing",
    )
    ap.add_argument("--master", default=None)
    ap.add_argument(
        "--streaming",
        action="store_true",
        help="treat --input as a file-source STREAM dir: drain the current "
        "backlog with availableNow (exactly-once per epoch via the "
        "checkpoint under --output) and print the extracted totals",
    )
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    from zerox_spark.pipeline import ExtractionPipeline, PipelineConfig
    from zerox_spark.session import get_spark
    from zerox_spark.sinks import IcebergSink, ParquetSnapshotSink

    # config validation BEFORE any I/O (validate-at-init,
    # py_zerox/pyzerox/models/modellitellm.py:33-38)
    extract_config = _extract_config(args)
    if args.iceberg and args.incremental:
        # the watermark cursor lives in the parquet sink's snapshot files;
        # IcebergSink keeps no such cursor
        raise SystemExit("--incremental is not supported with --iceberg")

    spark = get_spark(args.master, app_name="zerox-spark-job")

    if args.streaming:
        if not args.input:
            raise SystemExit("--streaming requires --input (a stream dir)")
        return _run_streaming(spark, args, extract_config)

    if args.synth_sf_dir:
        from zerox_spark.synth import synth_pages

        pages = synth_pages(
            spark, args.synth_sf_dir, family=args.synth_family
        )
    elif args.input_warc:
        from zerox_spark.warc import read_warc

        pages = read_warc(spark, args.input_warc)
    elif args.iceberg:
        pages = spark.read.table(args.input)
    elif args.input:
        pages = spark.read.parquet(args.input)
    else:
        raise SystemExit(
            "one of --input / --input-warc / --synth-sf-dir is required"
        )

    pipe = ExtractionPipeline(
        PipelineConfig(
            num_partitions=args.partitions,
            num_buckets=args.buckets,
            extract=extract_config,
        )
    )
    sink = (
        IcebergSink(args.output + ".extracted", args.output + ".lineage")
        if args.iceberg
        else ParquetSnapshotSink(args.output)
    )
    stats = pipe.run(
        spark, pages, sink, job_id=args.job_id, incremental=args.incremental
    )
    if args.export_md:
        from zerox_spark.sinks import export_markdown_files

        # latest versions only: read_extracted would export every _snap
        # version of an incrementally re-crawled page into one .md
        stats["md_files"] = export_markdown_files(
            sink.read_extracted_latest(spark), args.export_md
        )
    print(json.dumps(stats))
    return 0


def _extract_config(args: argparse.Namespace):
    """The one ExtractConfig of a run, batch or streaming, from the CLI."""
    from zerox_spark.extract.core import ExtractConfig, get_extractor

    return ExtractConfig(
        select_pages=(
            [int(p) for p in args.select_pages.split(",")]
            if args.select_pages
            else None
        ),
        maintain_format=args.maintain_format,
        error_mode=args.error_mode,
        extractor=get_extractor(args.extractor or "auto"),
    )


def _run_streaming(spark, args, extract_config) -> int:
    """Streaming mode: file-source stream → extract → parquet sink with a
    checkpoint (resume-on-restart comes from the checkpoint; rerunning
    after a crash reprocesses only unconsumed files — the streaming analog
    of the batch bucket resume)."""
    import os

    from zerox_spark.streaming import read_pages_stream, stream_extract

    # extracted_stream, NOT the batch sink's extracted/: the batch layout
    # is partition_id-directory-partitioned with a _snap column — mixing
    # flat streaming part-files into it corrupts both readers
    out_dir = os.path.join(args.output, "extracted_stream")
    ckpt_dir = os.path.join(args.output, "_checkpoint")
    stream = read_pages_stream(spark, args.input)
    q = stream_extract(
        stream,
        out_dir,
        ckpt_dir,
        config=extract_config,
        num_buckets=args.buckets,
        available_now=True,
    )
    q.awaitTermination()
    from pyspark.sql import functions as F

    if not os.path.isdir(out_dir):
        # availableNow found no files → no batch committed, no output dir;
        # an empty backlog is a legitimate invocation, not an error
        print(json.dumps(
            {"mode": "streaming", "total_docs": 0, "total_pages": 0,
             "failed": 0}
        ))
        return 0
    # explicit schema: the sink may have created the dir with metadata but
    # no data files yet (empty backlog) — inference would fail there
    from zerox_spark.operators.extract import RAW_EXTRACTED_SCHEMA

    stats = (
        spark.read.schema(RAW_EXTRACTED_SCHEMA).parquet(out_dir)
        .agg(
            F.count_distinct("url").alias("total_docs"),
            F.count(F.lit(1)).alias("total_pages"),
            F.coalesce(
                F.sum(F.when(F.col("status") == "ERROR", 1).otherwise(0)),
                F.lit(0),
            ).alias("failed"),
        )
        .collect()[0]
        .asDict()
    )
    print(json.dumps({"mode": "streaming", **stats}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
