"""Per-bucket lineage and the job summary — replaces ZeroxOutput.summary +
completionTime (node-zerox/src/types.ts:260-270, index.ts:574-606) at
bucket granularity (SURVEY.md §4.3, FIXTURES.md §4).

``bucket_aggregate`` is the one per-bucket formula: a grouped aggregation
over the extract output's carrier columns (partition_id, elapsed_ms, ...)
that Catalyst runs with map-side partial aggregation into at most
``num_buckets`` rows. ``lineage_rows`` is a projection of those rows and
``fold_summary`` the one summary formula, a fold of them on the driver
(at most ``num_buckets`` rows as one Arrow table), so the lineage table and
the job summary can never disagree. pipeline.run collects the rows once
and both writes lineage and folds the summary from them;
queries.q_extract_summary folds the same way.

The fold is exact. ``partition_id`` is a function of the url
(repartition.partition_bucket), so the buckets partition the urls and
Σ doc_count = Σ count(distinct url in bucket) = count(distinct url). Row
counts and the status/length sums add across any partition of the rows.
This needs one bucket count per table, which the sink enforces
(ParquetSnapshotSink.check_num_buckets). Over an empty table the fold
keeps the single-pass aggregate's output: 0 docs and 0 pages, null sums.

checksum: order-insensitive XOR of xxhash64(url, page_no, markdown) per
bucket, rendered as a string. Bitwise-stable across replays, independent
of row arrival order (and immune to ANSI-mode long overflow, unlike sum),
and cheap to recompute for audit; (url, page_no) uniqueness means XOR's
duplicate-cancellation cannot trigger.

_snap: on sink rows the aggregate also carries the bucket's newest
snapshot id. A run owns the buckets whose ``_snap`` is its own snapshot
id: a dynamic overwrite leaves only this run's rows in a bucket it wrote,
an incremental append makes them the bucket's newest, and a bucket the run
did not write keeps the older id it had (pipeline.run).
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F

from zerox_spark.extract.core import STATUS_ERROR


def bucket_aggregate(extracted: DataFrame) -> DataFrame:
    """Extract output (or a sink's latest rows) → one row per bucket:
    the lineage columns, the SUCCESS/ERROR counts, the content_length sum
    and, on sink rows, ``max(_snap)`` (null for raw extract output)."""
    snap = (
        F.max("_snap") if "_snap" in extracted.columns
        else F.lit(None).cast("int")
    )
    return extracted.groupBy("partition_id").agg(
        F.count_distinct("url").alias("doc_count"),
        F.count(F.lit(1)).alias("page_count"),
        F.bit_xor(F.xxhash64("url", "page_no", "markdown")).alias("_cksum"),
        F.sum("elapsed_ms").alias("elapsed_ms"),
        F.min(F.xxhash64("url")).alias("_hmin"),
        F.max(F.xxhash64("url")).alias("_hmax"),
        F.sum(F.when(F.col("status") == "SUCCESS", 1).otherwise(0)).alias(
            "successful"
        ),
        F.sum(F.when(F.col("status") == STATUS_ERROR, 1).otherwise(0)).alias(
            "failed"
        ),
        F.sum("content_length").alias("content_length"),
        # per-bucket crawl high-watermark: max over the lineage table is
        # the sink's incremental watermark — computed from written rows,
        # never by re-scanning the input (pipeline.run)
        F.max("warc_ts").alias("max_warc_ts"),
        snap.alias("_snap"),
    )


def lineage_rows(
    buckets: DataFrame, job_id: str, carry: tuple[str, ...] = ()
) -> DataFrame:
    """``bucket_aggregate`` rows → lineage rows (LINEAGE_SCHEMA), followed
    by the ``carry`` columns of ``buckets`` unchanged."""
    return buckets.select(
        F.lit(job_id).alias("job_id"),
        F.col("partition_id"),
        F.concat_ws(":", F.col("_hmin"), F.col("_hmax")).alias("input_split"),
        F.col("doc_count"),
        F.col("page_count"),
        F.col("_cksum").cast("string").alias("checksum"),
        F.col("elapsed_ms"),
        F.when(F.col("failed") > 0, F.lit("PARTIAL"))
        .otherwise(F.lit("SUCCESS"))
        .alias("status"),
        F.col("max_warc_ts"),
        *carry,
    )


# the fold's output columns, in order, as a Spark schema
SUMMARY_SCHEMA = (
    "total_docs bigint, total_pages bigint, successful bigint, "
    "failed bigint, total_content_length bigint"
)


def fold_summary(buckets: pa.Table) -> dict:
    """``bucket_aggregate`` rows, collected → the job-level Summary analog
    (totalPages, ocr successful/failed — node-zerox/src/types.ts:260-270)
    with SUMMARY_SCHEMA's keys. Sums follow SQL: null over no rows."""

    def total(column: str) -> int | None:
        return pc.sum(buckets[column]).as_py()

    return {
        "total_docs": total("doc_count") or 0,
        "total_pages": total("page_count") or 0,
        "successful": total("successful"),
        "failed": total("failed"),
        "total_content_length": total("content_length"),
    }
