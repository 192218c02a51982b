"""Salted content-hash repartitioning — explicit skew handling (north_rule).

Why explicit: this is a map-heavy job, and AQE's skew mitigation
(spark.sql.adaptive.skewJoin) only rebalances *shuffle reads for joins*; it
cannot split the work of a single pathological row (a 200x-median document,
FIXTURES.md e04), nor does it fire at all on a shuffle-less scan→UDF plan.
So the job plans its own layout:

- partition key: ``xxhash64(html, text)`` — the content, not the url.
  Crawls store the same bytes under many urls (mirrors, query-string
  variants, session ids; Common Crawl's ``WARC-Payload-Digest``), and a
  content key sends every copy to the same task, where the partition is
  sorted on the same key so the copies arrive adjacent and the extract UDF
  (operators/extract.py ``_extract_iter``) extracts them once. Nothing
  downstream needs url co-location: the maintainFormat fold runs inside
  ``extract_document`` over one document's pages, and ``partition_id`` —
  the url bucket the sink overwrites by — is projected from the url after
  the UDF;
- salt: rows whose payload exceeds ``skew_threshold`` bytes get a per-row
  salt derived from ``xxhash64(url, warc_ts)``, spreading heavy rows —
  including many replicas of one heavy payload — across ``salt_buckets``
  partitions instead of piling onto one. The salt is deterministic (no
  rand()) so replays land in the same partition — resume-safe.

At 100 TB: partition count should target ~128-256 MB of html per task
(set ``num_partitions`` ≈ input_bytes / 200MB via job.py); the shuffle this
repartition introduces is the job's only full shuffle and is what buys even
task runtimes on skewed crawl data. The sort within each partition adds no
shuffle; it spills like any Spark sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

DEFAULT_SKEW_THRESHOLD = 1 << 20  # 1 MiB payload → "heavy" row
DEFAULT_SALT_BUCKETS = 16


def salted_repartition(
    pages: DataFrame,
    num_partitions: int,
    skew_threshold: int = DEFAULT_SKEW_THRESHOLD,
    salt_buckets: int = DEFAULT_SALT_BUCKETS,
) -> DataFrame:
    """Repartition by (content hash, conditional salt), then sort each
    partition on the content hash so identical payloads are adjacent."""
    salt = F.when(
        F.length(F.col("html")) > F.lit(skew_threshold),
        F.pmod(F.xxhash64("url", "warc_ts"), F.lit(salt_buckets)),
    ).otherwise(F.lit(0))
    return (
        pages.withColumn("_content", F.xxhash64("html", "text"))
        .repartition(num_partitions, F.col("_content"), salt.alias("_salt"))
        .sortWithinPartitions("_content")
        .drop("_content")
    )


def partition_bucket(num_buckets: int):
    """Stable url → bucket id column; the unit of resume/overwrite
    granularity (operators/resume.py, sinks.py)."""
    return F.pmod(F.xxhash64(F.col("url")), F.lit(num_buckets)).cast("int")
