"""SparkSession factory with the configs this engine relies on.

Scale rationale (tuned for a multi-executor cluster, tested on local[N]):

- Arrow execution ON: every hot-loop operator is a pandas/Arrow UDF
  (mapInPandas / applyInPandas); Arrow batch transfer is the difference
  between ~10-100x vs row-at-a-time Python (reference's hot op is a network
  LLM call — ours is CPU, so serde overhead actually matters).
- AQE ON (+ coalescePartitions + skewJoin): runtime re-planning of shuffle
  partition counts; single-row skew is additionally handled by explicit
  salting in operators/repartition.py because AQE cannot split one row.
- session timeZone pinned to UTC so timestamp semantics match the DuckDB
  oracle (duckdb timestamps are UTC-naive).
- shuffle partitions default to cores for local runs; on a real cluster set
  spark.sql.shuffle.partitions ~ 2-3x total executor cores via spark-submit.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch sizing: each row can carry up to ~MBs of html binary.
# Spark 4's BYTES cap (spark.sql.execution.arrow.maxBytesPerBatch, default
# 64 MiB — set explicitly below) is the memory guard: it bounds a batch of
# skewed heavy rows by actual size, which the old 256-row cap only
# approximated (256 × a 15 MiB payload would have been ~4 GiB). With the
# bytes guard doing that job, the ROW cap only needs to keep typical
# batches large enough to amortize the per-batch JVM↔Python round trip —
# measured on the bench extract job: 256 rows = 3 round trips per task,
# 27.8k pages/s; 1024 rows = 1 round trip, 34-37k pages/s (+25-35%).
ARROW_MAX_RECORDS_PER_BATCH = 1024
ARROW_MAX_BYTES_PER_BATCH = 64 * 1024 * 1024


def get_spark(
    master: str | None = None,
    app_name: str = "zerox-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession configured for this engine. An active session
    is returned unchanged: its owner's master, app name and confs stay.

    ``master=None`` defers to spark-submit / env (real cluster); tests and
    bench pass explicit ``local[N]``.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    if master is None:
        master = os.environ.get("ZEROX_SPARK_MASTER", "local[*]")
    if shuffle_partitions is None:
        cpus = _parse_local_cores(master)
        shuffle_partitions = cpus if cpus else 200

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS_PER_BATCH),
        )
        .config(
            "spark.sql.execution.arrow.maxBytesPerBatch",
            str(ARROW_MAX_BYTES_PER_BATCH),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalesce floor is 1 MiB/partition; several of our shuffles
        # carry KILOBYTES per row of downstream CPU (the 128-permutation
        # minhash aggregate, per-pair jaccard verify), so a 4 MiB shuffle was
        # coalesced to 3-4 tasks and serialized seconds of work at any
        # width. 64 KiB keeps small CPU-bound stages wide; at production
        # shuffle sizes the parallelismFirst target (total/parallelism)
        # dominates this floor, so large-scale coalescing is unchanged.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # parquet writes for the sandbox sink; an Iceberg catalog is wired in
        # sinks.py when the runtime provides one (spark-submit --packages).
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("ZEROX_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _parse_local_cores(master: str) -> int | None:
    """``local[8]`` -> 8; ``local[*]`` -> os cpu count; else None."""
    if not master.startswith("local"):
        return None
    if "[" not in master or "]" not in master:
        return 1 if "[" not in master else None  # malformed: let Spark err
    inside = master[master.index("[") + 1 : master.rindex("]")]
    if inside == "*":
        return os.cpu_count() or 8
    try:
        return int(inside)
    except ValueError:
        return None
