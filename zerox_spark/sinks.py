"""Sinks: committed, idempotent, resume-friendly output tables.

Production target is Iceberg (north_rule): ``IcebergSink`` below emits the
exact DataFrameWriterV2 calls (``writeTo(...).overwritePartitions()``) and
relies on Iceberg's snapshot isolation for commit atomicity + time travel.
The sandbox ships no Iceberg runtime jars, so ``ParquetSnapshotSink``
implements the same contract on plain parquet:

- extracted table partitioned by the logical url bucket (``partition_id``),
  written with **dynamic partition overwrite** — re-emitting a bucket on
  resume replaces exactly that bucket's files, nothing else (idempotence);
- lineage is commit metadata, like ``_snapshots/`` and ``_num_buckets``:
  the driver reads it with pyarrow before the write (``lineage_state``:
  this job_id's SUCCESS buckets, which operators/resume.py skips, and the
  max ``max_warc_ts``, the incremental cursor) and appends one parquet
  file of at most ``num_buckets`` rows after it (``write_lineage``), in
  the physical types Spark writes (INT96 timestamps), so ``read_lineage``,
  DuckDB and pyarrow read a mix of Spark- and driver-written files alike;
- a tiny JSON snapshot manifest is written after each successful commit,
  under the snapshot id the run stamped on its rows, with the run's
  summary — the parquet-mode stand-in for Iceberg's snapshot log.

Every driver-side file (the manifest, a lineage file, the bucket-count
pin) is written whole or not at all: a hidden temp file in the same
directory, then ``os.replace`` (``_write_replacing``). A crash leaves at
most a dot-file that every reader skips, never a truncated manifest.

Mirrors the reference's sink layer (markdown file + ZeroxOutput,
node-zerox/src/index.ts:564-607) lifted to table semantics (SURVEY.md §2.8).
"""

from __future__ import annotations

import datetime
import json
import os
import pathlib
import re
import time
import uuid
from typing import Callable, TypeVar

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Window
from pyspark.sql import types as T, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from zerox_spark.schema import LINEAGE_SCHEMA

_R = TypeVar("_R")

# LINEAGE_SCHEMA in Arrow, timestamps naive UTC (the session time zone)
LINEAGE_ARROW_SCHEMA = to_arrow_schema(LINEAGE_SCHEMA, timestamp_utc=False)
_SNAP_NAME = re.compile(r"snap-(\d{6,})\.json")


def run_retries(fn: Callable[[], _R], max_retries: int = 1) -> _R:
    """runRetries analog (node-zerox/src/utils/common.ts:62-80): retry up to
    max_retries times, rethrow at the limit. The deterministic compute needs
    no retries — this guards I/O commits only (SURVEY.md §2.4 O6); task-level
    compute retries stay with spark.task.maxFailures."""
    attempt = 0
    while True:
        try:
            return fn()
        except Exception:
            if attempt >= max_retries:
                raise
            attempt += 1


def _write_replacing(path: str, write: Callable[[str], None]) -> None:
    """Create or replace ``path`` atomically: ``write`` fills a hidden temp
    file beside it, which ``os.replace`` renames over ``path``. If
    ``write`` raises, the temp file is removed and ``path`` is untouched."""
    tmp = os.path.join(
        os.path.dirname(path),
        f".{os.path.basename(path)}.{uuid.uuid4().hex}.tmp",
    )
    try:
        write(tmp)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def latest_versions(extracted: DataFrame) -> DataFrame:
    """Latest version per (url, page_no) of a sink's extracted rows — the
    logical table a consumer reads after incremental upserts."""
    # warc_ts tie-break after _snap: one _snap value can carry two
    # versions of a url (IcebergSink writes _snap = 0 on every commit,
    # and a crashed attempt's appended rows share the id its retry
    # writes under) — the newest crawl must win inside a snapshot too
    w = Window.partitionBy("url", "page_no").orderBy(
        F.col("_snap").desc(), F.col("warc_ts").desc_nulls_last()
    )
    return (
        extracted.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


class ParquetSnapshotSink:
    def __init__(self, root: str) -> None:
        self.root = root
        self.extracted_path = os.path.join(root, "extracted")
        self.lineage_path = os.path.join(root, "lineage")
        self.snap_dir = os.path.join(root, "_snapshots")
        self.buckets_path = os.path.join(root, "_num_buckets")

    def check_num_buckets(self, num_buckets: int) -> None:
        """Pin the sink to one bucket count: record it on first use, before
        anything is extracted (so a crashed first attempt pins it too), and
        raise ValueError on a different count later. Under a new count a
        url lands in a new bucket: resume would drop every input row whose
        new bucket id an earlier attempt committed, and a dynamic overwrite
        would leave the url's old rows behind in its old bucket."""
        if os.path.exists(self.buckets_path):
            with open(self.buckets_path, encoding="utf-8") as fh:
                pinned = int(fh.read())
            if pinned != num_buckets:
                raise ValueError(
                    f"sink {self.root} has {pinned} buckets, "
                    f"not {num_buckets}"
                )
            return
        os.makedirs(self.root, exist_ok=True)
        _write_replacing(
            self.buckets_path,
            lambda tmp: pathlib.Path(tmp).write_text(
                str(num_buckets), encoding="utf-8"
            ),
        )

    def write_extracted(
        self, extracted: DataFrame, snap_id: int = 0, append: bool = False
    ) -> None:
        """Full/resume runs overwrite whole buckets (dynamic partition
        overwrite — idempotent because those runs re-emit complete buckets).
        Incremental (delta) runs APPEND with a snapshot-id version column:
        a delta touches only part of a bucket, so overwrite would destroy
        sibling rows — re-crawled urls instead coexist as versions and
        ``read_extracted_latest`` resolves to the newest (the parquet-mode
        analog of Iceberg MERGE INTO upserts)."""
        versioned = extracted.withColumn("_snap", F.lit(int(snap_id)))
        if append:
            versioned.write.mode("append").partitionBy("partition_id").parquet(
                self.extracted_path
            )
            return
        # per-WRITE option, not a session conf set: mutating the shared
        # session's partitionOverwriteMode would silently leak dynamic
        # semantics into every later overwrite in the same session
        (
            versioned.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("partition_id")
            .parquet(self.extracted_path)
        )

    def lineage_state(
        self, job_id: str
    ) -> tuple[frozenset[int], datetime.datetime | None]:
        """The lineage a run needs before it writes, read on the driver:
        the buckets ``job_id`` committed with status SUCCESS, and the max
        ``max_warc_ts`` over all rows (naive UTC, None if there is none),
        the cursor of an incremental run.
        A sink without a lineage directory reads nothing.

        EXPLICIT schema: a sink dir written by an older engine version
        may lack newer columns (e.g. max_warc_ts); the known schema
        null-fills them. Spark writes timestamps as INT96, which the
        reader coerces to the schema's microseconds."""
        if not os.path.isdir(self.lineage_path):
            return frozenset(), None
        # two column-pruned scans: the job filter is pushed into the
        # first, so the driver holds the job's ids and one column of
        # timestamps, not the whole table
        lineage = ds.dataset(
            self.lineage_path,
            schema=LINEAGE_ARROW_SCHEMA,
            format=ds.ParquetFileFormat(
                read_options=ds.ParquetReadOptions(
                    coerce_int96_timestamp_unit="us"
                )
            ),
        )
        mine = lineage.to_table(
            columns=["partition_id"],
            filter=(pc.field("job_id") == job_id)
            & (pc.field("status") == "SUCCESS"),
        )
        return (
            frozenset(mine["partition_id"].to_pylist()),
            pc.max(
                lineage.to_table(columns=["max_warc_ts"])["max_warc_ts"]
            ).as_py(),
        )

    def write_lineage(self, lineage: pa.Table) -> None:
        """Append the LINEAGE_SCHEMA columns of ``lineage`` as one parquet
        file with Spark's physical types: zstd, INT96 timestamps."""
        lineage = lineage.select(LINEAGE_ARROW_SCHEMA.names).cast(
            LINEAGE_ARROW_SCHEMA
        )
        os.makedirs(self.lineage_path, exist_ok=True)
        path = os.path.join(
            self.lineage_path, f"part-{uuid.uuid4().hex}-driver.zstd.parquet"
        )
        run_retries(
            lambda: _write_replacing(
                path,
                lambda tmp: pq.write_table(
                    lineage, tmp, compression="zstd",
                    use_deprecated_int96_timestamps=True,
                ),
            )
        )

    def read_lineage(self, spark: SparkSession) -> DataFrame:
        """The lineage table as a DataFrame, for queries and audits (a run
        reads it with ``lineage_state``). Explicit schema for the same
        old-sink-dir reason as there; mergeSchema would pay a footer merge
        over every part file on every read."""
        try:
            return spark.read.schema(LINEAGE_SCHEMA).parquet(
                self.lineage_path
            )
        except Exception:  # first run: no lineage yet
            # emptyRDD has 0 partitions, so a query over it launches no
            # tasks; createDataFrame([]) is a Python-backed RDD of
            # defaultParallelism Python tasks
            return spark.createDataFrame(
                spark.sparkContext.emptyRDD(), LINEAGE_SCHEMA
            )

    def read_extracted(self, spark: SparkSession) -> DataFrame:
        """All row versions (plus the _snap version column). Explicit
        schema for the same old-sink-dir reason as read_lineage."""
        from zerox_spark.operators.extract import RAW_EXTRACTED_SCHEMA

        on_disk = T.StructType(
            RAW_EXTRACTED_SCHEMA.fields + [T.StructField("_snap", T.IntegerType(), True)]
        )
        return spark.read.schema(on_disk).parquet(self.extracted_path)

    def read_extracted_latest(self, spark: SparkSession) -> DataFrame:
        return latest_versions(self.read_extracted(spark))

    def next_snapshot_id(self) -> int:
        """Highest committed snapshot id + 1, 0 if none, from the
        ``snap-NNNNNN.json`` names only, so a stray file or a temp file
        is never counted. max()+1 — NOT a file count: deleting/compacting
        an old snapshot file must never make a new id collide with rows
        already on disk."""
        if not os.path.isdir(self.snap_dir):
            return 0
        return max(
            (
                int(m.group(1))
                for m in map(_SNAP_NAME.fullmatch, os.listdir(self.snap_dir))
                if m
            ),
            default=-1,
        ) + 1

    def commit_snapshot(self, job_id: str, snap_id: int, meta: dict) -> str:
        """Write the manifest of snapshot ``snap_id``, the id the run got
        from ``next_snapshot_id`` and stamped on its rows."""
        os.makedirs(self.snap_dir, exist_ok=True)
        path = os.path.join(self.snap_dir, f"snap-{snap_id:06d}.json")
        payload = {"snapshot": snap_id, "job_id": job_id,
                   "ts": int(time.time() * 1000), **meta}

        def dump(tmp: str) -> None:
            with open(tmp, "w", encoding="utf-8") as fh:
                json.dump(payload, fh, sort_keys=True)

        _write_replacing(path, dump)
        return path


def export_markdown_files(extracted: DataFrame, out_dir: str) -> int:
    """The reference's primary sink: one ``{outputDir}/{fileName}.md`` per
    document, pages joined "\\n\\n" in page order (node-zerox/src/index.ts:
    564-568; py_zerox/pyzerox/core/zerox.py:97-99,168-172), file name via
    the PY sanitization rule. Runs distributed (foreachPartition writes from
    executors — ``out_dir`` must be a shared filesystem on a cluster).
    Returns the document count. Collision note: faithful to the reference,
    the name is the sanitized stem only — two urls sanitizing equal
    overwrite each other, exactly as two equal input file names would."""
    from zerox_spark.extract.fences import sanitize_filename

    from zerox_spark.operators.extract import pages_join_expr

    os.makedirs(out_dir, exist_ok=True)
    docs = extracted.groupBy("url").agg(
        pages_join_expr("\n\n").alias("doc_markdown")
    )
    # count from the DataFrame, not len(listdir): a pre-existing out_dir
    # (or a non-shared fs where the driver can't see executor writes)
    # would make the directory listing lie about how many docs exported
    docs = docs.persist()
    n_docs = docs.count()

    def write_part(rows) -> None:
        for row in rows:
            name = sanitize_filename(row.url) or "doc"
            path = os.path.join(out_dir, f"{name}.md")
            with open(path, "w", encoding="utf-8") as fh:
                fh.write(row.doc_markdown)

    docs.foreachPartition(write_part)
    docs.unpersist()
    return n_docs


class IcebergSink:
    """Iceberg table sink (requires an Iceberg catalog on the session —
    spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-...).

    Not exercisable in this sandbox (no jars); the call shapes are the
    production path and are covered by the ParquetSnapshotSink contract
    tests.

    Every commit writes ``_snap = 0``, so pipeline.run's lineage
    attribution (the buckets whose newest ``_snap`` is the run's snapshot
    id) gives a run every bucket of the table that its job_id has not
    committed, not only the buckets it wrote. The bucket count is not
    pinned either: the table's partition spec is the place for that."""

    def __init__(self, extracted_table: str, lineage_table: str) -> None:
        self.extracted_table = extracted_table
        self.lineage_table = lineage_table

    def check_num_buckets(self, num_buckets: int) -> None:
        pass

    def write_extracted(
        self, extracted: DataFrame, snap_id: int = 0, append: bool = False
    ) -> None:
        if append:
            # delta upsert: production path is MERGE INTO on (url, page_no);
            # append+read-latest is the portable equivalent
            extracted.withColumn(
                "_snap", F.lit(int(snap_id))
            ).writeTo(self.extracted_table).append()
            return
        # per-bucket idempotent replace; Iceberg commits a new snapshot
        extracted.withColumn("_snap", F.lit(int(snap_id))).writeTo(
            self.extracted_table
        ).overwritePartitions()

    def lineage_state(
        self, job_id: str
    ) -> tuple[frozenset[int], datetime.datetime | None]:
        """ParquetSnapshotSink.lineage_state in one Spark collect."""
        mine = (F.col("job_id") == job_id) & (F.col("status") == "SUCCESS")
        row = (
            SparkSession.active()
            .read.table(self.lineage_table)
            .agg(
                F.collect_set(
                    F.when(mine, F.col("partition_id"))
                ).alias("done"),
                F.max("max_warc_ts").alias("wm"),
            )
            .first()
        )
        return frozenset(row.done), row.wm

    def write_lineage(self, lineage: pa.Table) -> None:
        SparkSession.active().createDataFrame(
            lineage.select(LINEAGE_SCHEMA.names).cast(LINEAGE_ARROW_SCHEMA),
            LINEAGE_SCHEMA,
        ).writeTo(self.lineage_table).append()

    def read_lineage(self, spark: SparkSession) -> DataFrame:
        return spark.read.table(self.lineage_table)

    def read_extracted(self, spark: SparkSession) -> DataFrame:
        return spark.read.table(self.extracted_table)

    def read_extracted_latest(self, spark: SparkSession) -> DataFrame:
        return latest_versions(self.read_extracted(spark))

    def next_snapshot_id(self) -> int:
        return 0  # Iceberg's snapshot log owns ids; _snap is per-commit

    def commit_snapshot(self, job_id: str, snap_id: int, meta: dict) -> str:
        # Iceberg's own snapshot log is the commit record
        return f"{self.extracted_table}@latest"

