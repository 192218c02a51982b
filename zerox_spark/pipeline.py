"""End-to-end job assembly (SURVEY.md §3.4 lifecycle).

    lineage state (driver) → scan → newest crawl per url → resume filter
         → salted content-hash repartition
         → extract (+inline fold, identical neighbours extracted once)
         → write extracted (bucket-partitioned: dynamic overwrite, or a
           versioned append in incremental mode)
         → per-bucket aggregate of the latest table (≤ num_buckets rows),
           collected once as an Arrow table
         → driver: append lineage for the buckets this run wrote, fold
           the summary → snapshot commit

``transform`` is lazy: a pruned scan, the max_by dedupe (one shuffle by
url), the salted repartition (one shuffle by content) and one mapInArrow.
``run`` adds the actions: the extracted write, and one ``toArrow`` of
``operators/lineage.bucket_aggregate`` over the latest table, the only
per-bucket formula. Everything after that collect runs on the driver over
at most ``num_buckets`` rows and launches no Spark job. Lineage is commit
metadata that the sink reads and appends on the driver (sinks.py), like
the snapshot manifest and the bucket-count pin. The manifest holds the
snapshot id the run stamped on its rows and the summary; lineage holds the
incremental cursor, the max ``max_warc_ts`` that ``lineage_state`` reads.

The cursor needs one fact: lineage is appended only after the extracted
write finishes, so every row at or below the cursor is already in the
table.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass, field

import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F

from zerox_spark.extract.core import ExtractConfig
from zerox_spark.operators.extract import extract_pages
from zerox_spark.operators.lineage import (
    bucket_aggregate,
    fold_summary,
    lineage_rows,
)
from zerox_spark.operators.repartition import salted_repartition
from zerox_spark.operators.resume import filter_uncommitted
from zerox_spark.sinks import ParquetSnapshotSink


@dataclass
class PipelineConfig:
    num_partitions: int = 32  # shuffle width; ≈ input_bytes / 200MB at scale
    num_buckets: int = 64  # lineage/resume/overwrite granularity
    # the job folds continued tables by default (maintainFormat)
    extract: ExtractConfig = field(
        default_factory=lambda: ExtractConfig(maintain_format=True)
    )


class ExtractionPipeline:
    def __init__(self, config: PipelineConfig | None = None) -> None:
        self.config = config or PipelineConfig()

    # -- logical plan ------------------------------------------------------
    def transform(self, pages: DataFrame) -> DataFrame:
        """pages → raw extracted rows (lazy; no writes). The testable core."""
        cfg = self.config
        # duplicate urls at different warc_ts (e08): keep the newest crawl.
        # max_by aggregates in one shuffle (vs window+filter's
        # shuffle+sort). The ORDERING struct matters twice over:
        # - null warc_ts (real archives with missing WARC-Date) must
        #   coalesce to a floor — max_by IGNORES rows whose ordering
        #   key is null, which would null the whole payload struct and
        #   silently destroy the document;
        # - html is the tie-break, so equal-warc_ts duplicates resolve
        #   to the same row on every replay/partitioning (the lineage
        #   checksum contract requires bitwise-stable output).
        order = F.struct(
            F.coalesce(
                F.col("warc_ts"),
                F.lit("1900-01-01 00:00:00").cast("timestamp"),
            ).alias("ts"),
            F.col("html").alias("tie"),
        )
        pages = (
            pages.groupBy("url")
            .agg(
                F.max_by(F.struct("warc_ts", "html", "text"), order).alias(
                    "_r"
                )
            )
            .select("url", "_r.warc_ts", "_r.html", "_r.text")
        )
        # hash-partitioned by url from the groupBy; the salted repartition
        # below re-partitions by content, so the copies of one payload
        # under many urls meet and are extracted once, and splits
        # heavy-row skew.
        repartitioned = salted_repartition(pages, cfg.num_partitions)
        return extract_pages(repartitioned, cfg.extract, cfg.num_buckets)

    # -- full job with commit/resume --------------------------------------
    def run(
        self,
        spark: SparkSession,
        pages: DataFrame,
        sink: ParquetSnapshotSink,
        job_id: str | None = None,
        incremental: bool = False,
    ) -> dict:
        """Two distinct resume mechanisms, deliberately NOT combined:

        - ``incremental=True``: the delta mode for RECURRING crawls —
          processes only rows at-or-after the lineage cursor (max
          ``max_warc_ts`` over the lineage table; the predicate is pushed
          to the scan, so a daily delta over a 100 TB table reads ~one
          day of data). Bucket resume is OFF here: a reused job_id's
          committed buckets would silently filter every new day's rows
          away. ``>=`` (not ``>``) at the boundary: second-granularity
          crawl deliveries can split one warc_ts across runs, and a
          strictly-newer filter would lose the late half forever — the
          boundary rows re-extract as new versions and the latest-version
          dedupe keeps the table idempotent.
        - bucket resume (non-incremental): a job_id names ONE input
          snapshot; re-running it finishes the uncommitted buckets of
          THAT input. New data needs a new job_id — or incremental mode.

        Either way the lineage rows carry this job_id only for the
        buckets this run wrote, and the returned summary covers the
        whole latest table. A sink keeps the bucket count of its first
        run; a different ``num_buckets`` raises before any extraction.
        """
        job_id = job_id or uuid.uuid4().hex[:12]
        num_buckets = self.config.num_buckets
        sink.check_num_buckets(num_buckets)
        committed, cursor = sink.lineage_state(job_id)
        if incremental:
            committed = frozenset()
            if cursor is not None:
                # str() of the naive UTC datetime, cast in the session
                # time zone like every warc_ts literal of the job
                pages = pages.filter(
                    F.col("warc_ts") >= F.lit(str(cursor)).cast("timestamp")
                )
        todo = filter_uncommitted(pages, committed, num_buckets)
        snap_id = sink.next_snapshot_id()
        # elapsed_ms is persisted with the rows so lineage can be computed
        # from the *written* files (one extraction pass; no cache of a
        # 100 TB intermediate, no recompute) — see operators/lineage.py.
        # Incremental deltas append versioned rows (a delta covers only part
        # of a bucket; overwrite would drop its siblings — sinks.py).
        sink.write_extracted(
            self.transform(todo), snap_id=snap_id, append=incremental
        )
        # the one collect: at most num_buckets rows feed the lineage
        # append and the summary
        buckets = lineage_rows(
            bucket_aggregate(sink.read_extracted_latest(spark)),
            job_id,
            carry=("_snap", "successful", "failed", "content_length"),
        ).toArrow()
        # lineage attribution: this run owns the buckets whose newest rows
        # carry its snapshot id, less those an earlier attempt of this
        # job_id already committed (it may have crashed after its lineage
        # write, before its snapshot commit, leaving the same id behind)
        owned = buckets.filter(
            (pc.field("_snap") == snap_id)
            & ~pc.field("partition_id").isin(sorted(committed))
        )
        if owned.num_rows:
            sink.write_lineage(owned)
        stats = fold_summary(buckets)
        sink.commit_snapshot(job_id, snap_id, {"summary": stats})
        return {"job_id": job_id, **stats}
