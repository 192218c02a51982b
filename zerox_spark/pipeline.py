"""End-to-end job assembly (SURVEY.md §3.4 lifecycle).

    scan → resume-filter → salted content-hash repartition
         → extract (+inline fold, identical neighbours extracted once)
         → write extracted (bucket-partitioned, dynamic overwrite)
         → lineage agg → append lineage → snapshot commit

Every stage is a DataFrame transformation; the only actions are the two
writes. The plan Catalyst sees: parquet/Iceberg scan with column pruning
(url/html/text/+bucket only), one explicit repartition (the job's only full
shuffle), one mapInPandas, a map-side-combinable grouped agg for lineage.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from zerox_spark.extract.core import ExtractConfig
from zerox_spark.operators.extract import extract_pages
from zerox_spark.operators.lineage import lineage_rows, summary
from zerox_spark.operators.repartition import salted_repartition
from zerox_spark.operators.resume import committed_buckets, filter_uncommitted
from zerox_spark.sinks import ParquetSnapshotSink


@dataclass
class PipelineConfig:
    num_partitions: int = 32  # shuffle width; ≈ input_bytes / 200MB at scale
    num_buckets: int = 64  # lineage/resume/overwrite granularity
    maintain_format: bool = True
    trust_text: bool = True
    error_mode: str = "IGNORE"
    select_pages: list[int] | None = None
    dedupe_latest_warc_ts: bool = True  # e08: latest snapshot of a url wins
    extract: ExtractConfig = field(init=False)

    def __post_init__(self) -> None:
        self.extract = ExtractConfig(
            select_pages=self.select_pages,
            maintain_format=self.maintain_format,
            error_mode=self.error_mode,
            trust_text=self.trust_text,
        )


class ExtractionPipeline:
    def __init__(self, config: PipelineConfig | None = None) -> None:
        self.config = config or PipelineConfig()

    # -- logical plan ------------------------------------------------------
    def transform(self, pages: DataFrame) -> DataFrame:
        """pages → raw extracted rows (lazy; no writes). The testable core."""
        cfg = self.config
        if cfg.dedupe_latest_warc_ts:
            # duplicate urls at different warc_ts: keep the newest crawl.
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
                    F.max_by(
                        F.struct("warc_ts", "html", "text", "lang"), order
                    ).alias("_r")
                )
                .select("url", "_r.warc_ts", "_r.html", "_r.text", "_r.lang")
            )
            # hash-partitioned by url from the groupBy; the salted
            # repartition below re-partitions by content, so the copies of
            # one payload under many urls meet and are extracted once,
            # and splits heavy-row skew.
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
          processes only rows at-or-after the committed high watermark
          (max warc_ts; the predicate is pushed to the scan, so a daily
          delta over a 100 TB table reads ~one day of data). Bucket
          resume is OFF here: a reused job_id's committed buckets would
          silently anti-join every new day's rows away. ``>=`` (not
          ``>``) at the boundary: second-granularity crawl deliveries can
          split one warc_ts across runs, and a strictly-newer filter
          would lose the late half forever — the boundary rows re-extract
          as new versions and the latest-version dedupe keeps the table
          idempotent.
        - bucket resume (non-incremental): a job_id names ONE input
          snapshot; re-running it finishes the uncommitted buckets of
          THAT input. New data needs a new job_id — or incremental mode.
        """
        job_id = job_id or uuid.uuid4().hex[:12]
        watermark = sink.last_watermark() if incremental else None
        if watermark is not None:
            pages = pages.filter(
                F.col("warc_ts") >= F.lit(watermark).cast("timestamp")
            )
        lineage_prev = sink.read_lineage(spark)
        if incremental:
            committed = committed_buckets(lineage_prev, job_id).limit(0)
        else:
            committed = committed_buckets(lineage_prev, job_id)
        todo = filter_uncommitted(pages, committed, self.config.num_buckets)
        raw = self.transform(todo)
        # elapsed_ms is persisted with the rows so lineage can be computed
        # from the *written* files (one extraction pass; no cache of a
        # 100 TB intermediate, no recompute) — see operators/lineage.py.
        # Incremental deltas append versioned rows (a delta covers only part
        # of a bucket; overwrite would drop its siblings — sinks.py).
        sink.write_extracted(
            raw, snap_id=sink.next_snapshot_id(), append=incremental
        )
        # the latest-version table feeds THREE consumers (lineage write,
        # summary, and implicitly the watermark); persist it across those
        # actions instead of re-running the full-table window per consumer
        latest = sink.read_extracted_latest(spark).persist()
        try:
            # lineage attribution: only buckets this run could have
            # written carry this job_id — tagging the whole table would
            # claim other jobs' buckets (wrong metrics, and it would feed
            # the committed-bucket set buckets this job never processed)
            if incremental:
                from zerox_spark.operators.repartition import partition_bucket

                touched = todo.select(
                    partition_bucket(self.config.num_buckets).alias(
                        "partition_id"
                    )
                ).distinct()
                lineage_src = latest.join(
                    F.broadcast(touched), "partition_id", "left_semi"
                )
            else:
                lineage_src = latest.join(
                    F.broadcast(
                        committed.withColumnRenamed(
                            "bucket", "partition_id"
                        )
                    ),
                    "partition_id",
                    "left_anti",
                )
            lineage = lineage_rows(lineage_src, job_id)
            sink.write_lineage(lineage)
            stats = summary(latest).collect()[0].asDict()
        finally:
            latest.unpersist()
        # incremental watermark: max over the (tiny) lineage table — a
        # per-bucket max(warc_ts) carried through the extract's output rows
        # (operators/extract.py RAW_EXTRACTED_SCHEMA) — NOT a second scan of
        # the 100 TB input. Note select_pages can drop a doc's rows, so this
        # can trail the input max; the monotone max() with the previous
        # watermark below keeps resume idempotent either way.
        new_wm = (
            sink.read_lineage(spark)
            .agg(F.max("max_warc_ts").alias("wm"))
            .collect()[0]
            .wm
        )
        meta: dict = {"summary": stats}
        if new_wm is not None:
            meta["watermark"] = max(
                str(new_wm), watermark or ""
            )
        elif watermark is not None:
            meta["watermark"] = watermark
        sink.commit_snapshot(job_id, meta)
        return {"job_id": job_id, **stats}
