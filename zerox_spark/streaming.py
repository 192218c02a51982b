"""Structured Streaming variant of the extraction pipeline.

The reference is a batch pipeline (SURVEY.md §2.9: no streaming machinery;
maintainFormat is its only stateful op, and it is per-document, not
cross-event). For crawl feeds that arrive continuously, the same extraction
operator composes with readStream unchanged:

    pages stream (file source / Kafka)          — same input_hint schema
      → extract_pages(...)                      — mapInArrow works on
                                                  streaming DataFrames as-is
      → writeStream parquet + checkpoint        — exactly-once per epoch

Design notes:
- No shuffle in the streaming plan: salted repartition and the latest-
  warc_ts dedupe are batch-compaction concerns; a stream processes each
  micro-batch's files as delivered. The per-document fold still applies
  (all pages of a doc arrive in one row).
- ``stream_metrics`` shows the watermark + windowed-aggregation shape for
  late data: pages/bytes per event-time window, tolerating
  ``late_threshold`` of out-of-order arrival.
- Checkpointing gives resume-on-restart for free (the streaming analog of
  the batch lineage/resume-filter machinery in operators/resume.py).
- ``stream_assemble_documents`` is the engine's one pandas boundary:
  ``applyInPandasWithState`` has no Arrow form in this Spark. Every other
  map operator and vectorized UDF takes and yields Arrow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from zerox_spark.extract.core import ExtractConfig
from zerox_spark.operators.extract import extract_pages
from zerox_spark.schema import PAGES_SCHEMA


def read_pages_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream of pages parquet (schema fixed = input_hint)."""
    return spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir)


def stream_extract(
    pages_stream: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    config: ExtractConfig | None = None,
    num_buckets: int = 64,
    available_now: bool = True,
) -> StreamingQuery:
    """Extraction over a stream; availableNow=True drains the backlog and
    stops (batch-compatible testing mode), False runs continuously."""
    extracted = extract_pages(
        pages_stream, config or ExtractConfig(maintain_format=True), num_buckets
    )
    writer = (
        extracted.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


ASSEMBLED_SCHEMA = "url string, n_pages int, doc_markdown string"
_ASSEMBLE_STATE_SCHEMA = "pages_json string"


def _make_assemble_fn(ttl_ms: int | None):
    """Custom stateful operator body (applyInPandasWithState): accumulate a
    url's pages across micro-batches, re-emit the assembled document (A1
    join in page order + maintainFormat fold) whenever new pages arrive.
    With a TTL, an idle url's state times out and is REMOVED (its last
    emitted document already reflects every page seen — eviction loses
    nothing downstream)."""

    def fn(key, pdfs, state):
        import json

        import pandas as pd

        from zerox_spark.operators.fold import apply_maintain_format

        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            pages = {int(k): v for k, v in json.loads(state.get[0]).items()}
        else:
            pages = {}
        for pdf in pdfs:
            for page_no, markdown in zip(pdf["page_no"], pdf["markdown"]):
                pages[int(page_no)] = markdown
        state.update((json.dumps({str(k): v for k, v in pages.items()}),))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        ordered = [(no, pages[no], "SUCCESS") for no in sorted(pages)]
        folded = apply_maintain_format(ordered)
        doc = "\n\n".join(md for _, md, _ in folded)
        yield pd.DataFrame(
            {"url": [key[0]], "n_pages": [len(pages)], "doc_markdown": [doc]}
        )

    return fn


def stream_assemble_documents(
    extracted_stream: DataFrame, ttl_ms: int | None = None
) -> DataFrame:
    """Cross-batch document assembly — the engine's custom stateful
    streaming operator (``applyInPandasWithState``): pages of a url may
    arrive in different micro-batches (multi-part crawl fetches); per-url
    state accumulates them and each update emits the current assembled,
    fold-consistent document. State is partitioned by url (same key as
    every other per-document operation) so it scales with distinct
    IN-FLIGHT urls — which is only true if idle urls leave the store:
    pass ``ttl_ms`` for any CONTINUOUS deployment (ProcessingTimeTimeout
    evicts a url's state after that idle period; its last emitted doc is
    already complete, so eviction loses nothing). The None default keeps
    bounded availableNow drains — the sandbox/batch-drain mode — simple.

    This is the "custom stateful streaming op" row of PARITY.md; the job
    CLI does not run it (``--streaming`` writes per-page rows)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return (
        extracted_stream.select("url", "page_no", "markdown")
        .groupBy("url")
        .applyInPandasWithState(
            _make_assemble_fn(ttl_ms),
            outputStructType=ASSEMBLED_SCHEMA,
            stateStructType=_ASSEMBLE_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=timeout,
        )
    )


def stream_metrics(
    pages_stream: DataFrame,
    window: str = "1 minute",
    late_threshold: str = "2 minutes",
) -> DataFrame:
    """Watermarked tumbling-window ingest metrics (docs + bytes per
    warc_ts window); late rows beyond the watermark are dropped — the
    standard late-data contract."""
    return (
        pages_stream.withWatermark("warc_ts", late_threshold)
        .groupBy(F.window("warc_ts", window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.length("html")).alias("bytes"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "docs",
            "bytes",
        )
    )
