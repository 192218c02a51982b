"""The hot-loop operator: pages → per-page markdown rows via mapInPandas.

Design notes (scale-first):

- ONE ``mapInPandas`` over the (repartitioned) scan. The trusted-text fast
  path and the %PDF layout branch are routed **inside** the vectorized UDF
  rather than as a DataFrame filter+union: a plan-level branch would scan the
  input twice (or force a cache) and union two UDF stages — strictly worse at
  100 TB than one pass with a per-row branch that costs nanoseconds. The
  reference's routing (node-zerox/src/index.ts:161-213) is likewise a
  per-document switch, not a second pass.
- Arrow batch size is capped (session.py) so a batch of heavy rows cannot
  blow executor memory; within a batch, work is per-document Python over
  numpy/str — no JVM round-trips.
- Error containment is row-level (ErrorMode.IGNORE,
  node-zerox/src/index.ts:338-352): one ERROR row per failed doc, the task
  never dies.
- Each output row carries ``partition_id`` — the **logical url bucket**
  (operators/repartition.py partition_bucket), the shared id space of the
  lineage table, the resume filter and the sink's overwrite granularity,
  projected JVM-side over the output url after the UDF (the bucket never
  crosses into Python) — plus a batch-amortized ``elapsed_ms`` so lineage
  (operators/lineage.py) can aggregate per-bucket metrics without a second
  timing pass. (Physical task ids are useless across runs; stable url
  buckets survive restarts.)
"""

from __future__ import annotations

import time
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from zerox_spark.extract.core import ExtractConfig, extract_document
from zerox_spark.schema import EXTRACTED_SCHEMA

# extract output = the canonical per-page schema (schema.py, derived — not
# re-declared, so the two can't drift) + lineage carrier columns
RAW_EXTRACTED_SCHEMA = T.StructType(
    list(EXTRACTED_SCHEMA.fields)
    + [
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("elapsed_ms", T.LongType(), False),
        # crawl-provenance carrier: lets lineage compute the incremental
        # watermark (max warc_ts per bucket) from the WRITTEN files, so
        # pipeline.run never re-scans the 100 TB input for it
        T.StructField("warc_ts", T.TimestampType(), True),
    ]
)

_COLS = [f.name for f in RAW_EXTRACTED_SCHEMA.fields]
# what the UDF yields: everything but partition_id, projected JVM-side
_UDF_SCHEMA = T.StructType(
    [f for f in RAW_EXTRACTED_SCHEMA.fields if f.name != "partition_id"]
)
_UDF_COLS = _UDF_SCHEMA.fieldNames()


_NO_ROW = object()  # "no previous row": unequal to any (payload, text)


def _extract_iter(
    batches: Iterator[pd.DataFrame], config: ExtractConfig
) -> Iterator[pd.DataFrame]:
    # an identical neighbouring row reuses its predecessor's pages:
    # extract_document is a pure function of (payload, text, config), and
    # salted_repartition sorts each partition on the content hash, so
    # replicas of one payload under many urls arrive adjacent. Equality is
    # exact (bytes and str), never the hash; memory is one document's
    # pages, which the per-document budgets bound. On unsorted input the
    # reuse simply never fires.
    prev_key: object = _NO_ROW
    pages: list = []
    for pdf in batches:
        t0 = time.monotonic()
        # columnar accumulation: pd.DataFrame(dict-of-lists) skips the
        # row-tuple transpose pandas does for a list-of-tuples input
        c_url: list = []
        c_no: list = []
        c_md: list = []
        c_len: list = []
        c_status: list = []
        c_error: list = []
        c_spans: list = []
        c_ts: list = []
        for url, html, text, ts in zip(
            pdf["url"], pdf["html"], pdf["text"], pdf["warc_ts"]
        ):
            payload = bytes(html) if html is not None else None
            if prev_key != (payload, text):
                prev_key = (payload, text)
                pages = extract_document(payload, text, config)
            for page in pages:
                c_url.append(url)
                c_no.append(page.page_no)
                c_md.append(page.markdown)
                c_len.append(page.content_length)
                c_status.append(page.status)
                c_error.append(page.error)
                c_spans.append(
                    [
                        {"kind": k, "start": s, "end": e, "score": sc}
                        for k, s, e, sc in page.spans
                    ]
                )
                c_ts.append(ts)
        n_rows = len(c_url)
        elapsed_us = int((time.monotonic() - t0) * 1_000_000)
        # amortize the batch's wall time across its rows (µs resolution,
        # remainder on row 0) so lineage sums are correct under ANY
        # grouping of rows into logical buckets (lineage.py)
        c_elapsed = [0] * n_rows
        if n_rows:
            per_row = elapsed_us // n_rows // 1000
            c_elapsed = [per_row] * n_rows
            c_elapsed[0] = elapsed_us // 1000 - per_row * (n_rows - 1)
        yield pd.DataFrame(
            {
                "url": c_url,
                "page_no": c_no,
                "markdown": c_md,
                "content_length": c_len,
                "status": c_status,
                "error": c_error,
                "spans": c_spans,
                "elapsed_ms": c_elapsed,
                "warc_ts": c_ts,
            },
            columns=_UDF_COLS,
        )


def extract_pages(
    pages: DataFrame,
    config: ExtractConfig | None = None,
    num_buckets: int = 64,
    render=None,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → raw extracted rows.

    ``num_buckets`` sizes the logical url-bucket space (lineage/resume/
    overwrite granularity) — on a real cluster set it ≥ executor count so a
    resume can skip work at sub-executor granularity.

    Catalyst prunes unreferenced input columns (``lang`` never reaches
    Python unless a prior operator used it) — check with ``.explain``: the
    parquet ReadSchema excludes it. ``warc_ts`` IS carried through as the
    provenance/watermark carrier column (see RAW_EXTRACTED_SCHEMA).

    ``render`` fuses corpus synthesis into the same UDF: a generator
    ``render(batches) → pages frames`` (e.g. ``synth.pages_frames`` bound
    to a family's row_fn) that turns the frames of ``pages`` — then any
    input, such as a documents scan — into pages frames inside the worker.
    The chained ``extract_pages(synth_pages(...))`` shape moves every
    synthesized payload across the JVM↔Python Arrow boundary three times
    (out of the synth worker, into the extract worker, results out again);
    fused it crosses once — you control how many columns cross, and also
    how many TIMES they cross. Measured at sf0.1/local[32]: pdf_crypt
    2.48 s → 1.31 s. Same rows as the chained shape: the same renderer,
    the same ``_extract_iter`` loop, and ``partition_id`` is projected
    from the output url in both.
    """
    from zerox_spark.operators.repartition import partition_bucket

    config = config or ExtractConfig()
    if render is None:
        pages = pages.select("url", "html", "text", "warc_ts")
    out = pages.mapInPandas(
        lambda it: _extract_iter(render(it) if render else it, config),
        schema=_UDF_SCHEMA,
    )
    # the bucket is a pure function of url, which passes through the UDF
    # unchanged: computing it here keeps it JVM-side (no extra column
    # crosses into Python) and needs no url before the UDF
    return out.select(
        *[
            partition_bucket(num_buckets).alias(c) if c == "partition_id"
            else c
            for c in _COLS
        ]
    )


def pages_join_expr(delim: str):
    """THE doc-assembly aggregate: markdown pages joined in page order
    (array_sort on (page_no, markdown) structs → deterministic regardless
    of partitioning). Shared by the doc-agg query, keyword matching and
    structured extraction so the ordering/null contract lives once."""
    per_page = F.struct("page_no", "markdown")
    return F.array_join(
        F.transform(
            F.array_sort(F.collect_list(per_page)), lambda s: s.markdown
        ),
        delim,
    )
