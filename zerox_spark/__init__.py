"""zerox_spark — a PySpark-native main-content / document-extraction engine.

A from-scratch, Spark-first re-expression of the query semantics of
getomni-ai/zerox (document → per-page markdown extraction): the page data
model, maintainFormat cross-page fold, markdown output dialect, error
containment, and aggregation semantics are preserved (see SURVEY.md for the
operator-by-operator mapping with reference file:line citations), while the
hot per-page operator — a vision-LLM call in the reference — is replaced by a
deterministic DOM-heuristic / layout-analysis extractor so that output is
byte-identical and reproducible at 10^12-document scale.

Architecture (all DataFrame-native):

    Iceberg/parquet scan of pages(url, warc_ts, html, text, lang)
      → resume filter: skip the buckets committed lineage lists
      → salted content-hash repartition (skew handling), sorted so
        copies of one payload under many urls are extracted once
      → fast-path routing (trusted pre-extracted text bypasses the DOM pass)
      → mapInArrow(extract_pages)   # record batches in and out, the hot
                                    # loop; the maintainFormat fold runs
                                    # per doc
      → write extracted(url, page_no, markdown, spans)
      → one per-bucket aggregate → lineage + job summary
"""

__version__ = "0.1.0"

from zerox_spark.session import get_spark  # noqa: F401
