"""Sources: scans and format-detection predicates (SURVEY.md §2.1).

The reference's source stage is downloadFile + mime/extension resolution +
magic-byte sniffing (node-zerox/src/utils/file.ts:32-98). Table-native
equivalents:

- the primary scan, a parquet path or an Iceberg table of the input_hint
  shape, is ``job.main``'s own read (``spark.read.parquet`` or
  ``spark.read.table``). Predicate pushdown / column pruning come free from
  Catalyst (filter on lang/warc_ts before any UDF and it reaches the scan).
- ``read_html_dir``: the raw-file analog of downloadFile — a directory of
  HTML/PDF files via Spark's binaryFile source, mapped into the pages
  schema (url = file path, warc_ts = modificationTime). For crawl dumps not
  yet in a table.
- ``is_valid_url``: the isValidUrl column predicate. Magic-byte routing
  (checkIsPdfFile / checkIsCFBFile, file.ts:89-98) happens per document in
  the extract UDF, by the ``ROUTES`` table in ``extract/core.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F


def read_html_dir(spark: SparkSession, path: str) -> DataFrame:
    """Directory/glob of raw files → pages rows (binaryFile source).

    binaryFile gives (path, modificationTime, length, content); pruning
    still applies — filters on path/length are pushed to the file index.
    """
    raw = spark.read.format("binaryFile").load(path)
    return raw.select(
        F.col("path").alias("url"),
        F.col("modificationTime").alias("warc_ts"),
        F.col("content").alias("html"),
        F.lit("").alias("text"),
        F.lit("").alias("lang"),
    )


def is_valid_url(col: Column) -> Column:
    """http(s) URL predicate (isValidUrl, node-zerox/src/utils/common.ts:39-47;
    py_zerox/pyzerox/processor/utils.py:36-46)."""
    return col.rlike("^https?://")
