"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in zerox_spark.queries; see SURVEY.md §2 for the
operator inventory each entry maps to.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction pipeline (synthesized Common-Crawl-style
    pages derived from sf0.001 documents → per-page markdown rows)."""
    from zerox_spark.pipeline import ExtractionPipeline, PipelineConfig
    from zerox_spark.synth import synth_pages

    pages = synth_pages(spark, "/root/testdata/sf0.001")
    pipe = ExtractionPipeline(
        PipelineConfig(num_partitions=8, num_buckets=16)
    )
    return pipe.transform(pages).select(
        "url", "page_no", "markdown", "content_length", "status"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from zerox_spark.queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from zerox_spark.queries import ORACLE_SQL

    return dict(ORACLE_SQL)
