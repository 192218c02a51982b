"""Example: extract a crawl snapshot end to end.

    python examples/batch_extraction.py [sf_dir] [output_dir]

Shows the three API levels: the distributed pipeline, the SQL surface, and
the single-document convenience call.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from zerox_spark.api import zerox
from zerox_spark.functions import register_all
from zerox_spark.pipeline import ExtractionPipeline, PipelineConfig
from zerox_spark.session import get_spark
from zerox_spark.sinks import ParquetSnapshotSink
from zerox_spark.synth import synth_pages


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="zx_example_")

    spark = get_spark("local[8]", app_name="zerox-example")
    spark.sparkContext.setLogLevel("ERROR")

    # 1) the distributed pipeline (what a cluster job runs)
    pages = synth_pages(spark, sf_dir)  # or job.main's parquet/Iceberg scan
    pipe = ExtractionPipeline(PipelineConfig(num_partitions=8, num_buckets=16))
    stats = pipe.run(spark, pages, ParquetSnapshotSink(out))
    print("pipeline:", stats)

    # 2) the SQL surface
    register_all(spark)
    pages.createOrReplaceTempView("pages")
    spark.sql(
        "SELECT url, zerox_page_count(html) AS n_pages, "
        "substring(zerox_extract(html), 1, 60) AS preview "
        "FROM pages LIMIT 5"
    ).show(truncate=False)

    # 3) one document, no cluster
    doc = zerox(
        content=b"<html><body><article><h1>Hello</h1><p>world</p></article></body></html>"
    )
    print("single doc:", doc.markdown, "|", doc.summary)
    spark.stop()


if __name__ == "__main__":
    main()
