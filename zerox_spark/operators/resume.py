"""Resume-from-checkpoint: reprocess only what a failed run didn't commit.

SURVEY.md §4.2: the reference contains error pages *within* a run
(ErrorMode.IGNORE); across runs its unit of retry is the whole document. At
10^12 documents the unit must be the partition: a restarted job

1. reads, on the driver, the buckets that prior attempts of the same
   job_id committed with status SUCCESS (``lineage_state`` of the sink;
   PARTIAL buckets re-run so their ERROR rows get another attempt — cheap,
   they are rare),
2. drops the input rows whose stable url-bucket is in that set,
3. reprocesses only the remainder; the sink's dynamic-partition overwrite
   (sinks.py) makes re-emission of a bucket idempotent (latest warc_ts wins
   per url inside the extract, so e08 duplicate-url rows are stable too).

The committed set has at most ``num_buckets`` ids, so it is a literal
``NOT IN`` filter evaluated per input row: no join, no broadcast, no Spark
job. ``partition_bucket`` must match the bucket used at write time
(operators/extract.py).
"""

from __future__ import annotations

from collections.abc import Collection

from pyspark.sql import DataFrame

from zerox_spark.operators.repartition import partition_bucket


def filter_uncommitted(
    pages: DataFrame, committed: Collection[int], num_buckets: int
) -> DataFrame:
    """Input minus the rows of the ``committed`` bucket ids; unchanged when
    none are committed. xxhash64 is never null, so neither is a bucket."""
    if not committed:
        return pages
    return pages.filter(
        ~partition_bucket(num_buckets).isin(sorted(committed))
    )
