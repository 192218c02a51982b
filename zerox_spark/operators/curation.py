"""Corpus curation — the end-to-end training-data pipeline composed from
the engine's operators:

    documents → quality gate → exact dedup (keep min doc_id)
              → near-dup removal (MinHash+LSH candidates, exact-Jaccard
                verified; keep min of each pair)
              → token accounting

One lazy plan, shaped for 100 TB:

- the quality gate is a pure-column FILTER (textstats.quality_col), not a
  join — the expensive shingle/minhash stages see only survivors and the
  text column flows through the plan once;
- exact dedup is one hash aggregate (groupBy text, min doc_id and min
  quality) — one shuffle, and the map-side partial aggregate collapses
  duplicates before it;
- near-dup pairs come from ``dedup_minhash_pairs`` (banded LSH bucket join
  → candidates-only exact verification), NOT the raw bigram-shingle
  self-join — common shingles ("of the") give the raw join posting lists
  that explode quadratically at 100 TB, while the LSH path's cost stays
  ∝ candidates. The contract is PROBABILISTIC: candidates are verified by
  exact Jaccard, so precision is exact, but candidate recall near the
  threshold is governed by the band/row configuration (< 1 for pairs just
  above it) — on corpora beyond the test set the LSH stage can under-delete
  pairs the exact shingle join would catch. ``dedup_ngram_pairs`` remains
  the exact test-scale ground truth for small corpora;
- token accounting is two inline column expressions, not a join.

The deduped corpus is consumed by both the pair generator and the final
anti-join; Spark's ReuseExchange covers the identical shuffle subtrees, and
a production run of this query materializes the post-dedup corpus as a
staged table anyway (the usual multi-stage curation layout).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from zerox_spark.operators.dedup import dedup_minhash_pairs
from zerox_spark.operators.textstats import (
    bpe_tokens_col,
    quality_col,
    ws_tokens_col,
)

QUALITY_MIN = 0.5
JACCARD_MAX = 0.5


def stratified_sample(
    docs: DataFrame,
    rates_pct: dict[str, int],
    default_pct: int = 100,
) -> DataFrame:
    """Deterministic mod-based stratified sampling by ``lang`` — the
    data-mixing primitive (down-weight over-represented strata, keep rare
    ones whole). A row survives iff ``doc_id % 100 < rate_pct(lang)``:
    replay-stable (same rows on every run and on task retry — rand() would
    not be), shuffle-free (a pure filter the scan can evaluate), and
    exactly restatable in oracle SQL. Rates are integer percents."""
    rate = F.lit(default_pct)
    for stratum, pct in sorted(rates_pct.items()):
        rate = F.when(F.col("lang") == stratum, F.lit(pct)).otherwise(rate)
    return docs.filter(F.col("doc_id") % 100 < rate)


def corpus_mix(docs: DataFrame) -> DataFrame:
    """Token-mix accounting per (lang, source) with ROLLUP subtotals —
    what a data-mixing decision reads (doc counts, whitespace-token
    totals per stratum plus marginals and the grand total). One
    map-side-combined aggregate."""
    return (
        docs.rollup("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(ws_tokens_col()).cast("bigint").alias("total_ws_tokens"),
        )
        .select("lang", "source", "n_docs", "total_ws_tokens")
    )


def curate(
    docs: DataFrame,
    quality_min: float = QUALITY_MIN,
    cluster_dedup: bool = False,
) -> DataFrame:
    """(doc_id, ws_tokens, bpe_tokens, quality) for documents that survive
    the quality gate, exact dedup, and near-dup removal.

    ``cluster_dedup=True`` removes near-dups by CONNECTED COMPONENT (one
    survivor per transitive cluster — closes a~b, b~c chains the default
    pairwise loser-removal can leave partially deduped); default pairwise
    matches the test corpus exactly (after exact dedup its near-dup graph
    has no chains) and is the oracle-checked path."""
    gated = docs.select(
        "doc_id", "text", quality_col().alias("quality")
    ).filter(F.col("quality") >= quality_min)

    # exact dedup: keep min doc_id per text — one shuffle, as a hash
    # AGGREGATE rather than the former row_number window: quality is a
    # pure function of text, so min(doc_id)+min(quality) per text is
    # row-identical to "first row by doc_id" (oracle-hash-checked), the
    # partial agg collapses duplicates BEFORE the shuffle (guide §2.3 —
    # at scale the exchange carries distinct texts, not all rows), and
    # the post-shuffle work the plan's FOUR consumers of ``deduped``
    # re-execute on top of the reused exchange is a hash-agg probe, not
    # a full sort + row_number per consumer
    deduped = (
        gated.groupBy("text")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min("quality").alias("quality"),
        )
        .select("doc_id", "text", "quality")
    )

    # near-dup removal: for each pair at jaccard ≥ JACCARD_MAX, the larger
    # doc_id is removed (anti-join against the loser set); pairs come from
    # the sub-quadratic LSH path (see module docstring)
    pairs = dedup_minhash_pairs(deduped.select("doc_id", "text"), JACCARD_MAX)
    if cluster_dedup:
        from zerox_spark.operators.dedup import connected_components

        comps = connected_components(pairs)
        losers = comps.filter(
            F.col("doc_id") != F.col("component")
        ).select("doc_id")
    else:
        losers = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    kept = deduped.join(losers, "doc_id", "left_anti")

    return kept.select(
        "doc_id",
        ws_tokens_col().alias("ws_tokens"),
        bpe_tokens_col().alias("bpe_tokens"),
        "quality",
    )
