"""Benchmark decontamination — n-gram overlap between a training corpus and
an evaluation/benchmark set.

Every serious training-data pipeline runs this before training: any document
sharing a long word n-gram with a benchmark is flagged (and usually dropped)
so evaluation numbers aren't contaminated by memorized test items. The
standard formulation (used by the public FineWeb/Dolma/GPT-3 appendix
descriptions) is exact long-n-gram match — n around 8-13 words — because at
that length false positives are negligible.

Scale shape (100 TB): the benchmark side is SMALL (eval sets are 10^4-10^6
items) — its distinct n-gram table broadcasts; the corpus side explodes to
n-grams map-side and semi-joins against the broadcast WITHOUT shuffling the
crawl. The only wide operation is the per-doc hit aggregation, keyed by
doc_id — the same key the corpus is already bucketed on, so with a bucketed
input even that agg is shuffle-free. No all-pairs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from zerox_spark.operators.dedup import _shingles

DEFAULT_N = 8


def benchmark_ngrams(benchmark: DataFrame, n: int = DEFAULT_N, text_col: str = "text") -> DataFrame:
    """Benchmark rows → distinct n-gram table (the broadcast side)."""
    grams = _shingles(F.lower(F.col(text_col)), n, distinct=False)
    return benchmark.select(F.explode(grams).alias("gram")).distinct()


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = DEFAULT_N,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_hits, contaminated): per document, how many DISTINCT
    benchmark n-grams it contains, and the keep/drop flag. Documents with
    fewer than ``n`` words trivially pass (no grams)."""
    grams = benchmark_ngrams(benchmark, n, text_col)
    # order matters at scale: the broadcast match FILTERS FIRST, so the
    # only rows that ever shuffle (for the per-doc distinct count) are the
    # matches — rare by construction. A distinct() before the join would
    # shuffle every exploded n-gram of the whole crawl instead.
    doc_grams = docs.select(
        "doc_id",
        F.explode(_shingles(F.lower(F.col(text_col)), n, distinct=False))
        .alias("gram"),
    ).join(F.broadcast(grams), "gram")
    hits = doc_grams.groupBy("doc_id").agg(
        F.countDistinct("gram").alias("n_hits")
    )
    return (
        docs.select("doc_id")
        # the join-back is a plain key join — hits size is DATA-DEPENDENT
        # (a benchmark full of boilerplate 8-grams can match a large slice
        # of a crawl), so forcing a broadcast here would turn contamination
        # skew into a driver OOM; AQE picks broadcast itself when hits is
        # actually small, and the key is the corpus bucketing key anyway
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).cast("int").alias("n_hits"),
            F.when(F.coalesce("n_hits", F.lit(0)) > 0, 1)
            .otherwise(0)
            .cast("int")
            .alias("contaminated"),
        )
    )


CANDIDATE_GRAM_N = 4  # short enough that ~10% word edits leave survivors
CANDIDATE_MIN_GRAMS = 2  # ≥2 shared 4-grams → candidate (noise filter)


def decontaminate_fuzzy(
    docs: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    max_gram_df: int | None = None,
) -> DataFrame:
    """NEAR-duplicate contamination: exact long-n-gram matching (above)
    misses lightly-edited test items — whitespace normalization, swapped
    numbers, paraphrased stems. Verification measures CONTAINMENT of the
    benchmark item (|A∩B| / |B| over bigram shingles), not symmetric
    Jaccard: a 40-word test item quoted inside a 400-word page is ~0.9
    contained but ~0.1 Jaccard — the symmetric measure would ship it to
    training. Candidates come from TWO benchmark-broadcast passes, each
    covering the other's blind spot:

    - MinHash-LSH band join (whole-document near-duplicates — cheap and
      high-precision, but bands of a LARGE doc don't match an item
      embedded in it)
    - short-n-gram hits (docs sharing ≥ CANDIDATE_MIN_GRAMS benchmark
      4-grams — survives the word edits that kill every 8-gram AND fires
      for embedded items, at the cost of more candidates to verify)

    Output: (doc_id, fuzzy_hits, fuzzy_contaminated) — distinct benchmark
    items each corpus doc contains at ≥ threshold, and the drop flag.

    Scale shape (100 TB): both candidate passes broadcast the eval-sized
    benchmark side; the corpus streams past them map-side, so the only
    shuffled rows are candidates (filtered BEFORE any shuffle, the same
    ordering the exact pass uses) and the per-doc hit agg on the corpus
    bucketing key."""
    from zerox_spark.operators.dedup import band_table, minhash_signatures

    corpus = docs.select("doc_id", F.col(text_col).alias("text"))
    bench = benchmark.select(
        F.col("doc_id").alias("bench_id"), F.col(text_col).alias("text")
    )
    corpus_bands = band_table(minhash_signatures(corpus))
    bench_bands = band_table(
        minhash_signatures(bench.withColumnRenamed("bench_id", "doc_id"))
    ).withColumnRenamed("doc_id", "bench_id")
    band_cands = corpus_bands.join(
        F.broadcast(bench_bands), ["band", "sig_hash"]
    ).select("doc_id", "bench_id")
    # DISTINCT grams on both sides: a benchmark 4-gram repeated inside
    # one corpus doc is one shared gram, not several — the
    # CANDIDATE_MIN_GRAMS noise filter counts distinct evidence
    short = _shingles(F.lower(F.col("text")), CANDIDATE_GRAM_N)
    bench_grams = bench.select(
        "bench_id", F.explode(short).alias("gram")
    ).distinct()
    matched = corpus.select(
        "doc_id", F.explode(short).alias("gram")
    ).join(F.broadcast(bench_grams), "gram")
    if max_gram_df is not None:
        # 10^12-scale knob (same shape as dedup's max_bucket): ubiquitous
        # natural-language 4-grams ('one of the most') match a large
        # fraction of any crawl — cap the per-gram matched-doc count so
        # candidate volume stays ∝ genuine overlap, not corpus size. A
        # contaminated doc still surfaces through its RARE grams (a test
        # item is never made of stopwords alone). None keeps the exact
        # test-scale contract the recall-floor oracle checks.
        from zerox_spark.operators.dedup import drop_viral_buckets

        matched = drop_viral_buckets(matched, ["gram"], max_gram_df)
    gram_cands = (
        matched.groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("_g"))
        .filter(F.col("_g") >= CANDIDATE_MIN_GRAMS)
        .select("doc_id", "bench_id")
    )
    candidates = band_cands.unionByName(gram_cands).distinct()
    doc_sh = corpus.select("doc_id", _shingles(F.col("text")).alias("sha"))
    bench_sh = bench.select(
        "bench_id", _shingles(F.col("text")).alias("shb")
    )
    n_inter = F.size(F.array_intersect(F.col("sha"), F.col("shb")))
    verified = (
        candidates.join(doc_sh, "doc_id")
        .join(F.broadcast(bench_sh), "bench_id")
        .withColumn(
            "containment",
            n_inter / F.greatest(F.size("shb"), F.lit(1)),
        )
        .filter(F.col("containment") >= threshold)
    )
    hits = verified.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("fuzzy_hits")  # one row per (doc, bench)
    )
    return (
        docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("fuzzy_hits", F.lit(0))
            .cast("int")
            .alias("fuzzy_hits"),
            F.when(F.coalesce("fuzzy_hits", F.lit(0)) > 0, 1)
            .otherwise(0)
            .cast("int")
            .alias("fuzzy_contaminated"),
        )
    )


def edited_benchmark_variants(
    benchmark: DataFrame, id_offset: int = 1_000_000
) -> DataFrame:
    """Deterministically EDITED copies of benchmark items — the corpus
    shape fuzzy decontamination exists for (a verbatim slice is caught by
    the exact 8-gram pass too; an edited one is not). Two seed-free,
    restatable transforms:

    - adjacent-word swaps at every 8th position: swapped positions
      {8k, 8k+1} leave at most 6 consecutive clean positions, so NO
      8-gram window survives anywhere (the exact pass goes fully blind
      — pinned in tests), while only ~3 of every 8 verification bigrams
      corrupt — containment stays ≈0.62, above the 0.5 drop threshold
    - digit renumbering (translate 0-9 → 5-9,0-4 — the "same question,
      renumbered" benchmark-editing pattern)

    Output: (doc_id + id_offset, edited text). Used by the edited_fuzzy
    recall floor (queries.q_recall_floors): decontaminate_fuzzy over
    these MUST flag ≥ EDITED_FUZZY_FLOOR of them, or the floor row's
    hash breaks."""
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    # transform index i is 0-based; element_at is 1-based — so
    # element_at(words, i + 2) is the NEXT word and element_at(words, i)
    # the PREVIOUS. Pairs (8k, 8k+1) swap; the boundary guard on the
    # forward swap is mirrored automatically (if 8k+1 exists, 8k had a
    # next word).
    swapped = F.transform(
        words,
        lambda w, i: F.when(
            (i % 8 == 0) & (i + 2 <= n), F.element_at(words, i + 2)
        )
        .when(i % 8 == 1, F.element_at(words, i))
        .otherwise(w),
    )
    edited = F.translate(
        F.array_join(swapped, " "), "0123456789", "5678901234"
    )
    return benchmark.select(
        (F.col("doc_id") + id_offset).alias("doc_id"),
        edited.alias("text"),
    )
