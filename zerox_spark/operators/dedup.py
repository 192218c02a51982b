"""Deduplication operators for training-data pipelines.

Four strategies, cheapest-first, all DataFrame-native:

- exact:      hash-groupBy on normalized text — one shuffle, map-side
              partial agg; the 100 TB default first pass.
- ngram:      word-n-gram Jaccard via shingle explode + self-join on the
              shingle — exact near-dup pairs; quadratic in cluster size but
              the join only touches pairs sharing ≥1 shingle. Used as the
              verification stage of minhash and as the oracle-checkable
              ground truth at test scale.
- minhash:    MinHash + LSH banding — the scale path. k permutation hashes
              per doc (the block-bounded signature kernel), band signatures
              → bucket join on (band, signature) → candidate pairs (only
              docs sharing a band bucket) → exact-Jaccard verification of
              candidates.
              Sub-quadratic: cost ∝ candidates, not pairs.
- simhash:    64-bit SimHash per doc + banded hamming candidate search.

Dedup corpus note: the sandbox documents table is ~all-unique, so
``with_injected_duplicates`` derives a corpus with deterministic exact +
near duplicates (id offsets DUP_EXACT_OFFSET/DUP_NEAR_OFFSET) — the same
derivation is stated in SQL by the oracle (see __spark_entry__.py), keeping
every dedup operator value-checkable end to end.
"""

from __future__ import annotations

from functools import reduce
from operator import and_
from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import Column, DataFrame, Window, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_type

# injected-duplicate derivation (mirrored in oracle SQL — keep in sync)
DUP_EXACT_MOD = 10
DUP_EXACT_EQ = 4
DUP_EXACT_OFFSET = 2_000_000
DUP_NEAR_MOD = 10
DUP_NEAR_EQ = 3
DUP_NEAR_OFFSET = 1_000_000
DUP_NEAR_DROP_WORDS = 2

NGRAM_N = 2
JACCARD_THRESHOLD = 0.5

MINHASH_K = 128  # permutations
LSH_BANDS = 32  # 32 bands × 4 rows: P[miss | s=0.5] ≈ (1-0.5^4)^32 ≈ 12%…
LSH_ROWS = MINHASH_K // LSH_BANDS
# …so the verify stage uses the SAME exact-jaccard test as the ngram
# operator; at the corpus' actual near-dup similarity (~0.9+) miss
# probability is < 1e-10.
# 31-bit Mersenne prime: keeps a*h + b within 62 bits so the modular hash
# arithmetic stays inside ANSI-safe int64 (no overflow, no bigint UDF)
MERSENNE_PRIME = (1 << 31) - 1

# 64-bit SimHash cut into 8 bands of 8 bits: a pair within hamming 7
# agrees exactly on ≥1 band (pigeonhole), so banding misses none at 7
SIMHASH_MAX_HAMMING = 7


def drop_viral_buckets(
    df: DataFrame, keys: list[str], max_bucket: int
) -> DataFrame:
    """THE viral-bucket skew guard shared by every LSH candidate family
    (minhash bands, embedding hash buckets): groups of ``keys`` larger
    than ``max_bucket`` are dropped before a self-join would go quadratic
    on them. One map-side-combined count + a semi-join."""
    small = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") <= max_bucket)
        .select(*keys)
    )
    return df.join(small, keys, "left_semi")


def bucket_pairs(
    buckets: DataFrame, id_col: str, keys: list[str], max_bucket: int | None
) -> DataFrame:
    """Distinct (id_a < id_b) pairs of rows that agree on ``keys`` — THE
    LSH candidate self-join (MinHash bands, embedding hash tables), behind
    the viral-bucket guard when ``max_bucket`` is set."""
    if max_bucket is not None:
        buckets = drop_viral_buckets(buckets, keys, max_bucket)
    l, r = buckets.alias("l"), buckets.alias("r")
    on = [F.col(f"l.{k}") == F.col(f"r.{k}") for k in keys]
    on.append(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
    return (
        l.join(r, reduce(and_, on))
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def with_injected_duplicates(docs: DataFrame) -> DataFrame:
    """documents → corpus with deterministic exact + near duplicates.

    Precondition: max(doc_id) < DUP_NEAR_OFFSET (1M) — the injected ids are
    base + offset, so larger id spaces would collide and doc_id would stop
    being a key (silently, since the oracle applies the same derivation).
    The sandbox tables satisfy this; a production corpus would derive the
    offsets from max(doc_id) instead of constants."""
    base = docs.select("doc_id", "text")
    exact = (
        base.filter(F.col("doc_id") % DUP_EXACT_MOD == DUP_EXACT_EQ)
        .select(
            (F.col("doc_id") + DUP_EXACT_OFFSET).alias("doc_id"), F.col("text")
        )
    )
    words = F.split(F.col("text"), " ")
    near = (
        base.filter(F.col("doc_id") % DUP_NEAR_MOD == DUP_NEAR_EQ)
        .select(
            (F.col("doc_id") + DUP_NEAR_OFFSET).alias("doc_id"),
            F.array_join(
                # greatest(…, 0): a ≤2-word doc would give slice a NEGATIVE
                # length — a Spark runtime error (the sequence(1,0) crash
                # class); it degrades to empty text instead, mirrored by
                # greatest() in the oracle's list_slice
                F.slice(
                    words,
                    1,
                    F.greatest(
                        F.size(words) - DUP_NEAR_DROP_WORDS, F.lit(0)
                    ),
                ),
                " ",
            ).alias("text"),
        )
    )
    return base.unionByName(exact).unionByName(near)


# ---------------------------------------------------------------------------
# exact


def dedup_exact(corpus: DataFrame) -> DataFrame:
    """One survivor (min doc_id) per distinct text; returns survivors with
    their duplicate counts. Single hash-aggregate shuffle."""
    return (
        corpus.groupBy("text")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("keep_id", "n_copies")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard


def _shingles(
    text_col: Column, n: int = NGRAM_N, distinct: bool = True
) -> Column:
    """Word-n-gram shingles of a text column (JVM-side only: split +
    transform + slice — no Python); distinct by default (the dedup
    contract), per-occurrence with ``distinct=False`` (the corpus-count
    sweep, textstats.ngram_counts). Documents with fewer than n words
    yield an EMPTY array — the n_sh >= 1 guard matters because
    F.sequence(1, 0) is the DESCENDING [1, 0], whose transform would call
    slice(words, 0, n), a runtime error. This is THE one n-gram
    generator; don't re-derive the guard elsewhere.

    n == 2 (every dedup/ngram call site) takes a zip_with fast path:
    pairing words with their shifted tail and concat'ing avoids the
    per-gram slice() array allocation and array_join of the generic
    formulation — measured 3.6× faster over the sf0.1 corpus with
    byte-identical output (zip_with pads the tail with ONE null, whose
    concat is null and is filtered; a one-word doc pairs against the
    empty tail and yields [], matching the n_sh guard)."""
    words = F.split(text_col, " ")
    if n == 2:
        tail = F.slice(
            words, 2, F.greatest(F.size(words) - 1, F.lit(1))
        )
        grams = F.filter(
            F.zip_with(
                words, tail, lambda a, b: F.concat(a, F.lit(" "), b)
            ),
            lambda x: x.isNotNull(),
        )
        return F.array_distinct(grams) if distinct else grams
    n_sh = F.size(words) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n_sh, F.lit(1))),
        lambda i: F.array_join(F.slice(words, i, n), " "),
    )
    if distinct:
        grams = F.array_distinct(grams)
    return F.when(n_sh >= 1, grams).otherwise(
        F.array().cast("array<string>")
    )


def dedup_ngram_pairs(corpus: DataFrame) -> DataFrame:
    """Exact near-dup pairs (a<b) with word-bigram Jaccard ≥
    JACCARD_THRESHOLD.

    Plan: explode distinct shingles → self-join on shingle (co-shingled
    pairs only) → count intersections → join doc shingle-counts → Jaccard.
    """
    sh = (
        corpus.select(
            F.col("doc_id"), F.explode(_shingles(F.col("text"))).alias("sh")
        )
    )
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    ca = counts.alias("ca")
    cb = counts.alias("cb")
    return (
        inter.join(ca, F.col("id_a") == F.col("ca.doc_id"))
        .join(cb, F.col("id_b") == F.col("cb.doc_id"))
        .withColumn(
            "jaccard",
            F.col("n_inter")
            / (F.col("ca.n_sh") + F.col("cb.n_sh") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# the signature kernel (MinHash and SimHash)

# features expanded per step: one (width × block) int64 matrix, 8 MiB for
# MinHash; 8192 measured fastest of 4096 / 8192 / 16384
SIGNATURE_BLOCK = 8192


def _segment_reduce(hs: pa.ListArray, expand, ufunc, width: int) -> np.ndarray:
    """(width, docs) per-document ``ufunc`` reductions of one Arrow batch
    of non-empty int64 feature-hash arrays — THE signature loop. The flat
    hashes are the list's child values, read in place (no per-document
    copy, even for a sliced array); ``expand`` maps SIGNATURE_BLOCK hashes
    at a time to a (width × block) matrix whose per-document ``reduceat``
    partials land in the result, folded with ``ufunc`` where a document
    crosses a block edge. Memory: one block, whatever the lengths."""
    out = np.empty((width, len(hs)), dtype=np.int64)
    if not len(hs):
        return out
    offsets = hs.offsets.to_numpy()
    flat = hs.values.slice(offsets[0], offsets[-1] - offsets[0]).to_numpy()
    starts = offsets[:-1] - offsets[0]
    for lo in range(0, len(flat), SIGNATURE_BLOCK):
        hi = min(lo + SIGNATURE_BLOCK, len(flat))
        first = np.searchsorted(starts, lo, side="right") - 1
        end = np.searchsorted(starts, hi)
        seg = starts[first:end] - lo
        carried = seg[0] < 0  # document `first` began in an earlier block
        seg[0] = 0
        part = ufunc.reduceat(expand(flat[lo:hi]), seg, axis=1)
        if carried:
            ufunc(part[:, 0], out[:, first], out=part[:, 0])
        out[:, first:end] = part
    return out


def _signature_udf(name, expand, ufunc, width, finish, return_type):
    """Iterator Arrow UDF yielding ``finish(_segment_reduce(batch), type)``
    with ``type`` the Arrow form of ``return_type``; plans show the body as
    ``name``, tests call it as the UDF's ``.func``."""
    arrow_type = to_arrow_type(return_type)

    def body(it: Iterator[pa.Array]) -> Iterator[pa.Array]:
        for hs in it:
            yield finish(_segment_reduce(hs, expand, ufunc, width), arrow_type)

    body.__name__ = body.__qualname__ = name
    return F.arrow_udf(body, return_type)


def _signatures(
    corpus: DataFrame, features: Column, udf, name: str
) -> DataFrame:
    """(doc_id, ``name``): ``udf`` over each doc's feature hashes behind
    THE non-empty guard — a null or featureless text has no signature, so the
    kernel never sees a null array or an empty ``reduceat`` segment."""
    return (
        corpus.select("doc_id", features.alias("_hs"))
        .filter(F.size("_hs") > 0)
        .select("doc_id", udf(F.col("_hs")).alias(name))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH


def _minhash_params() -> tuple[list[int], list[int]]:
    """Deterministic (a, b) coefficient lists for k universal hashes
    h_i(x) = (a_i * x + b_i) mod p — seeded by a fixed LCG, no RNG state."""
    a, b, state = [], [], 0x5DEECE66D
    for _ in range(MINHASH_K):
        state = (state * 6364136223846793005 + 1442695040888963407) & ((1 << 63) - 1)
        a.append(state % (MERSENNE_PRIME - 1) + 1)
        state = (state * 6364136223846793005 + 1442695040888963407) & ((1 << 63) - 1)
        b.append(state % MERSENNE_PRIME)
    return a, b


_MINHASH_A, _MINHASH_B = (
    np.asarray(c, dtype=np.int64)[:, None] for c in _minhash_params()
)


# h < p and a <= p-1 with p = 2^31 - 1 → a*h + b < 2^62: exact int64
_minhash_sig_udf = _signature_udf(
    "_minhash_sig_batches",
    lambda h: (_MINHASH_A * h + _MINHASH_B) % MERSENNE_PRIME,
    np.minimum,
    MINHASH_K,
    # one k-long list per document, straight from the (docs × k) values
    lambda mins, t: pa.ListArray.from_arrays(
        np.arange(0, mins.size + 1, MINHASH_K, dtype=np.int32),
        mins.T.ravel(),
        type=t,
    ),
    T.ArrayType(T.LongType()),
)


def minhash_signatures(corpus: DataFrame) -> DataFrame:
    """(doc_id, sig: array<bigint>[k]) — min over shingle hashes per
    permutation. Shingle hashing stays JVM-side (split/transform/xxhash64
    in codegen); the permutations run in the signature kernel
    (_segment_reduce). Bit-identical to the historical explode +
    groupBy(128 mins) aggregation (all-int64, products < 2^62; a
    per-document numpy reference is pytest-locked), whose one huge
    generated method collapsed in long-lived driver JVMs (9-20 vs 80-110
    core-seconds for the same query, round 7). No shuffle here; consumers
    that read signatures twice add their own (see dedup_minhash_pairs)."""
    hs = F.transform(
        _shingles(F.col("text")),
        lambda s: F.pmod(F.xxhash64(s), F.lit(MERSENNE_PRIME)),
    )
    return _signatures(corpus, hs, _minhash_sig_udf, "sig")


def band_table(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, sig_hash): one row per LSH band, hashing each band's
    signature slice — THE banding derivation, shared by the self-join
    dedup path and the corpus-vs-benchmark fuzzy-decontamination join."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.xxhash64(
                            *[
                                F.col("sig")[i * LSH_ROWS + r]
                                for r in range(LSH_ROWS)
                            ]
                        ).alias("sig_hash"),
                    )
                    for i in range(LSH_BANDS)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", "bs.band", "bs.sig_hash")


def dedup_minhash_pairs(
    corpus: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH-banded candidate generation + exact-Jaccard verification.

    Output contract matches dedup_ngram_pairs (the oracle): pairs that share
    ≥1 LSH band bucket AND verify at ≥ threshold exact Jaccard.

    Verification joins the candidate PAIRS to per-doc shingle arrays and
    computes Jaccard with ``array_intersect`` — per-pair cost, zero reuse of
    the minhash DAG. (The previous formulation re-ran the full ngram
    self-join on the candidate-restricted corpus and then joined back to
    candidates, putting the 128-hash signature computation in the lineage of
    THREE consumers — Spark recomputed it three times per action.)

    ``max_bucket`` is the 10^12-scale skew knob (FineWeb-style): a band
    bucket shared by B docs yields B² candidate pairs, and VIRAL buckets
    (boilerplate-dominated signatures) turn the self-join quadratic on one
    key. When set, buckets larger than ``max_bucket`` are dropped before
    the join (one cheap count over the band table) — a document family
    that near-duplicates thousands of times is boilerplate by definition
    and is better handled by line/exact dedup anyway. None (default) keeps
    the exact test-scale contract the oracle checks.
    """
    # the band self-join consumes the signature subtree twice; signatures
    # plan shuffle-free (scan → Arrow UDF), so give the two consumers an
    # Exchange to reuse — one small shuffle of one 129-column row per doc,
    # exactly the materialization the old aggregation formulation got for
    # free (deterministic hash key: see queries._spread rationale).
    # (A variant that ALSO materialized the shingle arrays behind their
    # own exchange for the verify sides was measured and rejected: the
    # extra exchange+broadcast chain added blocking and the plan computed
    # the corpus union twice — 53.8 vs 28.4 core-seconds.)
    sigs = minhash_signatures(corpus).repartition(F.xxhash64("doc_id"))
    candidates = bucket_pairs(
        band_table(sigs), "doc_id", ["band", "sig_hash"], max_bucket
    )
    # verify candidates with exact jaccard, per pair: join each side to its
    # distinct-shingle array and intersect JVM-side. Same exact rational
    # arithmetic as dedup_ngram_pairs → identical output values.
    sh_arrays = corpus.select(
        "doc_id", _shingles(F.col("text")).alias("sh")
    )
    a_sh = sh_arrays.select(
        F.col("doc_id").alias("id_a"), F.col("sh").alias("sha")
    )
    b_sh = sh_arrays.select(
        F.col("doc_id").alias("id_b"), F.col("sh").alias("shb")
    )
    n_inter = F.size(F.array_intersect(F.col("sha"), F.col("shb")))
    return (
        candidates.join(a_sh, "id_a")
        .join(b_sh, "id_b")
        .withColumn(
            "jaccard",
            n_inter / (F.size("sha") + F.size("shb") - n_inter),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# SimHash


def _bit_lit(i: int):
    """Signed-long literal with only bit i set (bit 63 = Long.MIN_VALUE).
    Kept for the reference (agg) formulation in the equality test."""
    return F.lit(1 << i if i < 63 else -(1 << 63)).cast("long")


_SIMHASH_SHIFTS = np.arange(64, dtype=np.int64)[:, None]
# ±1 per bit of each 64-bit hash; the sign of a bit's sum sets that bit
# (arithmetic shifts and int64 wrap-around: bit 63 packs to Long.MIN_VALUE)
_simhash_udf = _signature_udf(
    "_simhash_batches",
    lambda h: ((h >> _SIMHASH_SHIFTS) & 1) * 2 - 1,
    np.add,
    64,
    lambda sums, t: pa.array(
        np.bitwise_or.reduce(
            (sums > 0).astype(np.int64) << _SIMHASH_SHIFTS, axis=0
        ),
        t,
    ),
    T.LongType(),
)


def simhash(corpus: DataFrame) -> DataFrame:
    """64-bit SimHash per doc: xxhash64 per distinct word *unigram* feature,
    sum ±1 per bit, sign → bit. Unigram features (the classic Charikar
    setup) keep small edits small in hamming space — n-gram features would
    amplify a 2-word edit into ~3n flipped features.

    The 64 bit-sums run in the signature kernel, for minhash_signatures'
    reason; bit-identical to the 64-column aggregation (bit 63 packs to
    the negative long, ≡ _bit_lit(63)), which is pytest-locked."""
    hs = F.transform(
        F.array_distinct(F.split(F.col("text"), " ")),
        lambda w: F.xxhash64(w),
    )
    return _signatures(corpus, hs, _simhash_udf, "simhash")


def dedup_simhash_pairs(corpus: DataFrame) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ SIMHASH_MAX_HAMMING,
    found via 8-band exact-match blocking (any pair within hamming 7 of a
    64-bit hash agrees exactly on ≥1 of 8 8-bit bands — pigeonhole, zero
    false negatives w.r.t. the hamming radius)."""
    # same two-consumer reuse point as dedup_minhash_pairs: the band
    # self-join reads signatures twice; the repartition Exchange is the
    # materialization AQE deduplicates
    sigs = simhash(corpus).repartition(F.xxhash64("doc_id"))
    bands = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), i * 8)
                        .bitwiseAND(F.lit(0xFF))
                        .alias("chunk"),
                    )
                    for i in range(8)
                ]
            )
        ).alias("bc"),
    ).select("doc_id", "simhash", "bc.band", "bc.chunk")
    # not bucket_pairs: this join carries simhash through to cut on
    # hamming distance before the distinct
    l, r = bands.alias("l"), bands.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("id_a"),
            F.col("r.doc_id").alias("id_b"),
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).alias("hamming"),
        )
        # filter BEFORE distinct: band collisions between unrelated hashes
        # (p≈1/256 per band) make most candidates fail the hamming cut —
        # the dedup shuffle should only carry the survivors
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .distinct()
    )
    return pairs


# ---------------------------------------------------------------------------
# cross-document line dedup (boilerplate-line removal)


def dedup_lines(pages: DataFrame) -> DataFrame:
    """Remove every non-empty ``markdown`` LINE that appears in ≥ 2
    distinct ``url``s — the C4/FineWeb-style cross-document boilerplate
    strip at the text layer (nav fragments, repeated list items, shared
    footers survive per-document extraction; only corpus-level frequency
    exposes them). Returns (url, page_no, clean_md, n_removed) per page;
    pages whose every line was boilerplate drop out.

    Plan (100 TB shape): posexplode lines → distinct-doc count per line
    (one map-side-combined agg) → join back on the line → re-assemble.
    Three shuffles (count agg, join, final groupBy), all on line/key
    hashes; no window over the full corpus, no driver-side state. Empty
    lines are structure (block separators) and are never counted or
    removed.

    Cost note: the boiler-count branch and the join branch BOTH evaluate
    the ``pages`` lineage (the filters differ, so the exchanges don't
    dedupe) — when the input is an expensive subtree (a full extraction),
    materialize it to a staged table first and run this operator over the
    scan; that is the intended production consumption (SCALE.md's staged
    layout), and exactly what a corpus pipeline does anyway.
    """
    lines = pages.select(
        "url",
        "page_no",
        F.posexplode(F.split(F.col("markdown"), "\n")).alias("pos", "line"),
    )
    boiler = (
        lines.filter(F.col("line") != "")
        .groupBy("line")
        .agg(F.count_distinct("url").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("line", F.lit(True).alias("is_boiler"))
    )
    kept = lines.join(boiler, "line", "left")
    per_line = F.struct("pos", "line")
    return (
        kept.groupBy("url", "page_no")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("is_boiler").isNull(), per_line)
                        )
                    ),
                    lambda s: s.line,
                ),
                "\n",
            ).alias("clean_md"),
            F.sum(
                F.when(F.col("is_boiler").isNotNull(), 1).otherwise(0)
            ).cast("int").alias("n_removed"),
        )
        .filter(F.col("clean_md") != "")
    )


# ---------------------------------------------------------------------------
# connected components over the near-dup pair graph


def connected_components(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """(doc_id, component) for every node of the pair graph, where
    ``component`` = the minimum doc_id reachable from it — the transitive
    closure a FineWeb-style cluster dedup needs (pairwise loser-removal
    under-deletes chains: a~b, b~c must collapse to ONE survivor).

    Min-label propagation (the classic iterative MapReduce formulation,
    cf. Kiveris et al., "Connected Components in MapReduce and Beyond"):
    every node starts labeled with itself; each round takes the min of its
    own and its neighbors' labels; converges in O(graph diameter) rounds.
    Each round is one join + one map-side-combined min aggregation over the
    LABEL table — which holds only the near-dup graph's nodes, a vanishing
    fraction of the corpus at 100 TB. ``localCheckpoint`` truncates the
    iterative lineage so the plan doesn't grow with the round count;
    convergence is detected by the (monotonically decreasing) label sum.

    On localCheckpoint vs similarity.py's no-localCheckpoint policy: both
    are deliberate. localCheckpoint is unrecoverable on executor loss, so
    it is WRONG inside a big-table operator (similarity.py avoids it); for
    an iterative algorithm on the SMALL label table it is the right trade
    — reliable checkpointing would re-shuffle to stable storage per round,
    and a lost-executor retry of this cheap loop just reruns it.
    """
    edges = pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    edges = (
        edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint()
    )
    prev_sum = labels.agg(F.sum("comp")).collect()[0][0]
    if prev_sum is None:  # empty pair graph
        return labels.select(F.col("node").alias("doc_id"), F.col("comp").alias("component"))
    converged = False
    for _ in range(max_iter):
        nbr = (
            edges.join(labels, edges["v"] == labels["node"])
            .groupBy("u")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        labels = (
            labels.join(nbr, labels["node"] == nbr["u"], "left")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
                ).alias("comp"),
            )
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("comp")).collect()[0][0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        # silent wrong components are worse than a loud failure: a chain
        # longer than max_iter hops would exit here still relabeling
        raise ValueError(
            f"connected_components did not converge in {max_iter} rounds "
            "(pair-graph diameter exceeds max_iter — raise max_iter)"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("component")
    )
