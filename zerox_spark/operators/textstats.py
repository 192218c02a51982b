"""Text analysis for training-data pipelines: language-ID, quality scoring,
token counting, document fingerprinting.

Everything except the winnowing fingerprint is pure JVM-side column algebra
(split/filter/aggregate/regexp) — whole-stage-codegen friendly, no Python in
the hot path; each has a DuckDB-oracle-expressible definition so the driver
can value-check it. The winnowing fingerprint needs a rolling window min —
implemented as a vectorized Arrow UDF (pyarrow arrays in and out); its
oracle restates the full algorithm in DuckDB list SQL (queries._WINNOW_SQL),
and property tests pin the vectorized==scalar equality.
"""

from __future__ import annotations

import pyarrow as pa

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type

# language marker words → language, checked in this order (argmax with
# first-listed winning ties). A deterministic n-gram-ish heuristic stand-in:
# real corpora would use charset n-gram profiles; the synthetic corpus is
# English-ish word soup, so the value is the *operator shape* + oracle parity.
LANG_MARKERS: list[tuple[str, tuple[str, ...]]] = [
    ("en", ("the", "a", "and", "of")),
    ("de", ("der", "die", "und", "das")),
    ("fr", ("le", "la", "et", "les")),
    ("es", ("el", "los", "y", "que")),
]

STOPWORDS = ("the", "a", "and", "of", "to", "in")

# BPE-ish tokenization: letter runs, digit runs, single punctuation marks.
# Kept RE2-compatible (no backrefs/lookarounds) so Spark (Java regex) and
# DuckDB (RE2) agree.
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

WINNOW_K = 5  # k-gram length (chars)
WINNOW_W = 4  # window size


def _words(col):
    return F.split(col, " ")


def _count_in(words_col, vocab: tuple[str, ...]):
    return F.size(F.filter(words_col, lambda w: w.isin(*vocab)))


def _pred_lang_col():
    words = _words(F.col("text"))
    counts = {lang: _count_in(words, vocab) for lang, vocab in LANG_MARKERS}
    best = F.greatest(*[F.lit(0), *counts.values()])
    pred = F.lit("und")
    # build reversed so earlier-listed languages win ties
    for lang, _ in reversed(LANG_MARKERS):
        pred = F.when((counts[lang] > 0) & (counts[lang] == best), F.lit(lang)).otherwise(pred)
    return pred


def quality_col():
    """The composite quality score of the ``text`` column as a pure Column
    expression — composable into other plans (curation inlines it as a
    filter instead of a join)."""
    text = F.col("text")
    words = _words(text)
    n_chars = F.length(text)
    n_words = F.size(words)
    stop_ratio = F.round(_count_in(words, STOPWORDS) / n_words, 6)
    alnum = F.length(F.regexp_replace(text, r"[^A-Za-z0-9 ]", ""))
    punct_ratio = F.round((n_chars - alnum) / n_chars, 6)
    return F.round(
        F.least(F.lit(1.0), n_words / F.lit(100.0)) * 0.4
        + stop_ratio * 0.4
        + (F.lit(1.0) - punct_ratio) * 0.2,
        6,
    )


def ws_tokens_col():
    return F.size(_words(F.col("text"))).cast("int")


def bpe_tokens_col():
    return (
        F.size(F.regexp_extract_all(F.col("text"), F.lit(TOKEN_PATTERN), 0))
        .cast("int")
    )


def _quality_cols():
    text = F.col("text")
    words = _words(text)
    n_chars = F.length(text)
    n_words = F.size(words)
    mean_wl = F.round((n_chars - (n_words - 1)) / n_words, 6)
    stop_ratio = F.round(_count_in(words, STOPWORDS) / n_words, 6)
    alnum = F.length(F.regexp_replace(text, r"[^A-Za-z0-9 ]", ""))
    punct_ratio = F.round((n_chars - alnum) / n_chars, 6)
    score = quality_col()
    return [
        n_chars.cast("int").alias("n_chars"),
        n_words.cast("int").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        stop_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        score.alias("quality"),
    ]


def text_quality(docs: DataFrame) -> DataFrame:
    """lang-ID + the full quality-feature battery in ONE projection —
    a single scan, zero shuffle, zero join (round 6 merged the lang_id
    and quality_score registry slots here, freeing a slot for the
    packing placement)."""
    return docs.select(
        "doc_id", _pred_lang_col().alias("pred_lang"), *_quality_cols()
    )


# Gopher quality rules (Rae et al. 2021, §A1.1 — the standard web-corpus
# document filter battery). Thresholds are the published defaults; all
# pure column algebra, ratios rounded to 6dp for cross-engine hashing.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WL = 3.0
GOPHER_MAX_MEAN_WL = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_RATIO = 0.8
GOPHER_MIN_STOP_HITS = 2
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_filter(docs: DataFrame) -> DataFrame:
    """(doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_ratio,
    stop_hits, passes) — the Gopher document-quality rule battery:
    word-count bounds, mean-word-length bounds, hash/ellipsis
    symbol-to-word ratio, alphabetic-word fraction, and a stop-word
    floor. ``passes`` is the conjunction — the corpus-gate column a
    training pipeline filters on. Pure JVM column algebra, no shuffle."""
    text = F.col("text")
    words = _words(text)
    n_words = F.size(words)
    mean_wl = F.round((F.length(text) - (n_words - 1)) / n_words, 6)
    n_hash = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))
    ) / 3
    symbol_ratio = F.round((n_hash + n_ellipsis) / n_words, 6)
    alpha_ratio = F.round(
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))) / n_words, 6
    )
    stop_hits = _count_in(words, GOPHER_STOPWORDS)
    passes = (
        n_words.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & mean_wl.between(GOPHER_MIN_MEAN_WL, GOPHER_MAX_MEAN_WL)
        & (symbol_ratio <= GOPHER_MAX_SYMBOL_RATIO)
        & (alpha_ratio >= GOPHER_MIN_ALPHA_RATIO)
        & (stop_hits >= GOPHER_MIN_STOP_HITS)
    )
    return docs.select(
        "doc_id",
        n_words.cast("int").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        alpha_ratio.alias("alpha_word_ratio"),
        stop_hits.cast("int").alias("stop_hits"),
        passes.cast("int").alias("passes"),
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, ws_tokens, bpe_tokens): whitespace tokens and BPE-ish regex
    tokens — the two standard corpus-size accountants."""
    return docs.select(
        "doc_id",
        ws_tokens_col().alias("ws_tokens"),
        bpe_tokens_col().alias("bpe_tokens"),
    )


# PII redaction — regexes kept RE2-compatible (no lookaround/backrefs) so
# Spark (Java regex) and DuckDB (RE2) produce identical replacements.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}[-. ]?[0-9]{0,4}"
IPV4_PATTERN = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def redact_pii(docs: DataFrame) -> DataFrame:
    """(doc_id, redacted, n_emails, n_ips): emails → [EMAIL], IPv4 → [IP],
    with per-doc match counts — the standard pretraining scrub pass, pure
    regexp_replace/regexp_extract_all (JVM-side)."""
    text = F.col("text")
    return docs.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(text, EMAIL_PATTERN, "[EMAIL]"),
            IPV4_PATTERN,
            "[IP]",
        ).alias("redacted"),
        F.size(F.regexp_extract_all(text, F.lit(EMAIL_PATTERN), 0))
        .cast("int")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(text, F.lit(IPV4_PATTERN), 0))
        .cast("int")
        .alias("n_ips"),
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, distinct_word_ratio, top_word_share): intra-document
    repetition signals — the filter that catches boilerplate loops and the
    pathological repeated-paragraph rows (FIXTURES.md e04).

    Plan: explode words → groupBy(doc_id, word) count → per-doc
    max/count/sum. Linear in document length (two map-side-combined
    shuffles), unlike the within-row transform(array_distinct, filter)
    formulation, which is O(words²) inside a single row — a 100k-word doc
    would cost 10^10 comparisons that no partitioning can split. Note
    split(text, ' ') yields [''] for empty text, so every doc emits ≥1 word
    row and the output keeps exactly one row per input doc; NULL text is
    treated as empty (coalesce) so those docs keep their row too."""
    per_word = (
        docs.select(
            "doc_id",
            F.explode(_words(F.coalesce(F.col("text"), F.lit("")))).alias(
                "word"
            ),
        )
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return per_word.groupBy("doc_id").agg(
        F.round(F.count(F.lit(1)) / F.sum("c"), 6).alias(
            "distinct_word_ratio"
        ),
        F.round(F.max("c") / F.sum("c"), 6).alias("top_word_share"),
    )


# ---------------------------------------------------------------------------
# winnowing fingerprint (rolling-hash document signature)


def _winnow_one(text: str) -> list[int]:
    """Classic winnowing (Schleimer et al. 2003, public algorithm): k-gram
    rolling hashes, per-window minimum (rightmost on ties), deduped in
    order. Pure function of the text.

    Scalar reference implementation — the hot path is ``_winnow_np`` below
    (vectorized, same output; equality property-tested)."""
    if len(text) < WINNOW_K:
        return []
    base, mod = 257, (1 << 31) - 1
    h = 0
    power = pow(base, WINNOW_K - 1, mod)
    hashes: list[int] = []
    for i, ch in enumerate(text):
        if i >= WINNOW_K:
            h = (h - ord(text[i - WINNOW_K]) * power) % mod
        h = (h * base + ord(ch)) % mod
        if i >= WINNOW_K - 1:
            hashes.append(h)
    fingerprints: list[int] = []
    prev = -1
    for w in range(max(1, len(hashes) - WINNOW_W + 1)):
        window = hashes[w : w + WINNOW_W]
        m = min(window)
        pos = w + max(i for i, v in enumerate(window) if v == m)
        if pos != prev:
            fingerprints.append(m)
            prev = pos
    return fingerprints


_WINNOW_BASE = 257
_WINNOW_MOD = (1 << 31) - 1


def _mod_pow_table(base: int, n: int, mod: int) -> "np.ndarray":
    """[base^0 .. base^(n-1)] mod mod as int64, O(sqrt n) Python steps
    (baby/giant tables, outer product mod — operands < 2^31 so products
    stay inside int64)."""
    import numpy as np

    if n <= 0:
        return np.zeros(0, dtype=np.int64)
    b = int(n**0.5) + 1
    small = np.empty(b, dtype=np.int64)
    small[0] = 1
    for i in range(1, b):
        small[i] = small[i - 1] * base % mod
    big_step = int(small[b - 1]) * base % mod
    nbig = (n + b - 1) // b
    big = np.empty(nbig, dtype=np.int64)
    big[0] = 1
    for i in range(1, nbig):
        big[i] = big[i - 1] * big_step % mod
    return ((big[:, None] * small[None, :]) % mod).reshape(-1)[:n]


def _winnow_np(text: str) -> list[int]:
    """Vectorized winnowing, output-identical to ``_winnow_one``.

    Rolling k-gram hashes via modular prefix sums in the inverse-base basis
    (hash_i = base^(K-1+i) * (pref[i+K] - pref[i]) mod p — p prime, so the
    inverse exists); per-window rightmost minimum via a stride-tricks window
    view; consecutive-position dedup (``prev`` in the scalar loop always
    equals the previous window's pick, so pos[i] != pos[i-1] is exact).
    ~10× faster per doc than the per-character Python loop."""
    import numpy as np

    n = len(text)
    if n < WINNOW_K:
        return []
    codes = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(
        np.int64
    )
    mod = _WINNOW_MOD
    inv = pow(_WINNOW_BASE, mod - 2, mod)
    invpow = _mod_pow_table(inv, n, mod)
    pref = np.concatenate(
        ([0], np.cumsum(codes % mod * invpow % mod))
    ) % mod
    diff = (pref[WINNOW_K:] - pref[: -WINNOW_K]) % mod
    bpow = _mod_pow_table(_WINNOW_BASE, n, mod)
    hashes = diff * bpow[WINNOW_K - 1 : WINNOW_K - 1 + len(diff)] % mod
    length = len(hashes)
    if length <= WINNOW_W:
        m = int(hashes.min())
        return [m]
    windows = np.lib.stride_tricks.sliding_window_view(hashes, WINNOW_W)
    mins = windows.min(axis=1)
    pos_in = (
        WINNOW_W - 1 - (windows[:, ::-1] == mins[:, None]).argmax(axis=1)
    )
    pos = np.arange(length - WINNOW_W + 1) + pos_in
    keep = np.empty(len(pos), dtype=bool)
    keep[0] = True
    keep[1:] = pos[1:] != pos[:-1]
    return mins[keep].tolist()


_FP_TYPE = T.ArrayType(T.LongType())


@arrow_udf(_FP_TYPE)
def _winnow_udf(texts: pa.Array) -> pa.Array:
    return pa.array(
        [_winnow_np(t or "") for t in texts.to_pylist()],
        to_arrow_type(_FP_TYPE),
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, fp: array<long>, fp_hash) winnowing fingerprint + a single
    64-bit digest (xxhash64 of the joined fingerprint) for exact joins."""
    with_fp = docs.select("doc_id", _winnow_udf(F.col("text")).alias("fp"))
    return with_fp.select(
        "doc_id",
        "fp",
        F.xxhash64(F.array_join(F.transform("fp", lambda x: x.cast("string")), ",")).alias(
            "fp_hash"
        ),
    )


def ngram_counts(docs: DataFrame) -> DataFrame:
    """Top-100 corpus bigrams by document frequency THEN total count — the
    classic LM-corpus accounting sweep (vocabulary/collocation tables).
    ``docs`` must carry (doc_id, text).

    Plan: ONE n-gram explode → groupBy(ngram) with count(*) for total
    occurrences and count_distinct(doc_id) for document frequency (Spark
    plans the distinct as a two-phase aggregate) — the corpus is tokenized
    once. The final top-100 is a single-partition sort of the (tiny)
    aggregated table, not of the corpus. Ties break lexicographically for
    cross-engine determinism."""
    from zerox_spark.operators.dedup import _shingles

    # the shared n-gram generator (guards live there), per-occurrence:
    # ONE explode computes both counts (count_distinct doc_id = doc
    # frequency) — a second array_distinct explode would double the
    # dominant tokenize+shuffle cost of the corpus sweep
    grams = _shingles(F.col("text"), n=2, distinct=False)
    exploded = docs.select("doc_id", F.explode(grams).alias("ngram"))
    counts = exploded.groupBy("ngram").agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_total"),
    )
    return (
        counts.orderBy(F.desc("n_docs"), F.desc("n_total"), F.asc("ngram"))
        .limit(100)
        .select("ngram", "n_docs", "n_total")
    )
