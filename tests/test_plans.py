"""Physical-plan regression tests: the scan must stay pruned and pushed.

These assert the *plan*, not the data — a refactor that silently starts
reading all columns for the extract (or stops pushing the lang filter down)
is a 100 TB regression that no correctness test would catch."""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    from zerox_spark.synth import synth_pages

    path = str(tmp_path_factory.mktemp("plan") / "pages")
    synth_pages(spark, SF_SMOKE).write.parquet(path)
    return path


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_extract_scan_prunes_lang(spark, pages_parquet):
    from zerox_spark.extract.core import ExtractConfig
    from zerox_spark.operators.extract import extract_pages
    from zerox_spark.operators.repartition import salted_repartition

    pages = spark.read.parquet(pages_parquet)
    ex = extract_pages(salted_repartition(pages, 8), ExtractConfig(), 16)
    m = re.search(r"ReadSchema: (.*)", plan_of(ex))
    assert m, "no ReadSchema in plan"
    read_schema = m.group(1)
    # lang is never used by the extract path → must not be scanned.
    # (warc_ts IS read: the deterministic skew salt hashes (url, warc_ts).)
    assert "lang" not in read_schema
    assert "html" in read_schema and "url" in read_schema


def test_job_plan_partitions_and_sorts_on_content_hash(spark, pages_parquet):
    """The job's transform keeps two Exchanges (the max_by dedupe and the
    salted repartition). The repartition hashes the content key
    xxhash64(html, text), and a Sort on that key sits between it and the
    MapInArrow, so identical payloads reach the extract UDF adjacent and
    are extracted once (operators/extract._extract_iter)."""
    from zerox_spark.pipeline import ExtractionPipeline, PipelineConfig

    pages = spark.read.parquet(pages_parquet)
    plan = (
        ExtractionPipeline(PipelineConfig(num_partitions=8, num_buckets=16))
        .transform(pages)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange ") == 2
    m = re.search(r"Exchange hashpartitioning\((\w+#\d+L?), .*REPARTITION", plan)
    assert m, "no repartition Exchange"
    key = m.group(1)
    assert re.search(
        rf"xxhash64\([^()]*html[^()]*, [^()]*text[^()]*, 42\) AS {key}", plan
    ), f"repartition key {key} is not xxhash64(html, text)"
    lines = plan.splitlines()
    at = {
        name: next(i for i, ln in enumerate(lines) if pat in ln)
        for name, pat in [
            ("udf", "MapInArrow"),
            ("sort", f"Sort [{key} ASC"),
            ("exchange", "REPARTITION"),
        ]
    }
    assert at["udf"] < at["sort"] < at["exchange"]


def test_lang_filter_pushed_to_scan(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet)
    plan = plan_of(pages.filter(F.col("lang") == "en").select("url"))
    m = re.search(r"PushedFilters: \[(.*)\]", plan)
    assert m and "EqualTo(lang,en)" in m.group(1)
    # column pruning too: projection of url only must not scan html
    m2 = re.search(r"ReadSchema: (.*)", plan)
    assert m2 and "html" not in m2.group(1)


def test_minhash_default_plan_is_vectorized_and_shuffle_free(spark):
    """The DEFAULT signature formulation (round 7) hashes shingles
    JVM-side and runs the k-permutation minima as ONE vectorized Arrow
    batch op — no 128-column aggregation (whose giant generated method
    measured 4-10× slower in long-lived driver JVMs), no shuffle of its
    own. The two-consumer reuse point moved into dedup_minhash_pairs
    (an explicit repartition — locked below)."""
    from zerox_spark.operators.dedup import (
        dedup_minhash_pairs,
        minhash_signatures,
        with_injected_duplicates,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = plan_of(minhash_signatures(docs))
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan
    assert "HashAggregate" not in plan and "Exchange" not in plan
    # the pairs plan must carry the signature materialization exchange so
    # the band self-join's two sides don't re-run the UDF subtree
    pairs_plan = plan_of(dedup_minhash_pairs(with_injected_duplicates(docs)))
    assert "REPARTITION_BY_COL" in pairs_plan or "hashpartitioning(xxhash64" in pairs_plan


def test_minhash_signatures_match_numpy_reference(spark):
    """minhash_signatures equals a per-document numpy reference: for each
    permutation i, min over the doc's shingle hashes h of a_i·h + b_i mod p."""
    import numpy as np

    from zerox_spark.operators.dedup import (
        MERSENNE_PRIME,
        _minhash_params,
        _shingles,
        minhash_signatures,
        with_injected_duplicates,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    corpus = with_injected_duplicates(docs).orderBy("doc_id").limit(120)
    hs = F.transform(
        _shingles(F.col("text")),
        lambda s: F.pmod(F.xxhash64(s), F.lit(MERSENNE_PRIME)),
    )
    a, b = (np.array(c, dtype=np.int64)[:, None] for c in _minhash_params())
    want = {
        r.doc_id: ((a * np.array(r.hs) + b) % MERSENNE_PRIME).min(1).tolist()
        for r in corpus.select("doc_id", hs.alias("hs")).collect()
        if r.hs
    }
    got = {r.doc_id: r.sig for r in minhash_signatures(corpus).collect()}
    assert got == want and len(got) > 0


def test_curation_plan_uses_lsh_not_raw_shingle_join(spark):
    """curate()'s near-dup stage must be the banded MinHash+LSH bucket join
    (sub-quadratic at scale), not the raw bigram-shingle self-join — common
    shingles make the raw join quadratic in posting-list size at 100 TB.
    LSH leaves a fingerprint the raw path never produces: the banded
    (band, sig_hash) bucket columns and the pmod permutation hashes."""
    from zerox_spark.operators.curation import curate

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = plan_of(curate(docs))
    assert "sig_hash" in plan, "curation near-dup stage is not the LSH path"
    # the permutation arithmetic lives in the vectorized signature UDF
    # since round 7; its Arrow node is the LSH fingerprint the raw
    # shingle join never produces
    assert "_minhash_sig" in plan, "minhash signature UDF missing"


def test_repetition_plan_is_linear_not_quadratic(spark):
    """repetition_stats must be the explode → groupBy(doc_id, word) →
    per-doc agg plan (linear, map-side combined), not the within-row
    transform(array_distinct, filter(...)) O(words²) expression."""
    from zerox_spark.operators.textstats import repetition_stats

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = plan_of(repetition_stats(docs))
    assert "Generate" in plan  # the explode
    # the quadratic formulation's signature: a lambda filter over the full
    # words array inside a projection — must be gone
    assert "array_distinct" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final × two aggs


def test_minhash_signature_computed_once_per_plan(spark):
    """The LSH verify stage must NOT put the 128-hash signature subtree in
    multiple consumers' lineage (the r01 shape recomputed it 3× per action:
    formatted-plan pmod count ~14,800; the per-pair array_intersect verify
    keeps it ~800). Locked with a generous upper bound."""
    from zerox_spark.operators.dedup import (
        dedup_minhash_pairs,
        with_injected_duplicates,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = plan_of(dedup_minhash_pairs(with_injected_duplicates(docs)))
    assert "array_intersect" in plan  # the per-pair verify
    assert plan.count("pmod") < 3000, "signature subtree duplicated in plan"


def test_decontaminate_broadcast_and_filter_first(spark):
    """The benchmark gram match must be a broadcast join, and the corpus
    side must NOT shuffle its exploded grams before the match (the
    filter-first property that keeps the crawl side map-side at 100 TB)."""
    from zerox_spark.operators.decontam import decontaminate

    docs = spark.createDataFrame(
        [(i, "w%d the quick brown fox jumps over the lazy dog" % i)
         for i in range(20)],
        "doc_id long, text string",
    )
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    out = decontaminate(docs, bench)
    plan = plan_of(out)
    # the GRAM match must broadcast (benchmark side is small by contract);
    # the hits join-back is a plain key join on purpose — its size is
    # data-dependent, so no assertion on its strategy
    assert "BroadcastHashJoin" in plan
    # correctness: every doc shares the 8-gram "the quick brown fox jumps
    # over the lazy dog"-suffix with the benchmark slice
    rows = {r["doc_id"]: r for r in out.collect()}
    assert all(rows[i]["contaminated"] == 1 for i in range(20))


def test_decontaminate_short_docs_pass(spark):
    from zerox_spark.operators.decontam import decontaminate

    docs = spark.createDataFrame(
        [(1, "too short to have grams"), (2, "a b c d e f g h i j")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(9, "a b c d e f g h i j")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in decontaminate(docs, bench).collect()}
    assert rows[1]["contaminated"] == 0 and rows[1]["n_hits"] == 0
    assert rows[2]["contaminated"] == 1 and rows[2]["n_hits"] == 3


def test_pdf_crypt_plan_single_exchange(spark):
    """The encrypted-PDF family keeps extract_pdf_real's plan shape: one
    Exchange (the synth repartition) and — since the round-7 fusion — ONE
    MapInArrow doing payload build + extract together (the chained
    two-UDF shape moved every payload across the JVM↔Python boundary
    three times; operators/extract.extract_pages ``render``), no join — all
    crypto cost stays in-UDF and budget-bounded, so the plan survives a
    100x scale-up unchanged."""
    from zerox_spark.queries import q_extract_pdf_crypt

    plan = (
        q_extract_pdf_crypt(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
        .lower()
    )
    assert plan.count("exchange") == 1
    assert plan.count("mapinarrow") == 1
    assert "join" not in plan


def test_decontaminate_fuzzy_flags_near_duplicates(spark):
    """The three contamination shapes the exact 8-gram pass misses or
    partially misses: a lightly-EDITED benchmark item (edits break every
    long gram), the verbatim copy, and — the containment-measure case —
    an edited item EMBEDDED inside a much larger page (symmetric Jaccard
    ~0.1 would ship it to training). Unrelated docs must not be
    flagged."""
    from zerox_spark.operators.decontam import decontaminate_fuzzy

    bench_text = " ".join(f"bench word{i} token{i*3}" for i in range(40))
    words = bench_text.split()
    # edit ~10% of words, spread out — kills most long n-grams, keeps
    # bigram containment high
    for i in range(0, len(words), 9):
        words[i] = f"EDIT{i}"
    near_dup = " ".join(words)
    filler = " ".join(f"page filler{i} prose{i*5}" for i in range(180))
    embedded = filler + " " + near_dup + " closing remarks here"
    unrelated = " ".join(f"other thing{i} item{i*7}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, near_dup), (2, unrelated), (3, bench_text), (4, embedded)],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, bench_text)], "doc_id long, text string"
    )
    rows = {
        r.doc_id: r
        for r in decontaminate_fuzzy(docs, bench).collect()
    }
    assert rows[3].fuzzy_contaminated == 1  # verbatim copy
    assert rows[1].fuzzy_contaminated == 1  # near-dup edit
    assert rows[4].fuzzy_contaminated == 1  # edited item inside a big page
    assert rows[2].fuzzy_contaminated == 0  # unrelated
    assert rows[1].fuzzy_hits == 1


def test_decontaminate_fuzzy_benchmark_side_broadcast(spark):
    """The benchmark band table must reach the candidate join as a
    broadcast — the corpus side never shuffles for the match."""
    from zerox_spark.operators.decontam import decontaminate_fuzzy

    docs = spark.createDataFrame(
        [(i, f"text body {i} " * 10) for i in range(50)],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(0, "text body 0 " * 10)], "doc_id long, text string"
    )
    plan = (
        decontaminate_fuzzy(docs, bench)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
        .lower()
    )
    # THREE benchmark-side broadcasts: band table + short-gram table
    # (candidates) and shingle arrays (verification) — losing any one of
    # them means the corpus shuffles for the match
    assert plan.count("broadcastexchange") >= 3


def test_every_query_is_registered():
    """No unregistered alternates: each module-level ``q_*`` function is a
    registry entry, and every oracle belongs to a registered query."""
    import inspect

    from zerox_spark import queries

    defined = {
        name for name, fn in inspect.getmembers(queries, inspect.isfunction)
        if name.startswith("q_") and fn.__module__ == queries.__name__
    }
    registered = {fn.__name__ for fn in queries.QUERIES.values()}
    assert defined - registered == set()
    assert set(queries.ORACLE_SQL) <= set(queries.QUERIES)


def test_job_scan_prunes_lang(spark, pages_parquet):
    """The job's whole transform (the max_by dedupe, the repartition and
    the extract) reads no ``lang``: nothing after the dedupe uses it."""
    from zerox_spark.pipeline import ExtractionPipeline, PipelineConfig

    pages = spark.read.parquet(pages_parquet)
    job = ExtractionPipeline(
        PipelineConfig(num_partitions=8, num_buckets=16)
    ).transform(pages)
    m = re.search(r"ReadSchema: (.*)", plan_of(job))
    assert m, "no ReadSchema in plan"
    assert "lang" not in m.group(1)
    assert "html" in m.group(1) and "text" in m.group(1)


def test_spread_launches_no_job(spark, monkeypatch):
    """``_spread`` reads its input's partition count on the driver: over
    the scan and union inputs the queries pass it (``_docs``,
    ``with_injected_duplicates(_docs)``, ``_embeddings`` and the union
    ``_embeddings_with_dups`` spreads), it launches no Spark job, and at a
    target within that count it returns its input."""
    from zerox_spark import queries
    from zerox_spark.operators.dedup import with_injected_duplicates
    from tests.conftest import SF_CORRECT

    spread = queries._spread
    received = []

    def record(df, *keys, target=None):
        received.append((df, keys))
        return spread(df, *keys, target=target)

    monkeypatch.setattr(queries, "_spread", record)
    queries._embeddings_with_dups(spark, SF_CORRECT)
    monkeypatch.undo()
    docs = queries._docs(spark, SF_CORRECT)
    inputs = [
        (docs, ("doc_id",)),
        (with_injected_duplicates(docs), ("doc_id",)),
        (queries._embeddings(spark, SF_CORRECT), ("vec_id",)),
        *received,
    ]
    assert len(inputs) == 4
    sc = spark.sparkContext
    group = "spread-probe"
    sc.setJobGroup(group, "jobs launched by _spread")
    try:
        for df, keys in inputs:
            spread(df, *keys)
            n = df.rdd.getNumPartitions()
            assert spread(df, *keys, target=n) is df
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup(group) == []
