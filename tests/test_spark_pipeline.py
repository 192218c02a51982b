"""End-to-end Spark tests: pipeline output parity, lineage, resume,
duplicate-url handling, the grouped fold operator, and the approximate
operators' recall against their exact counterparts."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import DataFrame, Row, functions as F

from tests.conftest import SF_SMOKE

from zerox_spark.pipeline import ExtractionPipeline, PipelineConfig
from zerox_spark.sinks import ParquetSnapshotSink
from zerox_spark.synth import (
    SYNTH_FAMILIES,
    doc_url,
    expected_markdown_pages,
    pages_frames,
    synth_docs,
    synth_pages,
)


def expected_all(sf_dir: str) -> dict[tuple[str, int], str]:
    rows = duckdb.sql(
        f"SELECT doc_id, text, lang, source FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    out = {}
    for doc_id, text, lang, source in rows:
        for page_no, md in expected_markdown_pages(doc_id, text, source):
            out[(doc_url(doc_id, source), page_no)] = md
    return out


@pytest.fixture(scope="module")
def run_result(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sink"))
    pages = synth_pages(spark, SF_SMOKE)
    pipe = ExtractionPipeline(PipelineConfig(num_partitions=8, num_buckets=16))
    sink = ParquetSnapshotSink(out)
    stats = pipe.run(spark, pages, sink, job_id="t1")
    return out, stats, sink


def test_pipeline_byte_parity(spark, run_result):
    out, stats, _ = run_result
    got = {
        (r.url, r.page_no): r.markdown
        for r in spark.read.parquet(f"{out}/extracted").collect()
    }
    want = expected_all(SF_SMOKE)
    assert got == want
    assert stats["failed"] == 0
    assert stats["total_pages"] == len(want)


def test_lineage_complete_and_consistent(spark, run_result):
    out, stats, _ = run_result
    lin = spark.read.parquet(f"{out}/lineage")
    rows = lin.collect()
    assert sum(r.page_count for r in rows) == stats["total_pages"]
    assert sum(r.doc_count for r in rows) == stats["total_docs"]
    assert all(r.status == "SUCCESS" for r in rows)
    # checksum recomputable from the output table
    ex = spark.read.parquet(f"{out}/extracted")
    recomputed = {
        r.partition_id: str(r.c)
        for r in ex.groupBy("partition_id")
        .agg(F.bit_xor(F.xxhash64("url", "page_no", "markdown")).alias("c"))
        .collect()
    }
    assert {r.partition_id: r.checksum for r in rows} == recomputed


def test_resume_skips_committed_buckets(spark, run_result):
    out, _, sink = run_result
    from zerox_spark.operators.resume import filter_uncommitted

    pages = synth_pages(spark, SF_SMOKE)
    committed, _ = sink.lineage_state("t1")
    remaining = filter_uncommitted(pages, committed, 16)
    # everything was committed → nothing left to do
    assert remaining.count() == 0
    # a fresh job id sees no committed work
    fresh = filter_uncommitted(pages, sink.lineage_state("other")[0], 16)
    assert fresh.count() == pages.count()


def test_duplicate_url_latest_warc_ts_wins(spark):
    pages = synth_pages(spark, SF_SMOKE).limit(4)
    old = pages.withColumn(
        "warc_ts", F.col("warc_ts") - F.expr("INTERVAL 1 DAY")
    ).withColumn("html", F.lit(b"<html><body><p>stale stale stale</p></body></html>"))
    both = pages.unionByName(old)
    pipe = ExtractionPipeline(PipelineConfig(num_partitions=4, num_buckets=8))
    got = pipe.transform(both).select("url", "markdown").collect()
    texts = [r.markdown for r in got]
    assert not any("stale" in t for t in texts)
    assert len({r.url for r in got}) == 4


def test_error_rows_contained_not_fatal(spark):
    from zerox_spark.schema import PAGES_SCHEMA

    pages = spark.createDataFrame(
        [
            Row(url="https://x/1", warc_ts=None, html=None, text=None, lang="en"),
            Row(url="https://x/2", warc_ts=None,
                html=b"<html><body><article><p>fine text</p></article></body></html>",
                text=None, lang="en"),
        ],
        PAGES_SCHEMA,
    )
    pipe = ExtractionPipeline(
        PipelineConfig(num_partitions=2, num_buckets=4)
    )
    got = {r.url: r for r in pipe.transform(pages).collect()}
    assert got["https://x/1"].status == "ERROR"
    assert got["https://x/2"].status == "SUCCESS"
    assert got["https://x/2"].markdown == "fine text"


def test_extract_iter_reuses_identical_neighbour(monkeypatch):
    """_extract_iter extracts a run of equal adjacent (payload, text) rows
    once and emits its pages under every url. Equality is exact and the
    reuse is adjacency-only: a different text, or a duplicate after some
    other row, is extracted again, and a leading (None, None) row is
    extracted like any other."""
    import pandas as pd

    from zerox_spark.extract.core import ExtractConfig
    from zerox_spark.operators import extract as ex

    calls: list = []
    real = ex.extract_document

    def counting(payload, text, config):
        calls.append((payload, text))
        return real(payload, text, config)

    monkeypatch.setattr(ex, "extract_document", counting)
    a = b"<html><body><article><p>alpha text</p></article></body></html>"
    b = b"<html><body><article><p>beta text</p></article></body></html>"
    rows = [
        (None, None),  # leading null row: must not match the sentinel
        (a, None), (a, None), (a, None),  # adjacent equal: one call
        (a, "trusted"),  # same payload, different text: a new call
        (b, None),
        (a, None),  # non-adjacent duplicate: extracted again
    ]

    def frame(part):
        return pd.DataFrame({
            "url": [f"https://r/{i}" for i, _ in part],
            "html": [h for _, (h, _) in part],
            "text": [t for _, (_, t) in part],
            "warc_ts": [None] * len(part),
        })

    indexed = list(enumerate(rows))
    # split mid-run: the reuse carries across Arrow batches
    out = pd.concat(list(ex._extract_iter(
        iter([frame(indexed[:2]), frame(indexed[2:])]), ExtractConfig()
    )))
    assert calls == [
        (None, None), (a, None), (a, "trusted"), (b, None), (a, None)
    ]
    assert list(out["url"]) == [f"https://r/{i}" for i in range(len(rows))]
    assert out["status"].iloc[0] == "ERROR"
    for i, (h, t) in enumerate(rows):
        page = real(h, t, ExtractConfig())[0]
        assert out["markdown"].iloc[i] == page.markdown
        assert out["status"].iloc[i] == page.status


def test_replicated_payloads_extract_like_per_row(spark, monkeypatch):
    """Each payload under 1-6 urls through pipeline.transform: the rows
    equal per-row extract_document output in every column but
    elapsed_ms, and partition_id stays the url's bucket. The corpus has
    a null-html trusted-text row, a multi-page %PDF-SYNTH doc (the
    maintainFormat fold runs), an ERROR payload, and heavy replicas above
    a lowered skew threshold, so the salt spreads one payload's copies."""
    import datetime
    from functools import partial

    import zerox_spark.pipeline as pipeline_mod
    from zerox_spark.extract.core import extract_document
    from zerox_spark.operators.repartition import salted_repartition
    from zerox_spark.schema import PAGES_SCHEMA
    from zerox_spark.synth import render_pdf

    heavy = (b"<html><body><article><p>"
             + b"heavy words " * 200 + b"</p></article></body></html>")
    payloads = [
        (b"<html><body><article><p>alpha text</p></article></body></html>",
         None, 3),
        (None, "trusted text only", 2),
        (render_pdf(4, " ".join(f"w{i}" for i in range(60))), None, 2),
        (b"\x00\x01garbage\xff" * 10, None, 2),  # binary guard → ERROR
        (heavy, None, 6),
        (b"<html><body><article><p>single</p></article></body></html>",
         "single text", 1),
    ]
    ts = datetime.datetime(2024, 1, 1)
    rows = [
        Row(url=f"https://mirror{r}.example/doc{d}?s={r}", warc_ts=ts,
            html=h, text=t, lang="en")
        for d, (h, t, n) in enumerate(payloads) for r in range(n)
    ]
    n_buckets = 8
    monkeypatch.setattr(pipeline_mod, "salted_repartition", partial(
        salted_repartition, skew_threshold=1000, salt_buckets=8
    ))
    pipe = ExtractionPipeline(
        PipelineConfig(num_partitions=4, num_buckets=n_buckets)
    )
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    got = sorted(
        (r.url, r.page_no, r.markdown, r.content_length, r.status,
         r.error, tuple(tuple(s) for s in r.spans), r.partition_id,
         r.warc_ts)
        for r in pipe.transform(pages).collect()
    )
    bucket = {
        r.url: r.b for r in pages.select(
            "url", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).alias("b")
        ).collect()
    }
    want = sorted(
        (r.url, p.page_no, p.markdown, p.content_length, p.status,
         p.error, tuple(tuple(s) for s in p.spans), bucket[r.url],
         r.warc_ts)
        for r in rows
        for p in extract_document(r.html, r.text, pipe.config.extract)
    )
    assert got == want
    assert {g[4] for g in got} == {"SUCCESS", "ERROR"}
    assert max(g[1] for g in got) == 3  # the pdf's pages, folded
    heavy_parts = {
        r.p for r in salted_repartition(
            pages.filter(F.length("html") > 1000), 4,
            skew_threshold=1000, salt_buckets=8,
        ).select(F.spark_partition_id().alias("p")).collect()
    }
    assert len(heavy_parts) > 1, "salt did not spread the heavy replicas"


@pytest.fixture(scope="module")
def fused_and_chained(spark, tmp_path_factory):
    """Rows (elapsed_ms dropped, url bucket added) of both shapes, keyed by
    family, over SF_SMOKE's doc_ids below 24 × #families: family i renders
    the block doc_id // 24 == i, and 24 consecutive ids hit every
    doc_id-modulo variant of every family. Fused is ONE extract_pages
    (render=) whose row_fn dispatches on the block; chained is ONE
    extract_pages over the union of each family's synth_pages block. The
    test's time is the per-task Python runner cost, so fewer runners."""
    from functools import reduce

    from zerox_spark.extract.core import ExtractConfig
    from zerox_spark.operators.extract import extract_pages

    fams = sorted(SYNTH_FAMILIES)
    sf = str(tmp_path_factory.mktemp("docs_slice"))
    duckdb.sql(
        f"COPY (SELECT * FROM '{SF_SMOKE}/documents.parquet'"
        f" WHERE doc_id < {24 * len(fams)}) TO '{sf}/documents.parquet'"
    )

    def row_fn(doc_id, text, lang, source):
        return SYNTH_FAMILIES[fams[doc_id // 24]](doc_id, text, lang, source)

    block = F.floor(
        F.regexp_extract("url", r"/(\d+)$", 1).cast("int") / 24
    ).cast("int")
    # not the defaults, so a config the fused path dropped would show
    cfg = ExtractConfig(
        maintain_format=True, trust_text=False, chunk_chars=300
    )
    n = 16
    fused = extract_pages(
        synth_docs(spark, sf, 1), cfg, n,
        render=lambda it: pages_frames(it, row_fn),
    )
    pages = reduce(DataFrame.unionByName, [
        synth_pages(spark, sf, 1, family=f).filter(block == i)
        for i, f in enumerate(fams)
    ])
    chained = extract_pages(pages.coalesce(1), cfg, n)
    bucket = F.pmod(F.xxhash64("url"), F.lit(n)).alias("bucket")

    def by_family(df):
        out: dict[str, list] = {}
        for r in df.drop("elapsed_ms").select(
            "*", bucket, block.alias("_block")
        ).collect():
            row = r.asDict()
            out.setdefault(fams[row.pop("_block")], []).append(row)
        for rows in out.values():
            rows.sort(key=lambda r: (r["url"], r["page_no"]))
        return out

    return by_family(fused), by_family(chained)


@pytest.mark.parametrize("family", sorted(SYNTH_FAMILIES))
def test_fused_extract_equals_chained(fused_and_chained, family):
    """extract_pages(render=...) over the documents ≡ extract_pages over
    that family's synth_pages corpus, partition_id included, and every
    partition_id is the url's bucket."""
    fused, chained = fused_and_chained
    got = fused[family]
    assert got == chained[family]
    assert len({r["url"] for r in got}) == 24
    assert all(r["partition_id"] == r["bucket"] for r in got)


def test_simhash_finds_injected_near_dups(spark):
    from zerox_spark.operators.dedup import (
        DUP_NEAR_EQ, DUP_NEAR_MOD, DUP_NEAR_OFFSET,
        dedup_simhash_pairs, with_injected_duplicates,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    corpus = with_injected_duplicates(docs)
    pairs = dedup_simhash_pairs(corpus).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    injected = {
        (r.doc_id, r.doc_id + DUP_NEAR_OFFSET)
        for r in docs.filter(F.col("doc_id") % DUP_NEAR_MOD == DUP_NEAR_EQ).collect()
    }
    recall = len(found & injected) / len(injected)
    # simhash at hamming≤7 is approximate by design: a 2-word edit on a
    # short doc can flip >7 bits; ~0.85+ recall is the honest contract
    assert recall >= 0.8, (recall, len(injected))
    # exact copies must always collide (hamming 0)
    exact = {
        (r.doc_id, r.doc_id + 2_000_000)
        for r in docs.filter(F.col("doc_id") % 10 == 4).collect()
    }
    assert exact <= found


def test_simhash_udf_matches_agg_formulation(spark):
    from zerox_spark.operators.dedup import (
        _bit_lit,
        simhash,
        with_injected_duplicates,
    )

    corpus = with_injected_duplicates(
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    ).limit(150).unionByName(
        # null text has no features and drops out; empty text keeps its
        # one "" feature — both as in the explode formulation
        spark.createDataFrame(
            [(-1, None), (-2, "")], "doc_id long, text string"
        )
    )
    # the historical aggregation formulation, inline as the reference
    sh = corpus.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("w"),
    ).select("doc_id", F.xxhash64(F.col("w")).alias("h"))
    bit_sums = sh.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.col("h").bitwiseAND(_bit_lit(i)) != 0, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(64)
        ]
    )
    acc = F.when(F.col("b0") > 0, _bit_lit(0)).otherwise(F.lit(0).cast("long"))
    for i in range(1, 64):
        acc = acc.bitwiseOR(
            F.when(F.col(f"b{i}") > 0, _bit_lit(i)).otherwise(
                F.lit(0).cast("long")
            )
        )
    ref = {r.doc_id: r.s for r in bit_sums.select("doc_id", acc.alias("s")).collect()}
    got = {r.doc_id: r.simhash for r in simhash(corpus).collect()}
    assert got == ref and len(got) == 151 and -1 not in got


def test_ann_lsh_recall_vs_exact(spark):
    from zerox_spark.queries import q_ann_lsh, q_ann_topk

    exact = {(r.query_id, r.neighbor_id)
             for r in q_ann_topk(spark, SF_SMOKE).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in q_ann_lsh(spark, SF_SMOKE).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, recall


def test_media_metadata_plumbing(spark):
    from zerox_spark.operators.multimodal import media_metadata

    pages = synth_pages(spark, SF_SMOKE)
    meta = {r.url: r for r in media_metadata(pages).collect()}
    assert meta
    kinds = {r.media_kind for r in meta.values()}
    assert kinds == {"html", "pdf", "sheet"}
    assert all(r.n_bytes > 0 for r in meta.values())


def test_fingerprint_properties(spark):
    from zerox_spark.operators.textstats import _winnow_one

    a = "the quick brown fox jumps over the lazy dog again and again"
    # identical text → identical fingerprint
    assert _winnow_one(a) == _winnow_one(a)
    # winnowing guarantee: shared fingerprints for heavily-overlapping texts
    b = "PREFIX " + a
    shared = set(_winnow_one(a)) & set(_winnow_one(b))
    assert len(shared) >= len(set(_winnow_one(a))) * 0.5
    # short text → empty fingerprint, no crash
    assert _winnow_one("ab") == []


def test_payload_cte_matches_renderer_byte_for_byte():
    """The media_meta oracle's SQL payload reconstruction (_PAYLOAD_CTE)
    must equal synth.render_payload for every doc — guards the two
    implementations against drift."""
    import duckdb

    from zerox_spark.queries import _PAYLOAD_CTE
    from zerox_spark.synth import render_payload

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    rows = con.execute(
        _PAYLOAD_CTE + "SELECT doc_id, payload FROM payloads"
    ).fetchall()
    docs = {
        r[0]: r
        for r in con.execute(
            "SELECT doc_id, text, lang, source FROM documents"
        ).fetchall()
    }
    assert len(rows) == len(docs)
    for doc_id, payload in rows:
        _, text, lang, source = docs[doc_id]
        assert payload == render_payload(doc_id, text, lang, source).decode(
            "utf-8"
        ), f"payload drift for doc {doc_id}"


def test_ann_ivf_recall_vs_exact(spark):
    """IVF-flat (sampled-centroid cells + nprobe probing) must hold the
    documented recall floor against brute force on the hardest regime
    (unclustered random vectors), deterministically."""
    from pyspark.sql import functions as F

    from zerox_spark.operators.similarity import ann_topk_exact, ann_topk_ivf

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 25 == 0)
    exact = set(
        map(
            tuple,
            ann_topk_exact(emb, q, 5)
            .select("query_id", "neighbor_id")
            .collect(),
        )
    )
    ivf1 = ann_topk_ivf(emb, q, 64, 5).select("query_id", "neighbor_id")
    got = set(map(tuple, ivf1.collect()))
    assert len(exact & got) / len(exact) >= 0.7
    # deterministic: same plan, same rows on rerun
    assert set(map(tuple, ivf1.collect())) == got


def test_connected_components_transitive_chains(spark):
    """Min-label propagation must close transitive chains (a~b, b~c → one
    component) and handle multiple components + diameter > 2."""
    from pyspark.sql import Row

    from zerox_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [
            Row(id_a=1, id_b=2), Row(id_a=2, id_b=3),          # chain
            Row(id_a=10, id_b=11),                              # pair
            Row(id_a=31, id_b=30), Row(id_a=31, id_b=32),       # star+tail
            Row(id_a=33, id_b=32),                              # diameter 3
        ]
    )
    out = sorted(tuple(r) for r in connected_components(pairs).collect())
    assert out == [
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10),
        (30, 30), (31, 30), (32, 30), (33, 30),
    ]
    # empty pair graph → empty result, no crash
    empty = pairs.limit(0)
    assert connected_components(empty).count() == 0


def test_ann_ivf_empty_centroid_sample_raises(spark):
    """No vec_id divisible by centroid_mod → loud error, not silent empty
    top-k."""
    import pytest
    from pyspark.sql import functions as F

    from zerox_spark.operators.similarity import ann_topk_ivf

    emb = (
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .filter(F.col("vec_id") % 20 != 0)
        .limit(50)
    )
    with pytest.raises(ValueError, match="centroid sample is empty"):
        ann_topk_ivf(emb, emb.limit(3), 64, 5, centroid_mod=10**9)


def test_resize_and_frame_sample_plumbing(spark):
    """Multimodal frame-sample: real schema/batching/fan-out with the
    deterministic stub codec — exact expected values per contract."""
    import hashlib

    from pyspark.sql import Row

    from zerox_spark.operators.multimodal import FRAME_MOD, sample_frames

    pages = spark.createDataFrame(
        [
            Row(url="u1", html=bytearray(b"\x89PNGfakebytes")),
            Row(url="u2", html=bytearray(b"abc")),
            Row(url="u3", html=None),
        ]
    )
    frames = sample_frames(pages).collect()
    by_url: dict = {}
    for r in frames:
        by_url.setdefault(r.url, []).append(r)
    for url, payload in (("u1", b"\x89PNGfakebytes"), ("u2", b"abc"), ("u3", b"")):
        got = sorted(by_url[url], key=lambda r: r.frame_no)
        assert len(got) == 1 + len(payload) % FRAME_MOD, url
        assert [r.ts_ms for r in got] == [
            (i) * 1000 for i in range(len(got))
        ]
        assert bytes(got[0].frame) == hashlib.sha256(
            payload + (0).to_bytes(4, "little")
        ).digest()
