"""Driver-contract queries and their DuckDB oracles.

Each query is a (spark, sf_dir) → DataFrame callable; each oracle is ANSI-ish
SQL DuckDB runs over the same parquet tables (views: documents, embeddings,
…). Because the pages table is a *deterministic* derivation of ``documents``
(synth.py) and the extractor is deterministic, the oracle can state the
byte-exact expected markdown in closed form — the SQL below is the second,
independent implementation of the contract in synth.expected_markdown_pages,
so a value-hash match is a real end-to-end correctness check of the whole
tokenize→DOM→score→emit pipeline, not a tautology.

Column names/types are aligned on both sides (the driver hashes values after
sorting columns by name). Float-valued outputs either round(6) on exact
rational arithmetic (jaccard) or are dropped in favor of integer ranks (ANN)
to keep cross-engine hashes stable.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from zerox_spark.extract.core import ExtractConfig
from zerox_spark.operators.dedup import (
    dedup_exact,
    dedup_minhash_pairs,
    dedup_ngram_pairs,
    dedup_simhash_pairs,
    with_injected_duplicates,
)
from zerox_spark.operators.extract import extract_pages
from zerox_spark.operators.lineage import (
    SUMMARY_SCHEMA,
    bucket_aggregate,
    fold_summary,
    lineage_rows,
)
from zerox_spark.operators.multimodal import media_metadata
from zerox_spark.operators.similarity import ann_topk_exact, ann_topk_lsh
from zerox_spark.operators.textstats import (
    fingerprints,
    token_counts,
)
from zerox_spark.synth import (
    SYNTH_FAMILIES,
    pages_frames,
    synth_docs,
    synth_pages,
)

NUM_BUCKETS = 64
ANN_QUERY_MOD = 25
ANN_K = 5
EMBED_DIM = 64


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _spread(df: DataFrame, *keys: str, target: int | None = None) -> DataFrame:
    """Scan-parallelism floor for CPU-heavy operators over small inputs
    (guide §2.5/§6): the sandbox tables are single-row-group parquet files,
    so Spark can give their scans at most ONE task per file — and every
    expensive pre-shuffle stage (shingle explode + 128 minhash permutations,
    n-gram explode, winnowing UDF, cosine scoring) was measured running on
    1-3 tasks of a 32-core session (dedup_minhash: 6.8 core-seconds of work,
    5.7 s wall). A deterministic hash repartition on ``keys`` spreads that
    work; replay-stable (no rand(), SPARK-38388-safe) and a NO-OP whenever
    the input already has >= target partitions — which at production scale
    (many splits) is always, so no shuffle is added there.

    Placement matters, measured: spread the SMALLEST stream that feeds the
    expensive work (e.g. after with_injected_duplicates' union, not before
    it — 3 branches × 32 partitions = 96 tasks whose fixed per-task cost in
    the 128-aggregate stage tripled its CPU), and only where downstream
    work is heavy (a _spread under a single cheap projection costs more in
    exchange + task launches than it buys — text_quality lost 0.3 s to
    one).

    The partition key is xxhash64(keys), NOT the keys themselves: a spread
    whose partitioning satisfies a downstream groupBy's distribution elides
    that aggregation's Exchange — and the Exchange is the materialization
    point AQE reuse deduplicates when several consumers share the subtree.
    Measured on dedup_minhash: spreading by raw doc_id removed the
    signature agg's exchange and the band self-join recomputed the whole
    128-permutation pipeline on BOTH sides (cpu 14.9 s → 37.7 s)."""
    spark = df.sparkSession
    target = target or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, F.xxhash64(*[F.col(k) for k in keys]))


def _extracted(
    spark: SparkSession,
    sf_dir: str,
    family: str = "taxonomy",
    docs: DataFrame | None = None,
    **cfg,
) -> DataFrame:
    """One synth family's corpus, synthesized and extracted in ONE
    MapInArrow (extract_pages ``render``), over every document or over
    the ``docs`` slice of synth_docs a query passes."""
    row_fn = SYNTH_FAMILIES[family]
    return extract_pages(
        synth_docs(spark, sf_dir) if docs is None else docs,
        ExtractConfig(**cfg),
        NUM_BUCKETS,
        render=lambda it: pages_frames(it, row_fn),
    )


# ---------------------------------------------------------------------------
# extraction queries


def q_extract_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full extraction of the synthesized crawl at this sf."""
    return _extracted(spark, sf_dir, maintain_format=True).select(
        "url", "page_no", "markdown", "content_length"
    )


def q_extract_doc_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 aggregation: per-document markdown artifact (pages joined \\n\\n in
    page order, node-zerox/src/index.ts:564-568) + page count + length."""
    from zerox_spark.operators.extract import pages_join_expr

    ex = _extracted(spark, sf_dir, maintain_format=True)
    return (
        ex.groupBy("url")
        .agg(
            pages_join_expr("\n\n").alias("doc_markdown"),
            F.count(F.lit(1)).alias("n_pages"),
        )
        .select(
            "url",
            "doc_markdown",
            "n_pages",
            F.length("doc_markdown").cast("int").alias("doc_length"),
        )
    )


def q_extract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-provenance histogram: span-kind counts per url (explode+agg)."""
    ex = _extracted(spark, sf_dir, maintain_format=True)
    return (
        ex.select("url", F.explode("spans").alias("s"))
        .groupBy("url", F.col("s.kind").alias("kind"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_page_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8/A8: select_pages=[2,3] over ≥3-page PDF docs — page pruning +
    renumbering semantics (py_zerox/pyzerox/core/zerox.py:182-194)."""
    d = F.col("doc_id")
    multi = synth_docs(spark, sf_dir).filter(
        (d % 5 == 0) & ((d % 3 == 1) | (d % 3 == 2))
    )
    ex = _extracted(spark, sf_dir, docs=multi, select_pages=[2, 3])
    return ex.select("url", "page_no", "markdown")


def q_extract_ooxml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real OOXML containers (stdlib zip+XML): xlsx sheet-per-page + docx
    heading/list/table/page-break extraction (extract/ooxml.py)."""
    ex = _extracted(spark, sf_dir, "ooxml", trust_text=False)
    return ex.select("url", "page_no", "markdown")


def q_extract_legacy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real legacy-Office CFB containers (stdlib struct): .xls BIFF8
    sheet-per-page + .doc Word97 piece-table pages (extract/cfb.py,
    extract/legacy_office.py)."""
    ex = _extracted(spark, sf_dir, "legacy", trust_text=False)
    return ex.select("url", "page_no", "markdown")


def q_extract_pptx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real presentation containers, slide = page: pptx (zip+XML, even
    doc_ids) and legacy .ppt ([MS-PPT] records in CFB, odd doc_ids) —
    extract/ooxml.py pptx path + extract/legacy_office.py ppt path."""
    ex = _extracted(spark, sf_dir, "pres", trust_text=False)
    return ex.select("url", "page_no", "markdown")


def q_extract_odf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real OpenDocument containers: ods sheet-per-page (even doc_ids,
    byte-identical to the xlsx/xls containers of the same workbook) + odt
    heading/list/table extraction (odd) — extract/ooxml.py ODF branch."""
    ex = _extracted(spark, sf_dir, "odf", trust_text=False)
    return ex.select("url", "page_no", "markdown")


def q_extract_misc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last reference input families: odp slide-per-page (doc_id%4==0,
    extract/ooxml.py ODF presentation branch), standalone XML element-text
    paragraphs (==1, extract/core.py), WordPerfect .wpd (==2, WP5.x byte
    model, extract/legacy_office.py), and ENCRYPTED Office under Excel's
    default password (==3: ECMA-376 agile/standard OOXML + BIFF8
    RC4/CryptoAPI .xls — the 'protected workbook' crawl shape the
    reference opens implicitly via libreoffice, file.ts:129-150;
    extract/office_crypto.py)."""
    ex = _extracted(spark, sf_dir, "misc", trust_text=False)
    return ex.select("url", "page_no", "markdown")


def q_extract_rtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RTF group/control-word extraction: destinations stripped, \\page
    page split, paragraph blocks (extract/rtf.py)."""
    ex = _extracted(spark, sf_dir, "rtf", trust_text=False)
    return ex.select("url", "page_no", "markdown")


def q_extract_delimited(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-sniffed csv/tsv structured fast path: one first-row-<th>
    table page per payload (csv carries the sheet_cells data grid; tsv
    carries a quoted field pinning csv-module escaping)."""
    ex = _extracted(spark, sf_dir, "delimited", trust_text=False)
    return ex.select("url", "page_no", "markdown")


def q_extract_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-containment contract, driver-checked: every third doc is a
    deterministically-corrupt CFB payload → exactly one ERROR row with
    empty markdown and content_length 0; valid docs extract normally. The
    oracle states the ERROR set and per-status counts in closed form."""
    ex = _extracted(spark, sf_dir, "poison")
    return ex.select("url", "page_no", "status", "content_length")


def q_extract_pdf_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENUINE born-digital %PDF-1.4 payloads (xref + FlateDecode +
    WinAnsi/Differences/Type0+ToUnicode/declared-Widths fonts, plus — new
    in round 6 — an image-XObject figure page that emits the dialect's
    ![figure](#) placeholder and a Type 3 /Differences-only font; six
    variants by doc_id%6) through the real PDF parser (extract/pdf.py) —
    the reference's #1 input type (README.md:489), read from the text
    layer instead of rasterize+OCR (node-zerox/src/utils/file.ts:153-207).
    Figure placeholders follow the reference dialect's mandate
    (shared/systemPrompt.txt; goldens shared/outputs/*.md use ![...](#))."""
    ex = _extracted(spark, sf_dir, "pdf_real", trust_text=False)
    return ex.select("url", "page_no", "markdown")


def q_extract_pdf_crypt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5/6 real-world PDF gaps, driver-hashed (doc_id % 8 variants):
    RC4 /V2, AES-128 /AESV2 and AES-256 /AESV3 encryption with empty
    passwords (the 'owner-locked' crawl shape the reference decrypts
    implicitly via poppler, node-zerox/src/utils/file.ts:153-207), a
    filled AcroForm (appearance streams + /V fallbacks + checkbox ☑), a
    Type0 font on the predefined /UniGB-UCS2-H CJK CMap without
    ToUnicode, ToUnicode-less SYMBOLIC subset fonts whose accented text
    is reachable ONLY through the embedded font program (Type1C/CFF
    standard SIDs; TrueType post-2.0 standard Macintosh names — the
    pdfTeX-era European-document shape, round 6), and an XFA-only
    LiveCycle form whose values live in the ``datasets`` packet."""
    ex = _extracted(spark, sf_dir, "pdf_crypt", trust_text=False)
    return ex.select("url", "page_no", "markdown")


def q_extract_binary_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary/media payloads (png/jpeg/gif/heic magics + magic-less
    high-entropy bytes) must yield contained ERROR rows, never SUCCESS
    mojibake (round-3 What's-wrong #1). ``kind`` is the guard's sniffed
    reason, extracted from the contained error message; ``media_kind`` /
    ``n_bytes`` are media_metadata's independent sniff over the same
    corpus (offset-based ftyp brands incl. heic — the C2
    convertHeicToJpeg analog), folded in here so the driver checks both
    in one registry slot (r4 driver/registry-drift fix)."""
    ex = _extracted(spark, sf_dir, "binary").select(
        "url",
        "status",
        F.regexp_extract("error", r"\((\w+)", 1).alias("kind"),
        "content_length",
    )
    sniff = media_metadata(
        synth_pages(spark, sf_dir, family="binary")
    ).select("url", "n_bytes", "media_kind")
    return ex.join(sniff, "url")


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (training-data hygiene): flag corpus docs
    sharing any 8-word n-gram with a benchmark set (here: the doc_id%41==0
    slice standing in for an eval set). Broadcast semi-join on the small
    benchmark gram table — the crawl side never shuffles for the match."""
    from zerox_spark.operators.decontam import decontaminate

    docs = _spread(_docs(spark, sf_dir), "doc_id")
    bench = docs.filter((F.col("doc_id") % 41) == 0)
    return decontaminate(docs, bench)


def _doc_url_col(scheme: str = "https", port: str = ""):
    """synth.doc_url as a JVM column over (doc_id, source), optionally
    spelled with another scheme or an explicit port."""
    d = F.col("doc_id")
    return F.concat(
        F.lit(f"{scheme}://site"), (d % 97).cast("string"),
        F.lit(f".example{port}/"), F.col("source"), F.lit("/"),
        d.cast("string"),
    )


def _noisy_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministically-decorated spellings of each doc's url: tracking
    params + fragment + a '?' INSIDE a param value (doc_id%4==0), explicit
    :443 port — redundant under https (doc_id%8==1) but identity-bearing
    under http (doc_id%8==5), trailing slash (==2), clean (==3)."""
    docs = _docs(spark, sf_dir).select("doc_id", "source")
    d = F.col("doc_id")
    base = _doc_url_col()
    ported = _doc_url_col(port=":443")
    http_ported = _doc_url_col("http", ":443")
    noisy = (
        F.when(d % 4 == 0, F.concat(
            base, F.lit("?utm_source=feed&b=2&a="), (d % 7).cast("string"),
            F.lit("?x#sec"),
        ))
        .when(d % 8 == 1, ported)
        .when(d % 8 == 5, http_ported)
        .when(d % 4 == 2, F.concat(base, F.lit("/")))
        .otherwise(base)
    )
    return docs.select("doc_id", noisy.alias("url"))


def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (crawl hygiene): tracking params stripped +
    remaining params sorted, fragments dropped, default ports removed,
    trailing slashes trimmed — pure JVM column algebra
    (operators/urltools.py), oracle states the closed form per doc_id."""
    from zerox_spark.operators.urltools import canonical_urls

    return canonical_urls(_noisy_urls(spark, sf_dir)).select(
        "doc_id", "canonical_url", "domain"
    )


def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain accounting over TWO spellings of every url (noisy + clean):
    n_pages counts both, n_canonical collapses them — the measurable
    effect of canonicalization on url-keyed dedup."""
    from zerox_spark.operators.urltools import domain_stats

    noisy = _noisy_urls(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "source")
    clean = docs.select("doc_id", _doc_url_col().alias("url"))
    return domain_stats(noisy.unionByName(clean))


def q_extract_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A4: the ZeroxOutput.summary analog over the whole corpus, folded
    on the driver from the collected bucket rows like pipeline.run's."""
    buckets = bucket_aggregate(
        _extracted(spark, sf_dir, maintain_format=True)
    ).toArrow()
    return spark.createDataFrame([fold_summary(buckets)], SUMMARY_SCHEMA)


def q_keyword_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 compareKeywords analog: is 'document <id>' contained
    (case-insensitive) in the document's joined markdown?"""
    from zerox_spark.operators.extract import pages_join_expr

    ex = _extracted(spark, sf_dir, maintain_format=True)
    # page-ordered join (not a bare collect_list): contains() is
    # order-invariant today, but a nondeterministic md column is a trap
    # for any future positional use of this aggregate
    doc = ex.groupBy("url").agg(pages_join_expr("\n\n").alias("md"))
    doc_id = F.regexp_extract("url", r"/(\d+)$", 1)
    kw = F.concat(F.lit("document "), doc_id)
    return doc.select(
        "url",
        F.when(F.contains(F.lower(F.col("md")), kw), 1)
        .otherwise(0)
        .cast("int")
        .alias("found"),
    )


# demo JSON Schema for the structured-extraction mode (selector semantics in
# operators/structured.py; split per common.ts:85-121 via extract_per_page)
DEMO_EXTRACTION_SCHEMA = {
    "type": "object",
    "properties": {
        "title": {"type": "string", "x-selector": "first_heading"},
        "n_checkboxes": {"type": "integer", "x-selector": "span_count:checkbox"},
        "page_chars": {"type": "integer", "x-selector": "content_length"},
        "doc_chars": {"type": "integer", "x-selector": "content_length"},
        "n_pages": {"type": "integer", "x-selector": "page_count"},
        "first_num": {"type": "string", "x-selector": "regex:([0-9]+)"},
    },
    "required": ["title"],
}
DEMO_PER_PAGE_KEYS = ["title", "n_checkboxes", "page_chars"]


def q_extract_structured(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTRACTION mode: schema-driven per-page + full-doc value extraction
    (A5 accumulation shape: url, key, page_no, value; page_no=0 = doc)."""
    from zerox_spark.operators.structured import extract_structured

    ex = _extracted(spark, sf_dir, maintain_format=True)
    return extract_structured(ex, DEMO_EXTRACTION_SCHEMA, DEMO_PER_PAGE_KEYS)


def q_lineage_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket lineage rows (no SQL oracle: bucketing is xxhash64-based,
    which DuckDB lacks — rows-only check; exact values asserted in pytest)."""
    raw = _extracted(spark, sf_dir, maintain_format=True)
    return lineage_rows(bucket_aggregate(raw), "oracle-job").select(
        "partition_id", "doc_count", "page_count", "status"
    )


def q_lineage_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-bucket lineage totals, value-checked: sums of the per-bucket
    lineage rows are independent of the xxhash64 bucket ids, so the SQL
    oracle can assert them — the lineage aggregation pipeline (counts,
    statuses, bucket cardinality) is hash-checked even though the bucket
    keys themselves stay rows-only."""
    raw = _extracted(spark, sf_dir, maintain_format=True)
    lin = lineage_rows(bucket_aggregate(raw), "oracle-job")
    return lin.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("doc_count").alias("total_docs"),
        F.sum("page_count").alias("total_pages"),
        F.sum(
            F.when(F.col("status") == "SUCCESS", 1).otherwise(0)
        ).alias("clean_buckets"),
    )


# ---------------------------------------------------------------------------
# dedup / similarity / text-stats queries


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_exact(
        _spread(with_injected_duplicates(_docs(spark, sf_dir)), "doc_id")
    )


def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_ngram_pairs(
        _spread(with_injected_duplicates(_docs(spark, sf_dir)), "doc_id")
    )


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_minhash_pairs(
        _spread(with_injected_duplicates(_docs(spark, sf_dir)), "doc_id")
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No SQL oracle (xxhash64 parity impossible in DuckDB); recall/precision
    asserted against exact pairs in pytest."""
    return dedup_simhash_pairs(
        _spread(with_injected_duplicates(_docs(spark, sf_dir)), "doc_id")
    )


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/FineWeb-style cross-document boilerplate-line removal over the
    extracted corpus: any non-empty markdown line appearing in ≥2 distinct
    urls is stripped from every page (repeated list items, shared code
    fences — what survives per-document extraction).

    The extraction is PERSISTED first — dedup_lines' two branches (boiler
    count, join-back) would otherwise each evaluate the expensive extract
    lineage (see its docstring). A cached InMemoryRelation is the same
    materialization barrier the earlier parquet staging provided, without
    owning a temp directory: nothing is left on disk after any number of
    passes (r4 What's-wrong #2 — the atexit-cleaned staging root), and
    the previous pass's cache is dropped on re-entry so repeated bench
    rounds don't accumulate block-manager storage either."""
    from zerox_spark.operators.dedup import dedup_lines

    ex = (
        _extracted(spark, sf_dir, maintain_format=True)
        .select("url", "page_no", "markdown")
        .persist()
    )
    while _LINE_DEDUP_CACHE:
        _LINE_DEDUP_CACHE.pop().unpersist(blocking=False)
    _LINE_DEDUP_CACHE.append(ex)
    return dedup_lines(ex, min_docs=2).select(
        "url", "page_no", "clean_md", "n_removed"
    )


_LINE_DEDUP_CACHE: list[DataFrame] = []


def _simhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-hashed floor for the SimHash family (the ann_recall pattern):
    recall of the 8-band blocking vs the EXACT hamming-≤7 self-join over
    the same signatures, floor-clamped at 100. Pigeonhole guarantees the
    banding misses nothing at radius 7, so the true value IS 100 — a
    BANDING regression (wrong chunks, dropped bands, broken bucket join)
    drops it and fails the driver's hash check. Scope honestly stated:
    both sides derive from the same simhash() output, so a regression in
    the signature computation itself cancels out here — that half is
    covered by the pytest recall/precision assertions against exact
    text-level near-dups (do not delete those on the strength of this
    oracle). The exact self-join is the declared test-scale ground truth
    (all-pairs on the (doc_id, int64) signature table only — never on
    text), mirroring dedup_ngram's role."""
    from zerox_spark.operators.dedup import simhash

    corpus = _spread(with_injected_duplicates(_docs(spark, sf_dir)), "doc_id")
    sigs = simhash(corpus)
    l, r = sigs.alias("l"), sigs.alias("r")
    exact = (
        l.join(r, F.col("l.doc_id") < F.col("r.doc_id"))
        .filter(
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            )
            <= 7
        )
        .select(
            F.col("l.doc_id").alias("id_a"), F.col("r.doc_id").alias("id_b")
        )
    )
    banded = dedup_simhash_pairs(corpus).select(
        "id_a", "id_b", F.lit(1).alias("hit")
    )
    joined = exact.join(banded, ["id_a", "id_b"], "left")
    recall = joined.agg(
        F.least(
            F.floor(
                F.sum(F.coalesce(F.col("hit"), F.lit(0)))
                * 100
                / F.count(F.lit(1))
            ),
            F.lit(100).cast("long"),
        ).alias("recall_floor_pct")
    )
    n_docs = corpus.agg(F.count(F.lit(1)).alias("n_docs"))
    return n_docs.crossJoin(recall)


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the CORPUS is the stream side of the broadcast nested-loop join
    # (the tiny query set is the build side) — unspread, one scan task
    # does all Q×N cosine scoring
    emb = _spread(_embeddings(spark, sf_dir), "vec_id")
    queries = emb.filter(F.col("vec_id") % ANN_QUERY_MOD == 0)
    return ann_topk_exact(emb, queries, k=ANN_K).select(
        "query_id", "rank", "neighbor_id"
    )


EMB_DUP_MOD, EMB_DUP_EQ = 10, 6
EMB_DUP_EXACT_OFFSET = 2_000_000
EMB_DUP_NEAR_OFFSET = 1_000_000
EMB_DUP_THRESHOLD = 0.9


def _embeddings_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inject deterministic near-duplicate vectors (random embeddings have
    no natural near-dups): an exact copy and a first-component-zeroed copy
    (cosine ≈ 0.99) for every vec_id % 10 == 6 — the same derivation the
    oracle states in SQL."""
    emb = _embeddings(spark, sf_dir).select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") % EMB_DUP_MOD == EMB_DUP_EQ)
    exact = base.select(
        (F.col("vec_id") + EMB_DUP_EXACT_OFFSET).alias("vec_id"), "embedding"
    )
    near = base.select(
        (F.col("vec_id") + EMB_DUP_NEAR_OFFSET).alias("vec_id"),
        F.concat(
            F.array(F.lit(0.0).cast("float")),
            F.slice(F.col("embedding"), 2, EMBED_DIM - 1),
        ).alias("embedding"),
    )
    # spread AFTER the union (the minhash lesson: spreading each branch
    # multiplies partitions by the branch count and per-task fixed costs)
    return _spread(emb.unionByName(exact).unionByName(near), "vec_id")


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters over the MinHash pair graph — the
    FineWeb-style cluster dedup (pairwise loser-removal under-deletes
    chains). Iterative min-label propagation on Spark; the oracle computes
    the same closure with a DuckDB recursive CTE."""
    from zerox_spark.operators.dedup import connected_components

    corpus = _spread(with_injected_duplicates(_docs(spark, sf_dir)), "doc_id")
    return connected_components(dedup_minhash_pairs(corpus))


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via LSH candidates + exact verify."""
    from zerox_spark.operators.similarity import embedding_dup_pairs

    corpus = _embeddings_with_dups(spark, sf_dir)
    return embedding_dup_pairs(corpus, EMBED_DIM, EMB_DUP_THRESHOLD)


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate path (recall vs exact verified in pytest AND by the
    hash-checked _ann_recall floor; the raw rows stay rows-only because
    per-query LSH output is probabilistic w.r.t. any SQL restatement)."""
    emb = _spread(_embeddings(spark, sf_dir), "vec_id")
    queries = emb.filter(F.col("vec_id") % ANN_QUERY_MOD == 0)
    return ann_topk_lsh(emb, queries, EMBED_DIM, k=ANN_K).select(
        "query_id", "rank", "neighbor_id"
    )


# LSH recall floor the driver asserts via oracle hash: measured recall@5 is
# 0.85 at sf0.001 AND sf0.01 (deterministic planes + data); 70 leaves margin
# for sf drift while still failing loudly on a real recall regression.
ANN_RECALL_FLOOR = 70
# edited-item fuzzy-decontamination floor (round 6): measured 100% at
# sf0.001/0.01/0.1; 95 leaves hash-stable slack for one borderline edit
EDITED_FUZZY_FLOOR = 95


def _recall_floor(
    spark: SparkSession, sf_dir: str, approx_fn
) -> DataFrame:
    """recall@k of an approximate ANN path vs the exact path, floor-clamped
    so the oracle can assert it in closed form: emits (n_queries,
    recall_floor_pct) where recall_floor_pct = min(floor(100*recall),
    ANN_RECALL_FLOOR). Above the floor the value is the constant
    ANN_RECALL_FLOOR (hash-stable); a recall regression below the floor
    changes the value and fails the driver's hash check."""
    emb = _spread(_embeddings(spark, sf_dir), "vec_id")
    queries = emb.filter(F.col("vec_id") % ANN_QUERY_MOD == 0)
    exact = ann_topk_exact(emb, queries, k=ANN_K).select(
        "query_id", "neighbor_id"
    )
    approx = approx_fn(emb, queries, EMBED_DIM, k=ANN_K).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    joined = exact.join(approx, ["query_id", "neighbor_id"], "left")
    return joined.agg(
        F.count_distinct("query_id").alias("n_queries"),
        F.least(
            F.floor(
                F.sum(F.coalesce(F.col("hit"), F.lit(0)))
                * 100
                / F.count(F.lit(1))
            ),
            F.lit(ANN_RECALL_FLOOR).cast("long"),
        ).alias("recall_floor_pct"),
    )


def _ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the LSH path vs exact (see _recall_floor)."""
    return _recall_floor(spark, sf_dir, ann_topk_lsh)


def _ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the IVF-flat path vs exact (see _recall_floor; measured
    0.92-0.98; floor 70 fails loudly on regression, absorbs sf drift).
    The sandbox corpus is UNCLUSTERED — the hardest IVF regime — so this
    query passes the worst-case nprobe (half the cells) explicitly rather
    than baking that scaling into the library default."""
    from zerox_spark.operators.similarity import IVF_NPROBE, ann_topk_ivf

    def ivf_worstcase(emb, queries, dim, k):
        # the policy rides the operator's own guard count — no extra scan
        return ann_topk_ivf(
            emb, queries, dim, k=k,
            nprobe_fn=lambda n_cells: max(IVF_NPROBE, (n_cells + 1) // 2),
        )

    return _recall_floor(spark, sf_dir, ivf_worstcase)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zerox_spark.operators.events import sessionize

    return sessionize(_events(spark, sf_dir))


def q_events_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zerox_spark.operators.events import top_events_per_user

    return top_events_per_user(_events(spark, sf_dir))


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zerox_spark.operators.events import event_type_rollup

    return event_type_rollup(_events(spark, sf_dir))


SNAP_MOD = 20


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (an operator Spark lacks natively, implemented as the
    single-shuffle carry-forward window — operators/events.asof_join):
    each document row joins the LATEST site-metadata snapshot at or before
    its time. Integer times (doc_id IS the clock) keep the comparison free
    of cross-engine timestamp semantics; the oracle is DuckDB's native
    ASOF JOIN — a genuinely independent second implementation."""
    from zerox_spark.operators.events import asof_join

    docs = _docs(spark, sf_dir).select("doc_id")
    pages = docs.select(
        "doc_id", (F.col("doc_id") % 97).alias("site")
    )
    snaps = (
        docs.filter(F.col("doc_id") % SNAP_MOD == 0)
        .select(
            (F.col("doc_id") % 97).alias("site"),
            F.col("doc_id").alias("snap_ts"),
            F.col("doc_id").alias("snap_id"),
        )
    )
    out = asof_join(pages, snaps, key="site", probe_ts="doc_id", build_ts="snap_ts")
    return out.select("doc_id", F.col("matched.snap_id").alias("snap_id"))


def q_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship training-data pipeline: quality gate → exact dedup →
    near-dup removal → token accounting, one lazy plan."""
    from zerox_spark.operators.curation import curate

    return curate(
        _spread(with_injected_duplicates(_docs(spark, sf_dir)), "doc_id")
    )


SAMPLE_RATES = {"en": 50, "de": 100, "fr": 25}
SAMPLE_DEFAULT = 10


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mod-based stratified sampling by lang (the
    data-mixing primitive): en 50%, de 100%, fr 25%, everything else 10%
    — replay-stable, shuffle-free, exactly restatable in SQL."""
    from zerox_spark.operators.curation import stratified_sample

    return stratified_sample(
        _docs(spark, sf_dir), SAMPLE_RATES, SAMPLE_DEFAULT
    ).select("doc_id", "lang")


def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mix accounting: (lang, source) ROLLUP of doc counts and
    whitespace-token totals — the table a mixing decision reads."""
    from zerox_spark.operators.curation import corpus_mix

    return corpus_mix(_docs(spark, sf_dir))


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID + the quality-feature battery, ONE projection over one
    scan (round 6: the former lang_id and quality_score slots folded, so
    pack_placement gets its own slot within the 50-entry registry)."""
    from zerox_spark.operators.textstats import text_quality

    return text_quality(_docs(spark, sf_dir))


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token accounting: ws/bpe token counts per doc (round 6
    moved the packing placement to its own pack_placement slot, so each
    slot's bench cost is one operator's again)."""
    return token_counts(_docs(spark, sf_dir))


def q_pack_placement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENCE-PACKING placement: each doc's slot in the GPT-style
    concat-then-chunk layout (shard, starting token offset, first/last
    sequence index at seq_len=512 over 16 shards) via the two-level
    prefix-sum plan — bounded (shard, block) windows + a broadcast carry
    join, no whole-shard-on-one-task window and no global sort
    (operators/packing.py, round 6)."""
    from zerox_spark.operators.packing import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), seq_len=512, n_shards=16)


PIVOT_LANGS = ["en", "de", "fr", "es", "zz"]


def q_corpus_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact document-length quantiles per lang (linear interpolation —
    Spark `percentile` and DuckDB `quantile_cont` agree bit-for-bit after
    round(6)) — the corpus-profiling sweep a partition-sizing or filter-
    threshold decision reads. One map-side-combined agg."""
    return (
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.percentile(F.length("text"), F.lit(0.5)), 6).alias("p50"),
            F.round(F.percentile(F.length("text"), F.lit(0.9)), 6).alias("p90"),
            F.round(F.percentile(F.length("text"), F.lit(0.99)), 6).alias("p99"),
        )
    )


def q_lang_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc counts per source PIVOTed by lang (explicit value list — the
    two-pass inferred pivot is a driver round trip the plan doesn't need);
    nulls → 0 so the hash compare is engine-stable."""
    piv = (
        _docs(spark, sf_dir)
        .groupBy("source")
        .pivot("lang", PIVOT_LANGS)
        .count()
    )
    return piv.select(
        "source",
        *[
            F.coalesce(F.col(lang), F.lit(0)).cast("bigint").alias(lang)
            for lang in PIVOT_LANGS
        ],
    )


def q_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-quality rule battery (word-count/mean-word-length
    bounds, symbol ratio, alphabetic-word fraction, stop-word floor) —
    the standard pre-training corpus gate, pure column algebra."""
    from zerox_spark.operators.textstats import gopher_filter

    return gopher_filter(_docs(spark, sf_dir))


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zerox_spark.operators.textstats import redact_pii

    return redact_pii(_docs(spark, sf_dir))


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zerox_spark.operators.textstats import repetition_stats

    return repetition_stats(_spread(_docs(spark, sf_dir), "doc_id"))


# --------------------------------------------------------------------------
# consolidated registry slots (r4 Next-round #4: the driver checks at most
# 50 queries; these fold same-corpus / same-shape families into one slot
# each so queries() ≡ the driver-checked set again, losing no coverage)


def q_media_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """media_meta ⋈ media_frames in one slot: per-payload metadata columns
    joined to the frame-sampling fan-out, both value-checked against the
    byte-level payload reconstruction (_PAYLOAD_CTE)."""
    from zerox_spark.operators.multimodal import sample_frames

    pages = synth_pages(spark, sf_dir)
    meta = media_metadata(pages).select("url", "n_bytes", "media_kind")
    frames = sample_frames(pages).select("url", "frame_no", "ts_ms")
    return meta.join(frames, "url")


def q_text_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ngram_counts ∪ fingerprints in one slot, as (kind, key, n1, n2,
    payload) rows: kind='bigram' carries the top-100 corpus bigrams
    (key=gram, n1=doc freq, n2=total count); kind='winnow' carries the
    per-doc winnowing fingerprints (key=doc_id, n1=fingerprint count,
    payload=comma-joined fingerprint list)."""
    from zerox_spark.operators.textstats import ngram_counts

    docs = _spread(_docs(spark, sf_dir), "doc_id")
    grams = ngram_counts(docs, n=2, k=100).select(
        F.lit("bigram").alias("kind"),
        F.col("ngram").alias("key"),
        F.col("n_docs").cast("long").alias("n1"),
        F.col("n_total").cast("long").alias("n2"),
        F.lit(None).cast("string").alias("payload"),
    )
    fp = fingerprints(docs).select(
        F.lit("winnow").alias("kind"),
        F.col("doc_id").cast("string").alias("key"),
        F.size("fp").cast("long").alias("n1"),
        F.lit(None).cast("long").alias("n2"),
        F.array_join(
            F.transform("fp", lambda x: x.cast("string")), ","
        ).alias("payload"),
    )
    return grams.unionByName(fp)


def q_recall_floors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The five driver-hashed recall floors in one slot: (metric,
    n_items, recall_floor_pct) for the SimHash 8-band blocking, the ANN
    LSH path, the IVF-flat path, verbatim fuzzy decontamination, and —
    round 6 — EDITED-item fuzzy decontamination (see _simhash_recall /
    _recall_floor / edited_benchmark_variants for scope statements)."""
    sim = _simhash_recall(spark, sf_dir).select(
        F.lit("simhash_band").alias("metric"),
        F.col("n_docs").cast("long").alias("n_items"),
        "recall_floor_pct",
    )
    lsh = _ann_recall(spark, sf_dir).select(
        F.lit("ann_lsh").alias("metric"),
        F.col("n_queries").cast("long").alias("n_items"),
        "recall_floor_pct",
    )
    ivf = _ann_ivf_recall(spark, sf_dir).select(
        F.lit("ann_ivf").alias("metric"),
        F.col("n_queries").cast("long").alias("n_items"),
        "recall_floor_pct",
    )
    # fuzzy-decontamination floor: the benchmark is a verbatim corpus
    # slice, so every benchmark item's own corpus row contains it fully
    # (containment 1; identical signatures share every band) — the
    # candidate passes + containment verification must flag 100% of them;
    # any banding/gram/verification regression drops below and
    # hash-mismatches
    from zerox_spark.operators.decontam import decontaminate_fuzzy

    docs = _spread(_docs(spark, sf_dir), "doc_id")
    bench = docs.filter((F.col("doc_id") % 41) == 0)
    fz = (
        decontaminate_fuzzy(docs, bench)
        .join(bench.select("doc_id"), "doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.least(
                F.floor(
                    F.sum("fuzzy_contaminated") * 100 / F.count(F.lit(1))
                ),
                F.lit(100),
            )
            .cast("long")
            .alias("recall_floor_pct"),
        )
        .select(
            F.lit("fuzzy_decontam").alias("metric"),
            "n_items",
            "recall_floor_pct",
        )
    )
    # edited-item floor (round 6): the verbatim row above locks the
    # plumbing, but a verbatim slice is caught by the EXACT pass too —
    # the value fuzzy decontamination adds is catching EDITED items
    # (word swaps, renumbered digits), which kill every 8-gram. The
    # deterministic edit generator produces those; the fuzzy path must
    # flag ≥ EDITED_FUZZY_FLOOR % of them (clamped like the ANN floors,
    # so the oracle asserts the constant and any regression below it
    # hash-mismatches)
    from zerox_spark.operators.decontam import edited_benchmark_variants

    edited = edited_benchmark_variants(bench)
    efz = (
        decontaminate_fuzzy(edited, bench)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.least(
                F.floor(
                    F.sum("fuzzy_contaminated") * 100 / F.count(F.lit(1))
                ),
                F.lit(EDITED_FUZZY_FLOOR),
            )
            .cast("long")
            .alias("recall_floor_pct"),
        )
        .select(
            F.lit("edited_fuzzy").alias("metric"),
            "n_items",
            "recall_floor_pct",
        )
    )
    return (
        sim.unionByName(lsh)
        .unionByName(ivf)
        .unionByName(fz)
        .unionByName(efz)
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "extract_markdown": q_extract_markdown,
    "extract_doc_agg": q_extract_doc_agg,
    "extract_spans": q_extract_spans,
    "extract_structured": q_extract_structured,
    "page_select": q_page_select,
    "extract_ooxml": q_extract_ooxml,
    "extract_legacy": q_extract_legacy,
    "extract_pptx": q_extract_pptx,
    "extract_odf": q_extract_odf,
    "extract_delimited": q_extract_delimited,
    "extract_rtf": q_extract_rtf,
    "extract_misc": q_extract_misc,
    "extract_errors": q_extract_errors,
    "extract_pdf_real": q_extract_pdf_real,
    "extract_pdf_crypt": q_extract_pdf_crypt,
    "extract_binary_guard": q_extract_binary_guard,
    "decontaminate": q_decontaminate,
    "url_canonical": q_url_canonical,
    "domain_stats": q_domain_stats,
    "extract_summary": q_extract_summary,
    "keyword_hits": q_keyword_hits,
    "lineage_metrics": q_lineage_metrics,
    "lineage_totals": q_lineage_totals,
    "dedup_exact": q_dedup_exact,
    "dedup_ngram": q_dedup_ngram,
    "dedup_minhash": q_dedup_minhash,
    "dedup_simhash": q_dedup_simhash,
    "line_dedup": q_line_dedup,
    "dedup_components": q_dedup_components,
    "dedup_embedding": q_dedup_embedding,
    "ann_topk": q_ann_topk,
    "ann_lsh": q_ann_lsh,
    "recall_floors": q_recall_floors,
    "curation": q_curation,
    "asof_join": q_asof_join,
    "stratified_sample": q_stratified_sample,
    "corpus_mix": q_corpus_mix,
    "events_sessionize": q_events_sessionize,
    "events_topk": q_events_topk,
    "events_rollup": q_events_rollup,
    "text_quality": q_text_quality,
    "pack_placement": q_pack_placement,
    "gopher_filter": q_gopher_filter,
    "corpus_quantiles": q_corpus_quantiles,
    "lang_pivot": q_lang_pivot,
    "token_counts": q_token_counts,
    "redact_pii": q_redact_pii,
    "repetition": q_repetition,
    "text_signatures": q_text_signatures,
    "media_pipeline": q_media_pipeline,
}


# ===========================================================================
# DuckDB oracle SQL
# ===========================================================================

_NL2 = "chr(10) || chr(10)"

# url derivation (synth.doc_url)
_URL = "'https://site' || (doc_id % 97) || '.example/' || source || '/' || doc_id"

# the expected-markdown spec re-stated in SQL (synth.expected_markdown_pages)
_MD_CTE = f"""
WITH docs AS (
  SELECT doc_id, text, lang, source, {_URL} AS url FROM documents
),
html_md AS (
  SELECT url, 1 AS page_no,
    concat_ws({_NL2},
      '# Document ' || doc_id,
      CASE WHEN doc_id % 23 = 11
           THEN repeat(text || {_NL2}, 39) || text
           ELSE text END,
      CASE WHEN doc_id % 7 = 3 THEN
        '<table><tr><th>metric</th><th>value</th></tr><tr><td>views</td><td>'
        || ((doc_id * 37) % 1000) || '</td></tr><tr><td>score</td><td>'
        || ((doc_id * 53) % 100) || '</td></tr></table>' END,
      CASE WHEN doc_id % 5 = 2 THEN
        '- item ' || ((doc_id * 7) % 100) || chr(10) ||
        '- item ' || ((doc_id * 11) % 100) || chr(10) ||
        '- item ' || ((doc_id * 13) % 100) END,
      CASE WHEN doc_id % 11 = 5 THEN
        '```python' || chr(10) || 'print(' || doc_id || ')' || chr(10) || '```' END,
      CASE WHEN doc_id % 13 = 6 THEN '☑ done ' || doc_id END,
      CASE WHEN doc_id % 13 = 6 THEN '☐ todo ' || doc_id END,
      CASE WHEN doc_id % 17 = 9 THEN '## Section ' || doc_id END,
      CASE WHEN doc_id % 17 = 9 THEN
        array_to_string(list_slice(string_split(text, ' '), 1, 10), ' ') END
    ) AS markdown
  FROM docs WHERE doc_id % 10 <> 7 AND doc_id % 10 <> 1 AND doc_id % 5 <> 0
),
fast_md AS (
  SELECT url, 1 AS page_no, text AS markdown FROM docs WHERE doc_id % 10 = 7
),
sheet_md AS (
  SELECT url, p.page_no,
    CASE p.page_no
      WHEN 1 THEN
        '<table><tr><th>name</th><th>q1</th><th>q2</th></tr><tr><td>r0</td><td>'
        || ((doc_id * 7) % 100) || '</td><td>' || ((doc_id * 11) % 100)
        || '</td></tr><tr><td>r1</td><td>' || ((doc_id * 7 + 13) % 100)
        || '</td><td>' || ((doc_id * 11 + 17) % 100) || '</td></tr></table>'
      ELSE
        '<table><tr><th>name</th><th>total</th></tr><tr><td>all</td><td>'
        || ((doc_id * 19) % 1000) || '</td></tr></table>'
    END AS markdown
  FROM docs CROSS JOIN (VALUES (1),(2)) AS p(page_no)
  WHERE doc_id % 10 = 1
),
pdfd AS (
  SELECT doc_id, url, string_split(text, ' ') AS w, 2 + (doc_id % 3) AS np
  FROM docs WHERE doc_id % 5 = 0
),
pdf_md AS (
  SELECT url, p.page_no,
    '# Document ' || doc_id || ' — page ' || p.page_no || {_NL2} ||
    array_to_string(
      list_slice(w, (p.page_no - 1) * len(w) // np + 1, p.page_no * len(w) // np),
      ' ') || {_NL2} ||
    '<page_number>' || p.page_no || '</page_number>' AS markdown
  FROM pdfd CROSS JOIN (VALUES (1),(2),(3),(4)) AS p(page_no)
  WHERE p.page_no <= np
),
expected AS (
  SELECT * FROM html_md UNION ALL SELECT * FROM fast_md
  UNION ALL SELECT * FROM sheet_md UNION ALL SELECT * FROM pdf_md
)
"""

# injected-duplicate corpus (operators/dedup.with_injected_duplicates)
_CORPUS_CTE = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 4
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         array_to_string(
           list_slice(string_split(text, ' '), 1,
                      greatest(len(string_split(text, ' ')) - 2, 0)), ' ')
           AS text
  FROM documents WHERE doc_id % 10 = 3
)
"""

_SHINGLE_CTE = """
, words AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
sh AS (
  SELECT DISTINCT doc_id, sh FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(w) - 1, 0) + 1),
                                 i -> w[i] || ' ' || w[i + 1])) AS sh
    FROM words)
),
counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b,
         n_inter / (ca.n_sh + cb.n_sh - n_inter) AS j
  FROM inter
  JOIN counts ca ON id_a = ca.doc_id
  JOIN counts cb ON id_b = cb.doc_id
)
"""

_JACCARD_SQL = (
    _CORPUS_CTE
    + _SHINGLE_CTE
    + """
SELECT id_a, id_b, round(j, 6) AS jaccard FROM pairs WHERE j >= 0.5
"""
)

_QUALITY_EXPR = """
  SELECT doc_id,
    CAST(length(text) AS INTEGER) AS n_chars,
    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
    round((length(text) - (len(string_split(text, ' ')) - 1))
          / len(string_split(text, ' ')), 6) AS mean_word_len,
    round(len(list_filter(string_split(text, ' '),
                          w -> w IN ('the','a','and','of','to','in')))
          / len(string_split(text, ' ')), 6) AS stopword_ratio,
    round((length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))
          / length(text), 6) AS punct_ratio
  FROM documents
"""

_LANG_COUNTS = """
  SELECT doc_id,
    len(list_filter(string_split(text,' '), w -> w IN ('the','a','and','of'))) AS c_en,
    len(list_filter(string_split(text,' '), w -> w IN ('der','die','und','das'))) AS c_de,
    len(list_filter(string_split(text,' '), w -> w IN ('le','la','et','les'))) AS c_fr,
    len(list_filter(string_split(text,' '), w -> w IN ('el','los','y','que'))) AS c_es
  FROM documents
"""

_SPAN_KIND_SQL = (
    _MD_CTE
    + """
, per_doc AS (
  SELECT url,
    CASE WHEN doc_id % 10 = 7 OR doc_id % 10 = 1 THEN 0
         WHEN doc_id % 5 = 0 THEN 2 + (doc_id % 3)
         ELSE 1 + CASE WHEN doc_id % 17 = 9 THEN 1 ELSE 0 END END AS heading,
    CASE WHEN doc_id % 10 = 7 THEN 1
         WHEN doc_id % 10 = 1 THEN 0
         WHEN doc_id % 5 = 0 THEN 2 + (doc_id % 3)
         ELSE (CASE WHEN doc_id % 23 = 11 THEN 40 ELSE 1 END)
              + CASE WHEN doc_id % 17 = 9 THEN 1 ELSE 0 END END AS para,
    CASE WHEN doc_id % 10 = 1 THEN 2
         WHEN doc_id % 10 <> 7 AND doc_id % 5 <> 0 AND doc_id % 7 = 3 THEN 1 ELSE 0 END AS "table",
    CASE WHEN doc_id % 10 <> 7 AND doc_id % 10 <> 1 AND doc_id % 5 <> 0 AND doc_id % 5 = 2 THEN 1 ELSE 0 END AS list,
    CASE WHEN doc_id % 10 <> 7 AND doc_id % 10 <> 1 AND doc_id % 5 <> 0 AND doc_id % 11 = 5 THEN 1 ELSE 0 END AS code,
    CASE WHEN doc_id % 10 <> 7 AND doc_id % 10 <> 1 AND doc_id % 5 <> 0 AND doc_id % 13 = 6 THEN 2 ELSE 0 END AS checkbox,
    CASE WHEN doc_id % 5 = 0 THEN 2 + (doc_id % 3) ELSE 0 END AS page_number
  FROM docs
)
SELECT url, kind, CAST(n AS BIGINT) AS n FROM (
  SELECT url, 'heading' AS kind, heading AS n FROM per_doc
  UNION ALL SELECT url, 'para', para FROM per_doc
  UNION ALL SELECT url, 'table', "table" FROM per_doc
  UNION ALL SELECT url, 'list', list FROM per_doc
  UNION ALL SELECT url, 'code', code FROM per_doc
  UNION ALL SELECT url, 'checkbox', checkbox FROM per_doc
  UNION ALL SELECT url, 'page_number', page_number FROM per_doc
) WHERE n > 0
"""
)

# the synthesized page *payload* re-stated in SQL (synth.render_payload) —
# byte-for-byte: a pytest (tests/test_spark_pipeline.py) compares this CTE's
# payload string against synth.render_payload for every doc at sf0.001, and
# the media_meta oracle takes strlen (VARCHAR byte length) of it. Note the CSS braces and
# the em-dash/interpunct/copyright literals: strlen counts UTF-8 bytes
# exactly like len(payload_bytes) on the Spark side.
_PAYLOAD_CTE = f"""
WITH docs AS (
  SELECT doc_id, text, lang, source, {_URL} AS url FROM documents
),
html_payload AS (
  SELECT doc_id, url, 'html' AS media_kind,
'<!DOCTYPE html>
<html lang="' || lang || '"><head><title>Document ' || doc_id || ' — ' || source || '</title>
<meta charset="utf-8"><script>var docId=' || doc_id || ';</script>
<style>body{{margin:0;font:14px serif}}</style></head>
<body>
<nav class="topnav"><ul><li><a href="/">Home</a></li><li><a href="/about">About</a></li><li><a href="/contact">Contact</a></li><li><a href="/login">Login</a></li></ul></nav>
<header><div class="banner"><a href="/promo">Limited offer — click here now!</a></div></header>
<aside class="ads"><div><a href="https://ads.example/1">Buy now</a> <a href="https://ads.example/2">Subscribe</a> <a href="https://ads.example/3">Hot deal</a></div></aside>
<article>
' ||
    '<h1>Document ' || doc_id || '</h1>' || chr(10) ||
    CASE WHEN doc_id % 23 = 11 THEN repeat('<p>' || text || '</p>', 40)
         ELSE '<p>' || text || '</p>' END ||
    CASE WHEN doc_id % 7 = 3 THEN chr(10) ||
      '<table class="stats"><tr><th>metric</th><th>value</th></tr><tr><td>views</td><td>'
      || ((doc_id * 37) % 1000) || '</td></tr><tr><td>score</td><td>'
      || ((doc_id * 53) % 100) || '</td></tr></table>' ELSE '' END ||
    CASE WHEN doc_id % 5 = 2 THEN chr(10) ||
      '<ul><li>item ' || ((doc_id * 7) % 100) || '</li><li>item '
      || ((doc_id * 11) % 100) || '</li><li>item ' || ((doc_id * 13) % 100)
      || '</li></ul>' ELSE '' END ||
    CASE WHEN doc_id % 11 = 5 THEN chr(10) ||
      '<pre><code class="python">print(' || doc_id || ')</code></pre>'
      ELSE '' END ||
    CASE WHEN doc_id % 13 = 6 THEN chr(10) ||
      '<p><input type="checkbox" checked> done ' || doc_id
      || '</p><p><input type="checkbox"> todo ' || doc_id || '</p>'
      ELSE '' END ||
    CASE WHEN doc_id % 17 = 9 THEN chr(10) ||
      '<h2>Section ' || doc_id || '</h2><p>'
      || array_to_string(list_slice(string_split(text, ' '), 1, 10), ' ')
      || '</p>' ELSE '' END ||
'
</article>
<footer><p><a href="/terms">Terms</a> · <a href="/privacy">Privacy</a> · © 2024 site' || (doc_id % 97) || '.example</p></footer>
</body></html>' AS payload
  FROM docs WHERE doc_id % 10 <> 1 AND doc_id % 5 <> 0
),
sheet_payload AS (
  SELECT doc_id, url, 'sheet' AS media_kind,
    '%SHEET csv 1.0' || chr(10) ||
    '%%sheet name=data' || chr(10) ||
    'name,q1,q2' || chr(10) ||
    'r0,' || ((doc_id * 7) % 100) || ',' || ((doc_id * 11) % 100) || chr(10) ||
    'r1,' || ((doc_id * 7 + 13) % 100) || ',' || ((doc_id * 11 + 17) % 100) || chr(10) ||
    '%%sheet name=summary' || chr(10) ||
    'name,total' || chr(10) ||
    'all,' || ((doc_id * 19) % 1000) || chr(10) AS payload
  FROM docs WHERE doc_id % 10 = 1
),
pdf_pd AS (
  SELECT doc_id, url, string_split(text, ' ') AS w, 2 + (doc_id % 3) AS np
  FROM docs WHERE doc_id % 5 = 0
),
pdf_pageblocks AS (
  SELECT doc_id, url, p.page_no,
    '%%page no=' || p.page_no || ' w=612.0 h=792.0' || chr(10) ||
    '%%line y=750.0 x=72.0 size=18.0 text=Document ' || doc_id
      || ' — page ' || p.page_no ||
    CASE WHEN chunk_lines <> '' THEN chr(10) || chunk_lines ELSE '' END ||
    chr(10) || '%%line y=40.0 x=306.0 size=8.0 text=' || p.page_no AS block
  FROM (
    SELECT doc_id, url, p.page_no,
      array_to_string(
        list_transform(
          range(((len(chunk) + 7) // 8)::INT),
          i -> '%%line y=' || printf('%.1f', 700.0 - 20.0 * i)
               || ' x=72.0 size=10.0 text='
               || array_to_string(list_slice(chunk, i * 8 + 1, i * 8 + 8), ' ')
        ), chr(10)) AS chunk_lines,
      p.page_no AS pno
    FROM (
      SELECT doc_id, url, p.page_no,
        list_slice(w, (p.page_no - 1) * len(w) // np + 1,
                   p.page_no * len(w) // np) AS chunk
      FROM pdf_pd CROSS JOIN (VALUES (1),(2),(3),(4)) AS p(page_no)
      WHERE p.page_no <= np
    ) AS p
  ) AS p
),
pdf_payload AS (
  SELECT doc_id, url, 'pdf' AS media_kind,
    '%PDF-SYNTH 1.0' || chr(10)
      || string_agg(block, chr(10) ORDER BY page_no) || chr(10) AS payload
  FROM pdf_pageblocks GROUP BY doc_id, url
),
payloads AS (
  SELECT * FROM html_payload
  UNION ALL SELECT * FROM sheet_payload
  UNION ALL SELECT * FROM pdf_payload
)
"""


# winnowing (Schleimer et al. 2003) restated in DuckDB list SQL — the
# second, independent implementation of textstats._winnow_one: k=5-gram
# rolling hashes (base 257 mod 2^31-1), W=4 windows with rightmost-tie
# minima, consecutive-position dedup. Verified char-exact against the
# Python reference for every sandbox doc.
_WINNOW_SQL = """
WITH h AS (
  SELECT doc_id,
    CASE WHEN len(text) >= 5 THEN
      list_transform(range(1, len(text) - 3), i ->
        (unicode(text[i])::BIGINT * 67503107 + unicode(text[i+1])::BIGINT * 16974593
         + unicode(text[i+2])::BIGINT * 66049 + unicode(text[i+3])::BIGINT * 257
         + unicode(text[i+4])::BIGINT) % 2147483647)
    ELSE []::BIGINT[] END AS hs
  FROM documents
),
wins AS (
  SELECT doc_id, len(hs) AS nh,
    CASE
      WHEN len(hs) = 0 THEN []
      WHEN len(hs) <= 4 THEN [{'m': list_aggregate(hs, 'min'), 'pos': 1::BIGINT}]
      ELSE list_transform(range(1, len(hs) - 2), w ->
        {'m': list_aggregate(list_slice(hs, w, w + 3), 'min'),
          'pos': w + 4 - list_position(
             list_reverse(list_slice(hs, w, w + 3)),
             list_aggregate(list_slice(hs, w, w + 3), 'min'))})
    END AS raw
  FROM h
),
fp AS (
  SELECT doc_id,
    list_filter(
      list_transform(range(1, len(raw) + 1), i ->
        CASE WHEN i = 1 OR raw[i].pos <> raw[i-1].pos
             THEN raw[i].m END),
      x -> x IS NOT NULL) AS fps
  FROM wins
)
SELECT doc_id, CAST(len(fps) AS INTEGER) AS n_fp,
       array_to_string(list_transform(fps, x -> x::VARCHAR), ',') AS fp_str
FROM fp
"""

# the rendered-workbook page markdown (sheet_cells grids) — ONE statement
# shared by the xlsx (extract_ooxml) and .xls (extract_legacy) oracles,
# mirroring the shared grids_to_pages page contract on the Spark side
_SHEET_PAGES_CASE = f"""CASE p.page_no
      WHEN 1 THEN
        '## Sheet: data' || {_NL2} ||
        '<table><tr><th>name</th><th>q1</th><th>q2</th></tr><tr><td>r0</td><td>'
        || ((doc_id * 7) % 100) || '</td><td>' || ((doc_id * 11) % 100)
        || '</td></tr><tr><td>r1</td><td>' || ((doc_id * 7 + 13) % 100)
        || '</td><td>' || ((doc_id * 11 + 17) % 100) || '</td></tr></table>'
      ELSE
        '## Sheet: summary' || {_NL2} ||
        '<table><tr><th>name</th><th>total</th></tr><tr><td>all</td><td>'
        || ((doc_id * 19) % 1000) || '</td></tr></table>'
    END AS markdown"""

ORACLE_SQL: dict[str, str] = {
    "extract_markdown": _MD_CTE
    + """
SELECT url, CAST(page_no AS INTEGER) AS page_no, markdown,
       CAST(length(markdown) AS INTEGER) AS content_length
FROM expected
""",
    "extract_doc_agg": _MD_CTE
    + """
SELECT url,
       string_agg(markdown, chr(10) || chr(10) ORDER BY page_no) AS doc_markdown,
       count(*) AS n_pages,
       CAST(length(string_agg(markdown, chr(10) || chr(10) ORDER BY page_no)) AS INTEGER)
         AS doc_length
FROM expected GROUP BY url
""",
    "extract_spans": _SPAN_KIND_SQL,
    "extract_structured": _MD_CTE
    + """
, docjoin AS (
  SELECT url,
         string_agg(markdown, chr(10) || '<hr><hr>' || chr(10) ORDER BY page_no)
           AS doc_markdown,
         count(*) AS n_pages
  FROM expected GROUP BY url
),
taxo AS (SELECT url AS turl, doc_id FROM docs)
SELECT url, key, CAST(page_no AS INTEGER) AS page_no, value FROM (
  SELECT url, 'title' AS key, page_no,
         regexp_extract(markdown, '(?m)^#{1,6} ([^' || chr(10) || ']*)', 1)
           AS value
  FROM expected
  UNION ALL
  SELECT e.url, 'n_checkboxes', e.page_no,
         CAST(CASE WHEN t.doc_id % 10 <> 7 AND t.doc_id % 10 <> 1
                    AND t.doc_id % 5 <> 0 AND t.doc_id % 13 = 6
               THEN 2 ELSE 0 END AS VARCHAR)
  FROM expected e JOIN taxo t ON e.url = t.turl
  UNION ALL
  SELECT url, 'page_chars', page_no, CAST(length(markdown) AS VARCHAR)
  FROM expected
  UNION ALL
  SELECT url, 'doc_chars', 0, CAST(length(doc_markdown) AS VARCHAR) FROM docjoin
  UNION ALL
  SELECT url, 'n_pages', 0, CAST(n_pages AS VARCHAR) FROM docjoin
  UNION ALL
  SELECT url, 'first_num', 0, regexp_extract(doc_markdown, '([0-9]+)', 1)
  FROM docjoin
) WHERE value <> ''
""",
    "page_select": _MD_CTE
    + """
SELECT url, CAST(page_no AS INTEGER) AS page_no, markdown
FROM pdf_md
WHERE page_no IN (2, 3)
  AND url IN (SELECT url FROM pdfd WHERE np >= 3)
""",
    "extract_ooxml": f"""
WITH docs AS (
  SELECT doc_id, text, source, {_URL} AS url FROM documents
),
xlsx_md AS (
  SELECT url, p.page_no,
    {_SHEET_PAGES_CASE}
  FROM docs CROSS JOIN (VALUES (1),(2)) AS p(page_no)
  WHERE doc_id % 2 = 0
),
docx_md AS (
  SELECT url, p.page_no,
    CASE p.page_no
      WHEN 1 THEN
        '# Document ' || doc_id || {_NL2} || text || {_NL2} ||
        '- item ' || ((doc_id * 7) % 100) || chr(10) ||
        '- item ' || ((doc_id * 11) % 100) || {_NL2} ||
        '<table><tr><th>metric</th><th>value</th></tr><tr><td>views</td><td>'
        || ((doc_id * 37) % 1000) || '</td></tr></table>'
      ELSE
        '## Section ' || doc_id || {_NL2} ||
        array_to_string(list_slice(string_split(text, ' '), 1, 10), ' ')
    END AS markdown
  FROM docs CROSS JOIN (VALUES (1),(2)) AS p(page_no)
  WHERE doc_id % 2 = 1
)
SELECT url, CAST(page_no AS INTEGER) AS page_no, markdown
FROM (SELECT * FROM xlsx_md UNION ALL SELECT * FROM docx_md)
""",
    "extract_legacy": f"""
WITH docs AS (
  SELECT doc_id, text, source, {_URL} AS url FROM documents
),
xls_md AS (
  SELECT url, p.page_no,
    {_SHEET_PAGES_CASE}
  FROM docs CROSS JOIN (VALUES (1),(2)) AS p(page_no)
  WHERE doc_id % 2 = 0
),
doc_md AS (
  SELECT url, p.page_no,
    CASE p.page_no
      WHEN 1 THEN 'Document ' || doc_id || {_NL2} || text
      ELSE 'Section ' || doc_id || {_NL2} ||
        array_to_string(list_slice(string_split(text, ' '), 1, 10), ' ')
    END AS markdown
  FROM docs CROSS JOIN (VALUES (1),(2)) AS p(page_no)
  WHERE doc_id % 2 = 1
)
SELECT url, CAST(page_no AS INTEGER) AS page_no, markdown
FROM (SELECT * FROM xls_md UNION ALL SELECT * FROM doc_md)
""",
    "extract_pptx": f"""
WITH docs AS (
  SELECT doc_id, text, source, {_URL} AS url FROM documents
),
pptx_md AS (
  SELECT url, p.page_no,
    CASE p.page_no
      WHEN 1 THEN
        '# Document ' || doc_id || {_NL2} || text || {_NL2} ||
        '<table><tr><th>metric</th><th>value</th></tr><tr><td>views</td><td>'
        || ((doc_id * 37) % 1000) || '</td></tr></table>'
      ELSE
        '# Section ' || doc_id || {_NL2} ||
        array_to_string(list_slice(string_split(text, ' '), 1, 10), ' ')
    END AS markdown
  FROM docs CROSS JOIN (VALUES (1),(2)) AS p(page_no)
  WHERE doc_id % 2 = 0
),
ppt_md AS (
  SELECT url, p.page_no,
    CASE p.page_no
      WHEN 1 THEN '# Document ' || doc_id || {_NL2} || text
      ELSE '# Section ' || doc_id || {_NL2} ||
        array_to_string(list_slice(string_split(text, ' '), 1, 10), ' ')
    END AS markdown
  FROM docs CROSS JOIN (VALUES (1),(2)) AS p(page_no)
  WHERE doc_id % 2 = 1
)
SELECT url, CAST(page_no AS INTEGER) AS page_no, markdown
FROM (SELECT * FROM pptx_md UNION ALL SELECT * FROM ppt_md)
""",
    "extract_misc": f"""
WITH docs AS (
  SELECT doc_id, text, source, {_URL} AS url FROM documents
),
odp_md AS (
  SELECT url, p.page_no,
    CASE p.page_no
      WHEN 1 THEN '# Document ' || doc_id || {_NL2} || text
      ELSE '# Section ' || doc_id || {_NL2} ||
        array_to_string(list_slice(string_split(text, ' '), 1, 10), ' ')
    END AS markdown
  FROM docs CROSS JOIN (VALUES (1),(2)) AS p(page_no)
  WHERE doc_id % 4 = 0
),
xml_md AS (
  SELECT url, 1 AS page_no,
    'Document ' || doc_id || {_NL2} || text || {_NL2} ||
    'Section ' || doc_id || ': ' ||
    array_to_string(list_slice(string_split(text, ' '), 1, 10), ' ')
      AS markdown
  FROM docs WHERE doc_id % 4 = 1
),
wpd_md AS (
  SELECT url, p.page_no,
    CASE p.page_no
      WHEN 1 THEN 'Document ' || doc_id || {_NL2} || text
      ELSE 'Section ' || doc_id || {_NL2} ||
        array_to_string(list_slice(string_split(text, ' '), 1, 10), ' ')
    END AS markdown
  FROM docs CROSS JOIN (VALUES (1),(2)) AS p(page_no)
  WHERE doc_id % 4 = 2
),
-- encrypted Office (default password): agile/standard OOXML xlsx and
-- RC4/CryptoAPI xls all decrypt to the same sheet_cells(doc_id) grids
enc_md AS (
  SELECT url, p.page_no,
    {_SHEET_PAGES_CASE}
  FROM docs CROSS JOIN (VALUES (1),(2)) AS p(page_no)
  WHERE doc_id % 4 = 3
)
SELECT url, CAST(page_no AS INTEGER) AS page_no, markdown
FROM (SELECT * FROM odp_md UNION ALL SELECT * FROM xml_md
      UNION ALL SELECT * FROM wpd_md UNION ALL SELECT * FROM enc_md)
""",
    "extract_rtf": f"""
WITH docs AS (
  SELECT doc_id, text, source, {_URL} AS url FROM documents
)
SELECT url, CAST(p.page_no AS INTEGER) AS page_no,
  CASE p.page_no
    WHEN 1 THEN 'Document ' || doc_id || {_NL2} || text
    ELSE 'Section ' || doc_id || {_NL2} ||
      array_to_string(list_slice(string_split(text, ' '), 1, 10), ' ')
  END AS markdown
FROM docs CROSS JOIN (VALUES (1),(2)) AS p(page_no)
""",
    "extract_odf": f"""
WITH docs AS (
  SELECT doc_id, text, source, {_URL} AS url FROM documents
),
ods_md AS (
  SELECT url, p.page_no,
    {_SHEET_PAGES_CASE}
  FROM docs CROSS JOIN (VALUES (1),(2)) AS p(page_no)
  WHERE doc_id % 2 = 0
),
odt_md AS (
  SELECT url, 1 AS page_no,
    '# Document ' || doc_id || {_NL2} || text || {_NL2} ||
    '- item ' || ((doc_id * 7) % 100) || chr(10) ||
    '- item ' || ((doc_id * 11) % 100) || {_NL2} ||
    '<table><tr><th>metric</th><th>value</th></tr><tr><td>views</td><td>'
    || ((doc_id * 37) % 1000) || '</td></tr></table>' || {_NL2} ||
    '## Section ' || doc_id || {_NL2} ||
    array_to_string(list_slice(string_split(text, ' '), 1, 10), ' ')
      AS markdown
  FROM docs WHERE doc_id % 2 = 1
)
SELECT url, CAST(page_no AS INTEGER) AS page_no, markdown
FROM (SELECT * FROM ods_md UNION ALL SELECT * FROM odt_md)
""",
    "extract_delimited": f"""
WITH docs AS (
  SELECT doc_id, source, {_URL} AS url FROM documents
),
csv_md AS (
  SELECT url, 1 AS page_no,
    '<table><tr><th>name</th><th>q1</th><th>q2</th></tr><tr><td>r0</td><td>'
    || ((doc_id * 7) % 100) || '</td><td>' || ((doc_id * 11) % 100)
    || '</td></tr><tr><td>r1</td><td>' || ((doc_id * 7 + 13) % 100)
    || '</td><td>' || ((doc_id * 11 + 17) % 100) || '</td></tr></table>'
      AS markdown
  FROM docs WHERE doc_id % 2 = 0
),
tsv_md AS (
  SELECT url, 1 AS page_no,
    '<table><tr><th>name</th><th>note</th></tr><tr><td>r' || (doc_id % 7)
    || '</td><td>says "hi", x=' || ((doc_id * 3) % 100)
    || '</td></tr></table>' AS markdown
  FROM docs WHERE doc_id % 2 = 1
)
SELECT url, CAST(page_no AS INTEGER) AS page_no, markdown
FROM (SELECT * FROM csv_md UNION ALL SELECT * FROM tsv_md)
""",
    # poison corpus: the MD CTE restricted to the valid docs, plus one
    # closed-form ERROR row per corrupt doc (doc_id % 3 == 0)
    # real-PDF contract: the closed-form markdown synth.render_pdf_real's
    # layout produces through the born-digital parser + valley segmentation
    # (the second, independent statement of expected_pdf_real_pages)
    "extract_pdf_real": f"""
WITH docs AS (
  SELECT doc_id, text, source, {_URL} AS url FROM documents
)
SELECT url, CAST(page_no AS INTEGER) AS page_no, markdown FROM (
  SELECT url, 1 AS page_no,
    '# Document ' || doc_id || {_NL2} ||
    CASE WHEN doc_id % 6 = 4 THEN '![figure](#)' || {_NL2} ELSE '' END ||
    text || {_NL2} ||
    '<page_number>1</page_number>' AS markdown
  FROM docs
  UNION ALL
  SELECT url, 2 AS page_no,
    '## Section ' || doc_id || {_NL2} ||
    array_to_string(list_slice(string_split(text, ' '), 1, 10), ' ')
    || {_NL2} || '<page_number>2</page_number>' AS markdown
  FROM docs
)
""",
    # the encrypted/form/CJK/accent/XFA family (doc_id % 8): RC4 / AESV2
    # / AESV3 variants carry render_pdf_real's variant-0 layout → the
    # same closed-form two pages; the AcroForm, CJK, accented-subset-font
    # (CFF-SID / TrueType-post — round 6) and XFA-datasets variants carry
    # their own closed forms (synth.expected_pdf_form_page /
    # expected_pdf_cjk_page / expected_pdf_accent_page /
    # expected_pdf_xfa_page, restated here independently)
    "extract_pdf_crypt": f"""
WITH docs AS (
  SELECT doc_id, text, source, {_URL} AS url FROM documents
)
SELECT url, CAST(page_no AS INTEGER) AS page_no, markdown FROM (
  SELECT url, 1 AS page_no,
    '# Document ' || doc_id || {_NL2} || text || {_NL2} ||
    '<page_number>1</page_number>' AS markdown
  FROM docs WHERE doc_id % 8 IN (0, 1, 2)
  UNION ALL
  SELECT url, 2 AS page_no,
    '## Section ' || doc_id || {_NL2} ||
    array_to_string(list_slice(string_split(text, ' '), 1, 10), ' ')
    || {_NL2} || '<page_number>2</page_number>' AS markdown
  FROM docs WHERE doc_id % 8 IN (0, 1, 2)
  UNION ALL
  SELECT url, 1 AS page_no,
    '# Form ' || doc_id || {_NL2} || 'Applicant ' || doc_id || {_NL2} ||
    'Ref ' || ((doc_id * 7) % 1000) || {_NL2} ||
    'Note ' || ((doc_id * 3) % 100) || {_NL2} || '☑' AS markdown
  FROM docs WHERE doc_id % 8 = 3
  UNION ALL
  SELECT url, 1 AS page_no,
    '# 文档 ' || doc_id || {_NL2} ||
    '中文内容 第' || (doc_id % 7) || '节 测试' AS markdown
  FROM docs WHERE doc_id % 8 = 4
  UNION ALL
  SELECT url, 1 AS page_no,
    '# Résumé ' || doc_id || {_NL2} ||
    'Le café coûte ' || (doc_id % 90 + 10) || ' euros déjà' AS markdown
  FROM docs WHERE doc_id % 8 = 5
  UNION ALL
  SELECT url, 1 AS page_no,
    '# Übersicht ' || doc_id || {_NL2} ||
    'Straße Nr ' || (doc_id % 90 + 10) || ' für Köln' AS markdown
  FROM docs WHERE doc_id % 8 = 6
  UNION ALL
  SELECT url, 1 AS page_no,
    '# XForm ' || doc_id || {_NL2} ||
    'applicant: Applicant ' || doc_id || {_NL2} ||
    'amount: ' || ((doc_id * 7) % 1000) AS markdown
  FROM docs WHERE doc_id % 8 = 7
)
""",
    # binary-guard contract (media_sniff folded in, r4 registry
    # consolidation): every payload kind maps to a contained ERROR with the
    # guard's sniffed reason + zero content, joined to media_metadata's
    # independent sniff (n_bytes + typed media kind) over the same corpus
    "extract_binary_guard": f"""
WITH docs AS (
  SELECT doc_id, source, {_URL} AS url FROM documents
)
SELECT url, 'ERROR' AS status,
  CASE doc_id % 5
    WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'gif'
    WHEN 3 THEN 'heic' ELSE 'unprintable' END AS kind,
  0 AS content_length,
  CAST(CASE doc_id % 5
    WHEN 0 THEN 264 WHEN 1 THEN 260 WHEN 2 THEN 262
    WHEN 3 THEN 268 ELSE 258 END AS BIGINT) AS n_bytes,
  CASE doc_id % 5
    WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'gif'
    WHEN 3 THEN 'heic' ELSE 'bin' END AS media_kind
FROM docs
""",
    # decontamination restated: same tokenization (lower + single-space
    # split), same 8-gram windows, distinct-per-doc semantics
    "decontaminate": """
WITH words AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
),
grams AS (
  SELECT doc_id, unnest(
    CASE WHEN len(w) >= 8 THEN
      list_transform(range(1, len(w) - 6),
                     i -> array_to_string(list_slice(w, i, i + 7), ' '))
    ELSE []::VARCHAR[] END) AS gram
  FROM words
),
dg AS (SELECT DISTINCT doc_id, gram FROM grams),
bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 41 = 0),
hits AS (
  SELECT doc_id, count(*) AS n_hits FROM dg JOIN bench USING (gram)
  GROUP BY doc_id
)
SELECT d.doc_id, CAST(coalesce(h.n_hits, 0) AS INTEGER) AS n_hits,
       CAST(CASE WHEN coalesce(h.n_hits, 0) > 0 THEN 1 ELSE 0 END AS INTEGER)
         AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
""",
    # url canonicalization: the closed-form canonical spelling per doc_id
    # (tracking stripped + params sorted, port stripped, slash trimmed)
    "url_canonical": f"""
WITH docs AS (
  SELECT doc_id, source,
    'https://site' || (doc_id % 97) || '.example/' || source || '/' || doc_id
      AS base
  FROM documents
)
SELECT doc_id,
  CASE
    -- query split on the FIRST '?': 'a=N?x' survives whole, sorts before b
    WHEN doc_id % 4 = 0 THEN base || '?a=' || (doc_id % 7) || '?x&b=2'
    -- :443 under http is identity-bearing — kept, never stripped
    WHEN doc_id % 8 = 5 THEN
      'http://site' || (doc_id % 97) || '.example:443/' || source || '/'
      || doc_id
    ELSE base END AS canonical_url,
  'site' || (doc_id % 97) || '.example' AS domain
FROM docs
""",
    # domain accounting over two spellings per url: n_pages double-counts,
    # n_canonical collapses — stated directly from the doc_id distribution
    "domain_stats": """
SELECT 'site' || (doc_id % 97) || '.example' AS domain,
       CAST(2 * count(*) AS BIGINT) AS n_pages,
       -- %4==0 keeps real params (?a=N?x&b=2) and %8==5 keeps its http
       -- scheme + :443 port → neither collapses with the clean https
       -- spelling; every other variant does
       CAST(count(*) + sum(CASE WHEN doc_id % 4 = 0
                                  OR doc_id % 8 = 5 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_canonical
FROM documents GROUP BY doc_id % 97
""",
    "extract_errors": _MD_CTE.replace(
        "FROM documents", "FROM documents WHERE doc_id % 3 <> 0"
    )
    + f"""
SELECT url, CAST(page_no AS INTEGER) AS page_no,
       'SUCCESS' AS status, CAST(length(markdown) AS INTEGER) AS content_length
FROM expected
UNION ALL
SELECT {_URL} AS url, CAST(1 AS INTEGER) AS page_no,
       'ERROR' AS status, CAST(0 AS INTEGER) AS content_length
FROM documents WHERE doc_id % 3 = 0
""",
    "extract_summary": _MD_CTE
    + """
SELECT count(DISTINCT url) AS total_docs,
       count(*) AS total_pages,
       count(*) AS successful,
       CAST(0 AS BIGINT) AS failed,
       CAST(sum(length(markdown)) AS BIGINT) AS total_content_length
FROM expected
""",
    "keyword_hits": _MD_CTE
    + """
SELECT url,
       CAST(CASE WHEN contains(lower(string_agg(markdown, chr(10) || chr(10))),
                               'document ' || regexp_extract(url, '/(\\d+)$', 1))
                 THEN 1 ELSE 0 END AS INTEGER) AS found
FROM expected GROUP BY url
""",
    "dedup_exact": _CORPUS_CTE
    + """
SELECT min(doc_id) AS keep_id, count(*) AS n_copies FROM corpus GROUP BY text
""",
    # media metadata ⋈ frame fan-out in one slot, both reconstructed from
    # the byte-level payload CTE
    "media_pipeline": _PAYLOAD_CTE
    + """
SELECT url, CAST(strlen(payload) AS BIGINT) AS n_bytes, media_kind,
       CAST(f.frame_no AS INTEGER) AS frame_no,
       CAST((f.frame_no - 1) * 1000 AS BIGINT) AS ts_ms
FROM payloads,
     LATERAL (SELECT unnest(range(1, 1 + strlen(payload) % 5 + 1)) AS frame_no) f
""",
    # the full line-dedup algorithm restated over the expected-markdown CTE:
    # split to lines, count distinct urls per non-empty line, strip lines at
    # df>=2, reassemble in position order (NULL-skipping string_agg mirrors
    # Spark's null-skipping collect_list)
    "line_dedup": _MD_CTE
    + """
, lns AS (
  SELECT url, page_no, i, l[i] AS ln
  FROM (SELECT url, page_no, string_split(markdown, chr(10)) AS l
        FROM expected),
       LATERAL unnest(range(1, len(l) + 1)) AS t(i)
),
boiler AS (
  SELECT ln FROM lns WHERE ln <> ''
  GROUP BY ln HAVING count(DISTINCT url) >= 2
),
marked AS (
  SELECT url, page_no, i, ln,
         (ln <> '' AND ln IN (SELECT ln FROM boiler)) AS is_b
  FROM lns
)
SELECT url, CAST(page_no AS INTEGER) AS page_no,
  string_agg(CASE WHEN NOT is_b THEN ln END, chr(10) ORDER BY i) AS clean_md,
  CAST(count(CASE WHEN is_b THEN 1 END) AS INTEGER) AS n_removed
FROM marked GROUP BY url, page_no
HAVING coalesce(string_agg(CASE WHEN NOT is_b THEN ln END, chr(10) ORDER BY i), '') <> ''
""",
    # the five recall floors in one slot. simhash n_docs is closed-form
    # from the injected-dup derivation and its floor IS 100 by pigeonhole
    # (8 bands over a 64-bit hash at radius 7) — any banding/signature
    # regression drops below and hash-mismatches; the ANN floors restate
    # _recall_floor's clamped constants
    "recall_floors": f"""
SELECT 'simhash_band' AS metric,
       CAST((SELECT count(*) FROM documents)
     + (SELECT count(*) FROM documents WHERE doc_id % 10 = 4)
     + (SELECT count(*) FROM documents WHERE doc_id % 10 = 3) AS BIGINT)
       AS n_items,
       CAST(100 AS BIGINT) AS recall_floor_pct
UNION ALL
SELECT 'ann_lsh', CAST(count(*) AS BIGINT),
       CAST({ANN_RECALL_FLOOR} AS BIGINT)
FROM embeddings WHERE vec_id % {ANN_QUERY_MOD} = 0
UNION ALL
SELECT 'ann_ivf', CAST(count(*) AS BIGINT),
       CAST({ANN_RECALL_FLOOR} AS BIGINT)
FROM embeddings WHERE vec_id % {ANN_QUERY_MOD} = 0
UNION ALL
SELECT 'fuzzy_decontam', CAST(count(*) AS BIGINT), CAST(100 AS BIGINT)
FROM documents WHERE doc_id % 41 = 0
UNION ALL
SELECT 'edited_fuzzy', CAST(count(*) AS BIGINT),
       CAST({EDITED_FUZZY_FLOOR} AS BIGINT)
FROM documents WHERE doc_id % 41 = 0
""",
    # bigram table ∪ winnowing fingerprints in one slot (kind, key, n1,
    # n2, payload) — both sub-oracles restated whole as subqueries
    "text_signatures": f"""
SELECT 'bigram' AS kind, ngram AS key, CAST(n_docs AS BIGINT) AS n1,
       CAST(n_total AS BIGINT) AS n2, CAST(NULL AS VARCHAR) AS payload
FROM (
  WITH grams AS (
    SELECT doc_id, unnest(list_transform(
      range(1, greatest(len(string_split(text, ' ')) - 1, 0) + 1),
      i -> array_to_string(list_slice(string_split(text, ' '), i, i + 1), ' ')
    )) AS ngram
    FROM documents
  ),
  counts AS (
    SELECT ngram, count(*) AS n_total FROM grams GROUP BY ngram
  ),
  doc_freq AS (
    SELECT ngram, count(DISTINCT doc_id) AS n_docs FROM grams GROUP BY ngram
  )
  SELECT c.ngram, d.n_docs, c.n_total
  FROM counts c JOIN doc_freq d ON c.ngram = d.ngram
  ORDER BY n_docs DESC, n_total DESC, c.ngram ASC
  LIMIT 100
)
UNION ALL
SELECT 'winnow', CAST(doc_id AS VARCHAR), CAST(n_fp AS BIGINT),
       CAST(NULL AS BIGINT), fp_str
FROM ({_WINNOW_SQL})
""",
    # n_buckets/clean_buckets = NUM_BUCKETS: with ≥500 urls uniformly
    # xxhash64-spread over 64 buckets every bucket is occupied (verified
    # deterministic at the driver's sf; a future sf tiny enough to leave a
    # bucket empty would need this constant revisited)
    "lineage_totals": _MD_CTE
    + f"""
SELECT CAST({NUM_BUCKETS} AS BIGINT) AS n_buckets,
       CAST(count(DISTINCT url) AS BIGINT) AS total_docs,
       CAST(count(*) AS BIGINT) AS total_pages,
       CAST({NUM_BUCKETS} AS BIGINT) AS clean_buckets
FROM expected
""",
    "dedup_components": (
        _CORPUS_CTE.replace("WITH corpus", "WITH RECURSIVE corpus", 1)
        + _SHINGLE_CTE
        + """
, dup_pairs AS (SELECT id_a, id_b FROM pairs WHERE j >= 0.5),
edges AS (
  SELECT id_a AS u, id_b AS v FROM dup_pairs
  UNION ALL SELECT id_b, id_a FROM dup_pairs
),
reach(node, comp) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.v, r.comp FROM reach r JOIN edges e ON e.u = r.node
)
SELECT node AS doc_id, min(comp) AS component FROM reach GROUP BY node
"""
    ),
    "dedup_ngram": _JACCARD_SQL,
    "dedup_minhash": _JACCARD_SQL,
    "dedup_embedding": f"""
WITH corpus AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  UNION ALL
  SELECT vec_id + {EMB_DUP_EXACT_OFFSET}, embedding::DOUBLE[]
  FROM embeddings WHERE vec_id % {EMB_DUP_MOD} = {EMB_DUP_EQ}
  UNION ALL
  SELECT vec_id + {EMB_DUP_NEAR_OFFSET},
         list_concat([0.0], list_slice(embedding::DOUBLE[], 2, {EMBED_DIM}))
  FROM embeddings WHERE vec_id % {EMB_DUP_MOD} = {EMB_DUP_EQ}
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
      >= {EMB_DUP_THRESHOLD}
""",
    "ann_topk": f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id % {ANN_QUERY_MOD} = 0),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv)
           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
  FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id
FROM ranked WHERE rank <= {ANN_K}
""",
    "curation": _CORPUS_CTE
    + """
, cq AS (
  SELECT doc_id, text,
    CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER)
      AS bpe_tokens,
    round(least(1.0, len(string_split(text, ' ')) / 100.0) * 0.4
          + round(len(list_filter(string_split(text, ' '),
                                  w -> w IN ('the','a','and','of','to','in')))
                  / len(string_split(text, ' ')), 6) * 0.4
          + (1.0 - round((length(text)
                - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))
                / length(text), 6)) * 0.2, 6) AS quality
  FROM corpus
),
gated AS (SELECT * FROM cq WHERE quality >= 0.5),
exact_kept AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY text),
g AS (SELECT gated.* FROM gated JOIN exact_kept USING (doc_id)),
gw AS (SELECT doc_id, string_split(text, ' ') AS w FROM g),
gsh AS (
  SELECT DISTINCT doc_id, sh FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(w) - 1, 0) + 1),
                                 i -> w[i] || ' ' || w[i + 1])) AS sh
    FROM gw)
),
gcounts AS (SELECT doc_id, count(*) AS n_sh FROM gsh GROUP BY doc_id),
ginter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM gsh a JOIN gsh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
losers AS (
  SELECT DISTINCT id_b AS doc_id FROM ginter
  JOIN gcounts ca ON id_a = ca.doc_id
  JOIN gcounts cb ON id_b = cb.doc_id
  WHERE n_inter / (ca.n_sh + cb.n_sh - n_inter) >= 0.5
)
SELECT doc_id, ws_tokens, bpe_tokens, quality
FROM g WHERE doc_id NOT IN (SELECT doc_id FROM losers)
""",
    "asof_join": f"""
WITH p AS (SELECT doc_id, doc_id % 97 AS site FROM documents),
s AS (SELECT doc_id AS snap_id, doc_id % 97 AS site, doc_id AS snap_ts
      FROM documents WHERE doc_id % {SNAP_MOD} = 0)
SELECT p.doc_id, s.snap_id
FROM p ASOF JOIN s ON p.site = s.site AND p.doc_id >= s.snap_ts
""",
    "stratified_sample": f"""
SELECT doc_id, lang FROM documents
WHERE doc_id % 100 < CASE lang
  WHEN 'en' THEN {SAMPLE_RATES["en"]}
  WHEN 'de' THEN {SAMPLE_RATES["de"]}
  WHEN 'fr' THEN {SAMPLE_RATES["fr"]}
  ELSE {SAMPLE_DEFAULT} END
""",
    "corpus_mix": """
SELECT lang, source, count(*) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_ws_tokens
FROM documents GROUP BY ROLLUP (lang, source)
""",
    "events_sessionize": """
WITH g AS (
  SELECT event_id, user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id, user_id,
       CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS INTEGER) AS session_no
FROM g
""",
    "events_topk": """
SELECT user_id, CAST(rank AS INTEGER) AS rank, event_id FROM (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id) AS rank
  FROM events)
WHERE rank <= 3
""",
    "events_rollup": """
SELECT event_type, CAST(high_value AS INTEGER) AS high_value,
       CAST(GROUPING(event_type, high_value) AS INTEGER) AS gid,
       count(*) AS n
FROM (SELECT event_type, CASE WHEN value >= 50 THEN 1 ELSE 0 END AS high_value
      FROM events)
GROUP BY ROLLUP (event_type, high_value)
""",
    # round 6: lang_id + quality_score folded into one slot (one scan on
    # the Spark side; the SQL restates both and joins on doc_id)
    "text_quality": f"""
WITH counts AS ({_LANG_COUNTS}),
langs AS (
  SELECT doc_id,
    CASE
      WHEN c_en > 0 AND c_en >= c_de AND c_en >= c_fr AND c_en >= c_es THEN 'en'
      WHEN c_de > 0 AND c_de >= c_fr AND c_de >= c_es THEN 'de'
      WHEN c_fr > 0 AND c_fr >= c_es THEN 'fr'
      WHEN c_es > 0 THEN 'es'
      ELSE 'und' END AS pred_lang
  FROM counts
),
feats AS ({_QUALITY_EXPR})
SELECT doc_id, pred_lang, n_chars, n_words, mean_word_len, stopword_ratio,
       punct_ratio,
       round(least(1.0, n_words / 100.0) * 0.4 + stopword_ratio * 0.4
             + (1.0 - punct_ratio) * 0.2, 6) AS quality
FROM langs JOIN feats USING (doc_id)
""",
    "corpus_quantiles": """
SELECT lang, count(*) AS n_docs,
       round(quantile_cont(length(text), 0.5), 6) AS p50,
       round(quantile_cont(length(text), 0.9), 6) AS p90,
       round(quantile_cont(length(text), 0.99), 6) AS p99
FROM documents GROUP BY lang
""",
    "lang_pivot": """
SELECT source,
  CAST(count(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS en,
  CAST(count(CASE WHEN lang = 'de' THEN 1 END) AS BIGINT) AS de,
  CAST(count(CASE WHEN lang = 'fr' THEN 1 END) AS BIGINT) AS fr,
  CAST(count(CASE WHEN lang = 'es' THEN 1 END) AS BIGINT) AS es,
  CAST(count(CASE WHEN lang = 'zz' THEN 1 END) AS BIGINT) AS zz
FROM documents GROUP BY source
""",
    "gopher_filter": """
WITH feats AS (
  SELECT doc_id,
    len(string_split(text, ' ')) AS n_words,
    round((length(text) - (len(string_split(text, ' ')) - 1))
          / len(string_split(text, ' ')), 6) AS mean_word_len,
    round(((length(text) - length(replace(text, '#', '')))
           + (length(text) - length(replace(text, '...', ''))) / 3)
          / len(string_split(text, ' ')), 6) AS symbol_ratio,
    round(len(list_filter(string_split(text, ' '),
                          w -> regexp_matches(w, '[A-Za-z]')))
          / len(string_split(text, ' ')), 6) AS alpha_word_ratio,
    len(list_filter(string_split(text, ' '),
        w -> w IN ('the','be','to','of','and','that','have','with')))
      AS stop_hits
  FROM documents
)
SELECT doc_id, CAST(n_words AS INTEGER) AS n_words, mean_word_len,
       symbol_ratio, alpha_word_ratio, CAST(stop_hits AS INTEGER) AS stop_hits,
       CAST(CASE WHEN n_words BETWEEN 50 AND 100000
                  AND mean_word_len BETWEEN 3.0 AND 10.0
                  AND symbol_ratio <= 0.1
                  AND alpha_word_ratio >= 0.8
                  AND stop_hits >= 2
             THEN 1 ELSE 0 END AS INTEGER) AS passes
FROM feats
""",
    "token_counts": r"""
SELECT doc_id,
  CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
    AS INTEGER) AS bpe_tokens
FROM documents
""",
    # packing placement (its own slot since round 6): the concat-then-
    # chunk layout restated with one window per shard — DuckDB runs the
    # SINGLE-window formulation, so the hash match proves the two-level
    # (block + carry) Spark plan computes the identical placement
    "pack_placement": r"""
WITH toks AS (
  SELECT doc_id,
    CAST(doc_id % 16 AS INTEGER) AS shard,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS t
  FROM documents
),
placed AS (
  SELECT *, CAST(sum(t) OVER (PARTITION BY shard ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) - t AS BIGINT) AS pack_offset
  FROM toks
)
SELECT doc_id, shard, CAST(t AS BIGINT) AS n_tokens, pack_offset,
  CAST(floor(pack_offset / 512) AS BIGINT) AS seq_first,
  CAST(floor((pack_offset + greatest(t - 1, 0)) / 512) AS BIGINT)
    AS seq_last
FROM placed
""",
    "redact_pii": r"""
SELECT doc_id,
  regexp_replace(
    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '[EMAIL]', 'g'),
    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '[IP]', 'g')
    AS redacted,
  CAST(len(regexp_extract_all(text,
       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
  CAST(len(regexp_extract_all(text,
       '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INTEGER) AS n_ips
FROM documents
""",
    "repetition": """
SELECT doc_id,
  round(len(list_distinct(string_split(coalesce(text, ''), ' ')))
        / len(string_split(coalesce(text, ''), ' ')), 6) AS distinct_word_ratio,
  round(list_max(list_transform(list_distinct(string_split(coalesce(text, ''), ' ')),
        w -> len(list_filter(string_split(coalesce(text, ''), ' '), x -> x = w))))
        / len(string_split(coalesce(text, ''), ' ')), 6) AS top_word_share
FROM documents
""",
}
