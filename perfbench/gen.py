"""Seeded input generator for the benchmark workloads.

Every table is a pure function of (workload, seed): the seed picks the
document ids, their word texts, languages and (for ``crawl_mixed``) the
replica url tags. Payloads come from ``zerox_spark.synth``'s row renderers,
so the expected extraction output is the closed form the repo's DuckDB
oracles state over the same ``documents`` rows.

The generator writes parquet tables under a work directory the caller owns
and removes; the program under test only ever sees those tables.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the 30-word vocabulary, language mix, 10-100 word lengths and 20 sources
# of the repo's documents tables (TESTDATA sf*/documents.parquet)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
MIN_WORDS, MAX_WORDS = 10, 100

# doc ids are drawn from [0, ID_SPACE): wide enough that seeds pick
# different documents, narrow enough to keep ids readable
ID_SPACE = 1_000_000

# formats_heavy families: synth row renderer name → DuckDB oracle entry
FORMAT_FAMILIES = {
    "pdf_real": ("_row_pdf_real", "extract_pdf_real"),
    "pdf_crypt": ("_row_pdf_crypt", "extract_pdf_crypt"),
    "legacy": ("_row_legacy", "extract_legacy"),
    "pres": ("_row_pres", "extract_pptx"),
    "ooxml": ("_row_ooxml", "extract_ooxml"),
}

DOCS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)
PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


@dataclass(frozen=True)
class Sizes:
    """Input sizes of one workload run.

    Measured on 4 vCPUs. At 120 documents per format family and 1000
    crawl documents (``local[4]``) the parsers were 4% of a formats_heavy
    job and the crawl job did not scale with cores (fixed per-job cost
    dominated). At these sizes and ``local[2]`` the extract rung is a
    third of a traced formats_heavy job and a quarter to two fifths of a
    crawl_mixed one, ``local[2]`` runs crawl_mixed 1.3-1.4x as fast as
    ``local[1]``, and a warm operation takes 4-7 s, so a run that times
    three operations after its two warm-up operations stays near a
    minute (1500 documents per family made a formats_heavy run 62-73 s,
    1000 made it 58-70 s)."""

    crawl_docs: int = 5000  # distinct documents in crawl_mixed
    crawl_replicas: int = 2  # urls per document in crawl_mixed
    format_docs: int = 800  # documents per formats_heavy family
    curate_docs: int = 2000  # documents in curate_dedup


def documents(seed: int, n: int) -> pa.Table:
    """``n`` documents with seeded ids and texts, sorted by doc_id."""
    rng = np.random.default_rng(seed)
    ids = np.sort(rng.choice(ID_SPACE, size=n, replace=False))
    n_words = rng.integers(MIN_WORDS, MAX_WORDS + 1, size=n)
    words = rng.integers(0, len(VOCAB), size=int(n_words.sum()))
    langs = rng.choice(len(LANGS), size=n, p=LANG_P)
    texts = []
    pos = 0
    for k in n_words:
        texts.append(" ".join(VOCAB[w] for w in words[pos : pos + k]))
        pos += k
    return pa.table(
        {
            "doc_id": ids.astype(np.int64),
            "text": texts,
            "lang": [LANGS[i] for i in langs],
            "source": [f"src{i % N_SOURCES}" for i in ids],
            "n_chars": [len(t) for t in texts],
        },
        schema=DOCS_SCHEMA,
    )


def _page_rows(
    docs: pa.Table, row_fn, url_of, urls: dict[str, list[str]]
) -> dict[str, list]:
    """Render one pages row per (document, url) with a synth row renderer.

    ``url_of(i, base_url)`` returns the urls the ``i``-th document is
    crawled under (one row each, same payload); ``urls`` records them
    under the document's base url, the url its oracle rows carry."""
    from zerox_spark.synth import doc_ts, doc_url

    cols: dict[str, list] = {f.name: [] for f in PAGES_SCHEMA}
    for i, d in enumerate(docs.to_pylist()):
        doc_id = d["doc_id"]
        payload, trusted = row_fn(doc_id, d["text"], d["lang"], d["source"])
        ts = doc_ts(doc_id).replace(tzinfo=None)
        base = doc_url(doc_id, d["source"])
        urls[base] = url_of(i, base)
        for url in urls[base]:
            cols["url"].append(url)
            cols["warc_ts"].append(ts)
            cols["html"].append(payload)
            cols["text"].append(trusted)
            cols["lang"].append(d["lang"])
    return cols


def replica_tags(seed: int, n_docs: int, replicas: int) -> np.ndarray:
    """Distinct seeded replica tags, ``replicas`` per document."""
    rng = np.random.default_rng([seed, 1])
    return rng.choice(10**9, size=(n_docs, replicas), replace=False)


def replica_url(base: str, tag: int) -> str:
    return f"{base}?replica={tag}"


def family_url(family: str, base: str) -> str:
    return f"{family}/{base}"


@dataclass
class Inputs:
    """Paths and sizes of one generated workload input."""

    root: str
    pages_path: str | None  # extraction workloads: the pages table
    docs_dir: str | None  # curate_dedup: dir holding documents.parquet
    docs: dict[str, pa.Table]  # oracle inputs: one documents table per family
    # per family: a document's base url → the urls the program sees it under
    urls: dict[str, dict[str, list[str]]]
    n_docs: int  # input documents the program sees (rows of its input)
    input_bytes: int


def _write(table: pa.Table, path: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


def generate(workload: str, seed: int, root: str, sizes: Sizes) -> Inputs:
    """Write ``workload``'s input tables under ``root``."""
    from zerox_spark import synth

    if workload == "crawl_mixed":
        docs = documents(seed, sizes.crawl_docs)
        tags = replica_tags(seed, docs.num_rows, sizes.crawl_replicas)
        urls: dict[str, list[str]] = {}
        cols = _page_rows(
            docs,
            synth._row_taxonomy,
            lambda i, base: [replica_url(base, int(t)) for t in tags[i]],
            urls,
        )
        path = os.path.join(root, "pages", "part-0.parquet")
        nbytes = _write(pa.table(cols, schema=PAGES_SCHEMA), path)
        return Inputs(
            root, path, None, {"taxonomy": docs}, {"taxonomy": urls},
            len(cols["url"]), nbytes,
        )
    if workload == "formats_heavy":
        fam_docs, fam_urls = {}, {}
        cols = {f.name: [] for f in PAGES_SCHEMA}
        for i, (family, (row_name, _)) in enumerate(FORMAT_FAMILIES.items()):
            docs = documents([seed, 2, i], sizes.format_docs)
            fam_docs[family], fam_urls[family] = docs, {}
            part = _page_rows(
                docs,
                getattr(synth, row_name),
                lambda _i, base, f=family: [family_url(f, base)],
                fam_urls[family],
            )
            for k, v in part.items():
                cols[k].extend(v)
        path = os.path.join(root, "pages", "part-0.parquet")
        nbytes = _write(pa.table(cols, schema=PAGES_SCHEMA), path)
        return Inputs(
            root, path, None, fam_docs, fam_urls, len(cols["url"]), nbytes
        )
    if workload == "curate_dedup":
        docs = documents([seed, 3], sizes.curate_docs)
        docs_dir = os.path.join(root, "sf")
        nbytes = _write(docs, os.path.join(docs_dir, "documents.parquet"))
        return Inputs(
            root, None, docs_dir, {"documents": docs}, {}, docs.num_rows,
            nbytes,
        )
    raise ValueError(f"unknown workload {workload!r}")
