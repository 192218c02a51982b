"""Driver-side layer timings on a fixed seeded sample of documents.

Routes, the HTML stages, markdown emit/format and the maintainFormat fold
are timed here, in the benchmark process, around direct calls into
``zerox_spark.extract.core``, ``zerox_spark.html``, ``zerox_spark.extract``
and ``zerox_spark.operators.fold``. Spark is not involved, so these times
are per-document CPU costs free of scheduling noise.
"""

from __future__ import annotations

import copy
import time

from perfbench import gen

SAMPLE_PER_ROUTE = 16  # documents timed per route
REPS = 3  # each document is timed REPS times; the fastest counts
POOL = 4000  # documents drawn to find SAMPLE_PER_ROUTE of each route

# generator kind → documents family (synth row renderer) it is drawn from
ROUTES = (
    "html", "fast_text", "pdf_synth", "sheet",
    "pdf_real", "pdf_crypt", "cfb", "ooxml", "pptx",
)
_FAMILY_ROW = {
    "pdf_real": "_row_pdf_real",
    "pdf_crypt": "_row_pdf_crypt",
    "cfb": "_row_legacy",
    "ooxml": "_row_ooxml",
    "pptx": "_row_pres",
}


def _taxonomy_kind(doc_id: int) -> str:
    """The route a taxonomy document takes (trusted text wins, then the
    renderer's sheet / pdf / html choice)."""
    from zerox_spark import synth

    if synth.is_fast(doc_id):
        return "fast_text"
    if synth.is_sheet_doc(doc_id):
        return "sheet"
    if synth.is_pdf_doc(doc_id):
        return "pdf_synth"
    return "html"


def sample(seed: int) -> dict[str, list[tuple[bytes, str]]]:
    """(payload, trusted text) of SAMPLE_PER_ROUTE documents per route."""
    from zerox_spark import synth

    docs = gen.documents([seed, 9], POOL).to_pylist()
    out: dict[str, list[tuple[bytes, str]]] = {r: [] for r in ROUTES}
    for d in docs:
        args = (d["doc_id"], d["text"], d["lang"], d["source"])
        kind = _taxonomy_kind(d["doc_id"])
        if len(out[kind]) < SAMPLE_PER_ROUTE:
            out[kind].append(synth._row_taxonomy(*args))
        for route, row_name in _FAMILY_ROW.items():
            if route == "pptx" and d["doc_id"] % 2:
                continue  # odd pres ids are legacy .ppt, a CFB route
            if len(out[route]) < SAMPLE_PER_ROUTE:
                out[route].append(getattr(synth, row_name)(*args))
    return out


def best(fn, *args, reps: int = REPS) -> tuple[float, object]:
    """(fastest of ``reps`` timings in seconds, last result) of
    ``fn(*args)``."""
    best_s, res = float("inf"), None
    for _ in range(reps):
        t0 = time.perf_counter()
        res = fn(*args)
        best_s = min(best_s, time.perf_counter() - t0)
    return best_s, res


def route_metrics(docs: dict[str, list[tuple[bytes, str]]]) -> dict[str, float]:
    """route.<r>.docs / .ms_per_doc / .error_docs via ``extract_document``
    with the job's extract configuration."""
    from zerox_spark.extract.core import extract_document
    from zerox_spark.pipeline import PipelineConfig

    cfg = PipelineConfig().extract
    out: dict[str, float] = {}
    for route, rows in docs.items():
        total, errors = 0.0, 0
        for payload, text in rows:
            s, pages = best(extract_document, payload, text or None, cfg)
            total += s
            errors += any(p.status == "ERROR" for p in pages)
        out[f"route.{route}.docs"] = len(rows)
        out[f"route.{route}.ms_per_doc"] = 1000.0 * total / len(rows)
        out[f"route.{route}.error_docs"] = errors
    return out


def html_metrics(docs: dict[str, list[tuple[bytes, str]]]) -> dict[str, float]:
    """Per-stage cost of the html route: tokenize, DOM parse (self time,
    without its tokenize), content scoring, block emit, fence format."""
    from zerox_spark.extract.fences import format_markdown
    from zerox_spark.extract.markdown import emit_blocks, join_blocks
    from zerox_spark.html.dom import parse
    from zerox_spark.html.score import compute_stats, select_content_root
    from zerox_spark.html.tokenizer import tokenize

    def score(nodes):
        stats = compute_stats(nodes)
        return stats, select_content_root(nodes, stats)

    def emit(nodes, stats, root):
        return join_blocks(emit_blocks(nodes, stats, root))[0]

    acc = dict.fromkeys(("tok", "parse", "score", "emit", "format"), 0.0)
    rows = docs["html"]
    for payload, _ in rows:
        src = payload.decode("utf-8")
        acc["tok"] += best(lambda s: list(tokenize(s)), src)[0]
        t, nodes = best(parse, src)
        acc["parse"] += t
        t, (stats, root) = best(score, nodes)
        acc["score"] += t
        t, markdown = best(emit, nodes, stats, root)
        acc["emit"] += t
        acc["format"] += best(format_markdown, markdown)[0]
    ms = 1000.0 / len(rows)
    return {
        "html.tokenize_ms_per_doc": acc["tok"] * ms,
        "html.parse_ms_per_doc": (acc["parse"] - acc["tok"]) * ms,
        "html.score_ms_per_doc": acc["score"] * ms,
        "md.emit_ms_per_doc": acc["emit"] * ms,
        "md.format_ms_per_doc": acc["format"] * ms,
    }


def fold_metrics(docs: dict[str, list[tuple[bytes, str]]]) -> dict[str, float]:
    """``refold_page_results`` on the multi-page synthetic PDFs."""
    from zerox_spark.extract.core import ExtractConfig, extract_document
    from zerox_spark.operators.fold import refold_page_results

    cfg = ExtractConfig(maintain_format=False)
    total = 0.0
    rows = docs["pdf_synth"]
    for payload, text in rows:
        pages = extract_document(payload, text or None, cfg)
        fastest = float("inf")
        for _ in range(REPS):
            fresh = copy.deepcopy(pages)  # the fold rewrites pages in place
            t0 = time.perf_counter()
            refold_page_results(fresh)
            fastest = min(fastest, time.perf_counter() - t0)
        total += fastest
    return {"fold.ms_per_doc": 1000.0 * total / len(rows)}


def driver_metrics(seed: int) -> dict[str, float]:
    docs = sample(seed)
    return {**route_metrics(docs), **html_metrics(docs), **fold_metrics(docs)}
