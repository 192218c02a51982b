"""Structured-sheet fast path — the Excel branch analog (SURVEY.md §2.2).

The reference routes spreadsheet files around OCR entirely: each sheet
becomes one Page whose content is a single HTML ``<table>`` with the first
row as ``<th>`` (convertExcelToHtml, node-zerox/src/utils/file.ts:210-276;
extractPagesFromStructuredDataFile, file.ts:311-329; routed by isExcelFile,
file.ts:363-371). This sandbox has no xlsx binaries, so the payload is a
CSV-per-sheet container with a magic header:

    %SHEET csv 1.0
    %%sheet name=<sheet name>
    h1,h2,h3
    a,b,c
    %%sheet name=<next>
    ...

Sheet k (1-indexed) → page k; markdown = the canonical single-line HTML
table (same serialization as the DOM emitter, markdown.py), first CSV row as
the header row. With an xlsx library present only ``parse_sheet_payload``
changes — routing, page model, and emission stay as is.
"""

from __future__ import annotations

from zerox_spark.extract.markdown import Block, grid_table, join_blocks

SHEET_MAGIC = b"%SHEET"


def parse_sheet_payload(payload: bytes) -> list[tuple[str, list[list[str]]]]:
    """payload → [(sheet_name, rows)] preserving order; cells are trimmed;
    blank lines are skipped (a corrupt line must not kill the doc)."""
    text = payload.decode("utf-8", errors="replace")
    sheets: list[tuple[str, list[list[str]]]] = []
    for raw in text.split("\n"):
        if raw.startswith("%%sheet"):
            name = raw.split("name=", 1)[1].strip() if "name=" in raw else ""
            sheets.append((name, []))
        elif raw.startswith(("%SHEET", "%%")):
            continue  # container directives only — a DATA row may
            # legitimately start with '%' ('% complete,Q1,...') and must
            # not silently vanish
        elif sheets and raw.strip():
            sheets[-1][1].append([c.strip() for c in raw.split(",")])
    return sheets


def sheets_to_pages(
    payload: bytes,
) -> list[tuple[int, str, list[tuple[str, int, int, float]]]]:
    """Full fast path: payload → [(page_no, markdown, spans)], sheet = page
    (extractPagesFromStructuredDataFile, file.ts:311-329)."""
    out = []
    for i, (_name, rows) in enumerate(parse_sheet_payload(payload), start=1):
        if not rows:
            continue
        markdown, spans = join_blocks([Block("table", grid_table(rows))])
        out.append((i, markdown, spans))
    return out
