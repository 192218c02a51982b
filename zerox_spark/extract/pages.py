"""Page semantics: selection, renumbering, document-level joins.

Mirrors the reference's page model exactly:

- select_pages normalization: scalar → [scalar]; sorted ascending; every
  page must be within [1, total] else the run errors
  (py_zerox/pyzerox/processor/utils.py:48-107 PageNumberOutOfBoundError;
  node-zerox silently drops out-of-range at index.ts:197-205 — we take the
  PY strict behavior per SURVEY.md §7).
- output renumbering: with select_pages the i-th produced page is numbered
  select_pages[i], else i+1 (py_zerox/pyzerox/core/zerox.py:182-194).
- document aggregation: pages joined "\n\n" for the .md artifact
  (node-zerox/src/index.ts:564-568) and "\n<hr><hr>\n" for the full-document
  extraction input (node-zerox/src/index.ts:482-491).
"""

from __future__ import annotations

PAGE_JOIN = "\n\n"
PAGE_DELIM = "\n<hr><hr>\n"


class PageNumberOutOfBoundError(ValueError):
    pass


def normalize_select_pages(
    select_pages: int | list[int] | None,
) -> list[int] | None:
    if select_pages is None:
        return None
    if isinstance(select_pages, int):
        pages = [select_pages]
    else:
        pages = sorted(select_pages)
    for p in pages:
        if p < 1:
            raise PageNumberOutOfBoundError(f"page {p} < 1")
    return pages


def select_and_renumber(
    pages: list[tuple[int, str, list]], select_pages: list[int] | None
) -> list[tuple[int, str, list]]:
    """Prune to selected source pages, then renumber outputs.

    ``pages`` are (source_page_no, markdown, spans) sorted by source page.
    """
    if select_pages is None:
        return [(i + 1, md, spans) for i, (_, md, spans) in enumerate(pages)]
    # membership check against the ACTUAL page numbers, not len(pages):
    # extractors may legitimately emit gapped numbering (empty sheets are
    # skipped, %%page no= values are source-controlled) — a count-based
    # bound both false-errors on real pages past a gap and KeyErrors on
    # the gap itself
    by_no = {no: (md, spans) for no, md, spans in pages}
    for p in select_pages:
        if p not in by_no:
            raise PageNumberOutOfBoundError(
                f"page {p} not in document (pages: {sorted(by_no)})"
            )
    return [(p, by_no[p][0], by_no[p][1]) for p in select_pages]


def join_document(markdowns: list[str]) -> str:
    """Per-doc markdown artifact (A1)."""
    return PAGE_JOIN.join(markdowns)
