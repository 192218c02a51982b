"""maintainFormat — the engine's only stateful operator (SURVEY.md §2.4 O5).

Reference semantics: pages of a document are processed strictly in page
order, each receiving the prior page's markdown as formatting context
(CONSISTENCY_PROMPT, node-zerox/src/constants.ts:8-9). We standardize on the
Python SDK's error behavior (SURVEY.md §7): on a page error the fold
*continues* with prior context reset to "" (py_zerox/pyzerox/processor/
pdf.py:66-73 resets prior_page; zerox.py:138-150 keeps iterating). Node's
break-on-error (index.ts:362-364) is a documented divergence (PARITY.md).

The deterministic continuity transform (what "consistent formatting with the
prior page" means without an LLM): when the prior page *ends* with an HTML
table that has a <th> header row and the current page *begins* with a
headerless <table> continuation, the header row is re-emitted into the
continuation table — the cross-page-table case the consistency prompt exists
for.

Execution shape: zero-shuffle. Every page of a url is produced from one
input row, so ``extract_document`` (extract/core.py) folds a document's
pages right after extracting them, inside the extract UDF's task — a 100 TB
job does not pay a shuffle for a per-document fold. ``apply_maintain_format``
is the pure fold; streaming assembly and the golden tools call it directly.
"""

from __future__ import annotations

import re
from typing import Iterable

from zerox_spark.extract.core import STATUS_ERROR, STATUS_SUCCESS

_BLOCK_SEP = "\n\n"
_HEADER_ROW = re.compile(r"<tr>(?:<th>.*?</th>)+</tr>")
# page furniture that may sit between the content edge and the page boundary
_FURNITURE = re.compile(r"^<(page_number|watermark|logo)>.*</\1>$")


def _trailing_table(markdown: str) -> str | None:
    """The prior page's last *content* block (ignoring page furniture like
    <page_number> footers), if it is a header-bearing table."""
    for block in reversed(markdown.split(_BLOCK_SEP)):
        if _FURNITURE.match(block):
            continue
        if block.startswith("<table>") and block.endswith("</table>") and _HEADER_ROW.search(block):
            return block
        return None
    return None


def _continue_table(prior_table: str, markdown: str) -> str:
    """Re-emit the prior table's header into a headerless continuation (the
    current page's first content block, skipping leading furniture)."""
    for block in markdown.split(_BLOCK_SEP):
        if _FURNITURE.match(block):
            continue
        if not (block.startswith("<table>") and block.endswith("</table>")):
            return markdown
        if "<th>" in block:
            return markdown
        m = _HEADER_ROW.search(prior_table)
        if not m:
            return markdown
        replacement = block.replace("<table>", "<table>" + m.group(0), 1)
        return markdown.replace(block, replacement, 1)
    return markdown


def apply_maintain_format(
    pages: Iterable[tuple[int, str, str]],
) -> list[tuple[int, str, str]]:
    """Pure fold over (page_no, markdown, status) sorted by page_no."""
    out: list[tuple[int, str, str]] = []
    prior: str | None = None
    for page_no, markdown, status in pages:
        if status == STATUS_ERROR:
            out.append((page_no, markdown, status))
            prior = None  # py resets prior context
            continue
        if prior is not None:
            table = _trailing_table(prior)
            if table is not None:
                markdown = _continue_table(table, markdown)
        out.append((page_no, markdown, STATUS_SUCCESS))
        prior = markdown
    return out


def refold_page_results(pages) -> None:
    """The maintainFormat fold over one document's PageResult objects, in
    page order: updates markdown/status/content_length in place (the fold
    keeps every page)."""
    folded = apply_maintain_format(
        [(p.page_no, p.markdown, p.status) for p in pages]
    )
    for p, (_, md, st) in zip(pages, folded):
        p.markdown, p.status = md, st
        p.content_length = len(md)
