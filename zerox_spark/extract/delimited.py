"""csv/tsv structured-data fast path — the reference's delimited branch.

The reference lists csv/tsv as first-class input types
(/root/reference/README.md:506-507) and routes structured data around OCR
into sheet-shaped pages (extractPagesFromStructuredDataFile,
node-zerox/src/utils/file.ts:311-329). A delimited file is a one-sheet
workbook: it extracts as ONE page holding the canonical first-row-``<th>``
HTML table — the same serialization the %SHEET, xlsx and .xls paths emit
(sheets.py / ooxml.grids_to_pages), so a csv and an xlsx of the same grid
produce the same ``<table>`` body.

Sniffing is content-based (the engine has no filenames): a payload whose
first lines parse to a CONSISTENT field count under one delimiter is a
table — tab at ≥ 2 lines × ≥ 2 fields, comma at ≥ 3 lines × ≥ 3 fields
(asymmetric because tabs in prose are rare while two short prose lines
can easily carry one comma each); anything else falls through to the
plain-text path. csv.reader does the parsing, so quoted fields (embedded
delimiters, doubled quotes) are handled. Tab is probed before comma — a
tsv whose fields contain commas must not be mis-split.

Conservative by design: a single-column csv — and a 1-2-column comma file
— is indistinguishable from plain prose and extracts as paragraphs
(documented divergence: the reference keys on the .csv extension, which
crawl payloads don't have; mis-tabling prose is the worse failure).
"""

from __future__ import annotations

import csv
import io

import re

from zerox_spark.extract.markdown import Block, grid_table, join_blocks

_SNIFF_LINES = 20
# no real delimited table carries C0 controls (beyond \t) or replacement
# chars in its first rows — binary whose bytes happen to contain commas
# must not qualify (round-3 What's-wrong #1: a JPEG sniffed as csv)
_UNTEXTY = re.compile("[\x00-\x08\x0b-\x1f\x7f�]")


def sniff_delimiter(src: str) -> str | None:
    """Return the delimiter if ``src`` looks like a delimited table: the
    first _SNIFF_LINES non-empty lines all parse to the same field count.
    Tab needs ≥ 2 lines × ≥ 2 fields (tabs in prose are rare); comma needs
    ≥ 3 lines AND ≥ 3 fields — two short prose lines with one comma each
    ("Dear John, hello" / "See you soon, bye") must stay on the plain-text
    path. None otherwise."""
    lines = [ln for ln in src.split("\n") if ln.strip()]
    probe = lines[:_SNIFF_LINES]
    if any(_UNTEXTY.search(ln) for ln in probe):
        return None  # control chars → not a table, whatever the commas say
    for delim, min_lines, min_fields in (("\t", 2, 2), (",", 3, 3)):
        if len(lines) < min_lines:
            continue
        try:
            rows = list(
                csv.reader(io.StringIO("\n".join(probe)), delimiter=delim)
            )
        except csv.Error:
            continue
        counts = [len(row) for row in rows]
        if (
            len(counts) >= min_lines
            and counts[0] >= min_fields
            and all(c == counts[0] for c in counts)
            # a real table's header/cells are word-like: require every
            # probe row to carry at least one alphanumeric character
            # (no cell-LENGTH cap: legit CSVs carry long free-text cells;
            # binary is already excluded by _UNTEXTY + the upstream guards)
            and all(any(ch.isalnum() for ch in "".join(row)) for row in rows)
        ):
            return delim
    return None


def delimited_to_pages(
    src: str, delimiter: str
) -> list[tuple[int, str, list[tuple[str, int, int, float]]]]:
    """One page: the full parsed grid as the canonical first-row-<th>
    table (empty rows dropped, cells whitespace-trimmed — the %SHEET
    parser's tolerance contract, sheets.py)."""
    rows = [
        [c.strip() for c in row]
        for row in csv.reader(io.StringIO(src), delimiter=delimiter)
    ]
    rows = [r for r in rows if any(c != "" for c in r)]
    if not rows:
        raise ValueError("delimited payload with no rows")
    markdown, spans = join_blocks([Block("table", grid_table(rows))])
    return [(1, markdown, spans)]
