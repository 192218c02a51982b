"""Deterministic synthesis of the input_hint pages table.

BASELINE.json's input is an Iceberg table of Common-Crawl-style pages
``(url, warc_ts, html, text, lang)``. No such table ships with the sandbox,
so this module derives one — **deterministically, with zero randomness** —
from the driver's ``documents.parquet`` (doc_id, text, lang, source,
n_chars): every doc_id maps to exactly one page row whose html/pdf payload is
a pure function of (doc_id, text, lang, source).

Because the renderer is deterministic AND the extractor is deterministic, the
expected extraction output is itself a closed-form function of the documents
row — which is what lets the DuckDB oracle (oracles.py) reconstruct the
byte-exact expected markdown in plain SQL. ``expected_markdown_pages`` below
is the Python statement of that contract; tests assert
extractor(render(doc)) == expected(doc) for every row.

Row taxonomy (all mod rules on doc_id, mutually ordered):

- fast path   (doc_id % 10 == 7):  pages.text = documents.text (trusted
  pre-extracted text; extractor routes around the DOM pass — the Excel
  fast-path analog, node-zerox/src/index.ts:167-168);
- pseudo-PDF  (doc_id % 5 == 0):  %PDF layout payload, 2 + doc_id % 3 pages
  (multi-page share 20%, FIXTURES.md §1);
- HTML        (everything else): full page with nav/header/aside/footer
  boilerplate and an <article> carrying deterministic optional blocks
  (table, list, code fence, checkboxes, extra section) plus a ~4% skew
  cohort whose body paragraph repeats 40× (FIXTURES.md pathological rows).
"""

from __future__ import annotations

import datetime as _dt

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from zerox_spark.schema import PAGES_SCHEMA

# ---------------------------------------------------------------------------
# taxonomy constants (shared with queries.py oracles — change both or neither)
FAST_MOD, FAST_EQ = 10, 7
SHEET_MOD, SHEET_EQ = 10, 1  # structured-sheet fast path (Excel analog)
PDF_MOD = 5  # doc_id % 5 == 0 → pdf
TABLE_MOD, TABLE_EQ = 7, 3
LIST_MOD, LIST_EQ = 5, 2
CODE_MOD, CODE_EQ = 11, 5
CHECK_MOD, CHECK_EQ = 13, 6
SECTION_MOD, SECTION_EQ = 17, 9
SKEW_MOD, SKEW_EQ = 23, 11
SKEW_REPEAT = 40
SECTION_WORDS = 10
PDF_WORDS_PER_LINE = 8

EPOCH = _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc)


def doc_url(doc_id: int, source: str) -> str:
    return f"https://site{doc_id % 97}.example/{source}/{doc_id}"


def doc_ts(doc_id: int) -> _dt.datetime:
    return EPOCH + _dt.timedelta(seconds=int(doc_id))


def is_fast(doc_id: int) -> bool:
    return doc_id % FAST_MOD == FAST_EQ


def is_sheet_doc(doc_id: int) -> bool:
    return doc_id % SHEET_MOD == SHEET_EQ


def is_pdf_doc(doc_id: int) -> bool:
    return doc_id % PDF_MOD == 0 and not is_fast(doc_id)


def n_pdf_pages(doc_id: int) -> int:
    return 2 + doc_id % 3


# ---------------------------------------------------------------------------
# renderers


def render_html(doc_id: int, text: str, lang: str, source: str) -> bytes:
    """Common-Crawl-style page: site chrome + ads around an <article>."""
    site = doc_id % 97
    body = text if doc_id % SKEW_MOD != SKEW_EQ else None
    paras = (
        f"<p>{text}</p>"
        if body is not None
        else "".join(f"<p>{text}</p>" for _ in range(SKEW_REPEAT))
    )
    blocks = [f"<h1>Document {doc_id}</h1>", paras]
    if doc_id % TABLE_MOD == TABLE_EQ:
        blocks.append(
            "<table class=\"stats\"><tr><th>metric</th><th>value</th></tr>"
            f"<tr><td>views</td><td>{(doc_id * 37) % 1000}</td></tr>"
            f"<tr><td>score</td><td>{(doc_id * 53) % 100}</td></tr></table>"
        )
    if doc_id % LIST_MOD == LIST_EQ:
        blocks.append(
            "<ul>"
            + "".join(
                f"<li>item {(doc_id * k) % 100}</li>" for k in (7, 11, 13)
            )
            + "</ul>"
        )
    if doc_id % CODE_MOD == CODE_EQ:
        blocks.append(f'<pre><code class="python">print({doc_id})</code></pre>')
    if doc_id % CHECK_MOD == CHECK_EQ:
        blocks.append(
            f'<p><input type="checkbox" checked> done {doc_id}</p>'
            f'<p><input type="checkbox"> todo {doc_id}</p>'
        )
    if doc_id % SECTION_MOD == SECTION_EQ:
        first = " ".join(text.split(" ")[:SECTION_WORDS])
        blocks.append(f"<h2>Section {doc_id}</h2><p>{first}</p>")
    article = "\n".join(blocks)
    html = f"""<!DOCTYPE html>
<html lang="{lang}"><head><title>Document {doc_id} — {source}</title>
<meta charset="utf-8"><script>var docId={doc_id};</script>
<style>body{{margin:0;font:14px serif}}</style></head>
<body>
<nav class="topnav"><ul><li><a href="/">Home</a></li><li><a href="/about">About</a></li><li><a href="/contact">Contact</a></li><li><a href="/login">Login</a></li></ul></nav>
<header><div class="banner"><a href="/promo">Limited offer — click here now!</a></div></header>
<aside class="ads"><div><a href="https://ads.example/1">Buy now</a> <a href="https://ads.example/2">Subscribe</a> <a href="https://ads.example/3">Hot deal</a></div></aside>
<article>
{article}
</article>
<footer><p><a href="/terms">Terms</a> · <a href="/privacy">Privacy</a> · © 2024 site{site}.example</p></footer>
</body></html>"""
    return html.encode("utf-8")


def sheet_cells(doc_id: int) -> tuple[list[list[str]], list[list[str]]]:
    """Deterministic cell grids for the two sheets of a sheet-doc."""
    data = [
        ["name", "q1", "q2"],
        ["r0", str((doc_id * 7) % 100), str((doc_id * 11) % 100)],
        ["r1", str((doc_id * 7 + 13) % 100), str((doc_id * 11 + 17) % 100)],
    ]
    summary = [["name", "total"], ["all", str((doc_id * 19) % 1000)]]
    return data, summary


def render_sheet(doc_id: int) -> bytes:
    """Structured-sheet payload (grammar in extract/sheets.py): 2 sheets."""
    data, summary = sheet_cells(doc_id)
    out = ["%SHEET csv 1.0"]
    for name, rows in (("data", data), ("summary", summary)):
        out.append(f"%%sheet name={name}")
        out.extend(",".join(row) for row in rows)
    return ("\n".join(out) + "\n").encode("utf-8")


def render_pdf(doc_id: int, text: str) -> bytes:
    """Pseudo-PDF layout payload (grammar in layout.py)."""
    words = text.split(" ")
    total = len(words)
    np_ = n_pdf_pages(doc_id)
    out = ["%PDF-SYNTH 1.0"]
    for p in range(1, np_ + 1):
        out.append(f"%%page no={p} w=612.0 h=792.0")
        out.append(
            f"%%line y=750.0 x=72.0 size=18.0 text=Document {doc_id} — page {p}"
        )
        chunk = words[(p - 1) * total // np_ : p * total // np_]
        y = 700.0
        for i in range(0, len(chunk), PDF_WORDS_PER_LINE):
            seg = " ".join(chunk[i : i + PDF_WORDS_PER_LINE])
            out.append(f"%%line y={y} x=72.0 size=10.0 text={seg}")
            y -= 20.0
        out.append(f"%%line y=40.0 x=306.0 size=8.0 text={p}")
    return ("\n".join(out) + "\n").encode("utf-8")


# ---------------------------------------------------------------------------
# the closed-form expected output (the oracle contract, python statement)


def render_payload(doc_id: int, text: str, lang: str, source: str) -> bytes:
    """Route to the right renderer for this doc_id (single entry point for
    tests and the Spark batch renderer)."""
    if is_sheet_doc(doc_id):
        return render_sheet(doc_id)
    if is_pdf_doc(doc_id):
        return render_pdf(doc_id, text)
    return render_html(doc_id, text, lang, source)


def _table_html(rows: list[list[str]]) -> str:
    parts = ["<table>"]
    for i, row in enumerate(rows):
        tag = "th" if i == 0 else "td"
        parts.append(
            "<tr>" + "".join(f"<{tag}>{c}</{tag}>" for c in row) + "</tr>"
        )
    parts.append("</table>")
    return "".join(parts)


def expected_markdown_pages(
    doc_id: int, text: str, source: str
) -> list[tuple[int, str]]:
    if is_fast(doc_id):
        return [(1, text)]
    if is_sheet_doc(doc_id):
        data, summary = sheet_cells(doc_id)
        return [(1, _table_html(data)), (2, _table_html(summary))]
    if is_pdf_doc(doc_id):
        words = text.split(" ")
        total = len(words)
        np_ = n_pdf_pages(doc_id)
        pages = []
        for p in range(1, np_ + 1):
            chunk = " ".join(words[(p - 1) * total // np_ : p * total // np_])
            md = (
                f"# Document {doc_id} — page {p}\n\n{chunk}\n\n"
                f"<page_number>{p}</page_number>"
            )
            pages.append((p, md))
        return pages
    blocks = [f"# Document {doc_id}"]
    if doc_id % SKEW_MOD == SKEW_EQ:
        blocks.extend([text] * SKEW_REPEAT)
    else:
        blocks.append(text)
    if doc_id % TABLE_MOD == TABLE_EQ:
        blocks.append(
            "<table><tr><th>metric</th><th>value</th></tr>"
            f"<tr><td>views</td><td>{(doc_id * 37) % 1000}</td></tr>"
            f"<tr><td>score</td><td>{(doc_id * 53) % 100}</td></tr></table>"
        )
    if doc_id % LIST_MOD == LIST_EQ:
        blocks.append(
            "\n".join(f"- item {(doc_id * k) % 100}" for k in (7, 11, 13))
        )
    if doc_id % CODE_MOD == CODE_EQ:
        blocks.append(f"```python\nprint({doc_id})\n```")
    if doc_id % CHECK_MOD == CHECK_EQ:
        blocks.append(f"☑ done {doc_id}")
        blocks.append(f"☐ todo {doc_id}")
    if doc_id % SECTION_MOD == SECTION_EQ:
        blocks.append(f"## Section {doc_id}")
        blocks.append(" ".join(text.split(" ")[:SECTION_WORDS]))
    return [(1, "\n\n".join(blocks))]


# ---------------------------------------------------------------------------
# OOXML renderers (real zip+XML payloads for the ooxml extraction path —
# extract/ooxml.py). Deterministic byte output: ZIP_STORED, fixed timestamps.

import io as _io
import zipfile as _zipfile
from xml.sax.saxutils import escape as _xesc


def _zip_bytes(members: list[tuple[str, str]]) -> bytes:
    buf = _io.BytesIO()
    with _zipfile.ZipFile(buf, "w", _zipfile.ZIP_STORED) as zf:
        for name, data in members:
            zi = _zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            zf.writestr(zi, data)
    return buf.getvalue()


_XLSX_CT = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
    '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
    '<Override PartName="/xl/worksheets/sheet2.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
    '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
    "</Types>"
)

_PKG_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="{target}"/>'
    "</Relationships>"
)


def _xlsx_sheet_xml(rows: list[list[tuple[str, str]]]) -> str:
    """rows of (cell_type, value): type 's' shared-string index, 'n' number,
    'str' literal string."""
    out = [
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        "<sheetData>"
    ]
    for rno, row in enumerate(rows, start=1):
        out.append(f'<row r="{rno}">')
        for cno, (ctype, val) in enumerate(row):
            ref = chr(65 + cno) + str(rno)
            if ctype == "n":
                out.append(f'<c r="{ref}"><v>{val}</v></c>')
            else:
                out.append(f'<c r="{ref}" t="{ctype}"><v>{val}</v></c>')
        out.append("</row>")
    out.append("</sheetData></worksheet>")
    return "".join(out)


def render_xlsx(doc_id: int) -> bytes:
    """Real xlsx payload whose grids equal sheet_cells(doc_id) — the same
    cell values as the %SHEET container, through the zip+XML container."""
    data, summary = sheet_cells(doc_id)
    shared = ["name", "q1", "q2", "r0", "r1", "total", "all"]
    idx = {s: i for i, s in enumerate(shared)}

    def enc_row(row: list[str]) -> list[tuple[str, str]]:
        return [
            ("s", str(idx[c])) if c in idx else ("n", c) for c in row
        ]

    sst = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        f'count="{len(shared)}" uniqueCount="{len(shared)}">'
        + "".join(f"<si><t>{s}</t></si>" for s in shared)
        + "</sst>"
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="data" sheetId="1" r:id="rId1"/>'
        '<sheet name="summary" sheetId="2" r:id="rId2"/></sheets></workbook>'
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
        '<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet2.xml"/>'
        '<Relationship Id="rId3" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>'
        "</Relationships>"
    )
    return _zip_bytes(
        [
            ("[Content_Types].xml", _XLSX_CT),
            ("_rels/.rels", _PKG_RELS.format(target="xl/workbook.xml")),
            ("xl/workbook.xml", workbook),
            ("xl/_rels/workbook.xml.rels", wb_rels),
            ("xl/sharedStrings.xml", sst),
            ("xl/worksheets/sheet1.xml", _xlsx_sheet_xml([enc_row(r) for r in data])),
            ("xl/worksheets/sheet2.xml", _xlsx_sheet_xml([enc_row(r) for r in summary])),
        ]
    )


_DOCX_CT = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>'
    "</Types>"
)

_W_XMLNS = 'xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"'


def _w_p(text: str, style: str | None = None, num: bool = False) -> str:
    ppr = ""
    if style or num:
        inner = f'<w:pStyle w:val="{style}"/>' if style else ""
        if num:
            inner += '<w:numPr><w:ilvl w:val="0"/><w:numId w:val="1"/></w:numPr>'
        ppr = f"<w:pPr>{inner}</w:pPr>"
    return f"<w:p>{ppr}<w:r><w:t>{_xesc(text)}</w:t></w:r></w:p>"


def render_docx(doc_id: int, text: str) -> bytes:
    """Real docx payload: Title, body paragraph, 2 list items, a stats
    table, an explicit page break, then a Heading2 section — deterministic
    closed form of (doc_id, text) so the oracle can state the expected
    markdown in SQL."""
    first10 = " ".join(text.split(" ")[:SECTION_WORDS])

    def tc(t: str) -> str:
        return f"<w:tc><w:p><w:r><w:t>{_xesc(t)}</w:t></w:r></w:p></w:tc>"

    tbl = (
        "<w:tbl>"
        "<w:tr>" + tc("metric") + tc("value") + "</w:tr>"
        "<w:tr>" + tc("views") + tc(str((doc_id * 37) % 1000)) + "</w:tr>"
        "</w:tbl>"
    )
    body = (
        _w_p(f"Document {doc_id}", style="Title")
        + _w_p(text)
        + _w_p(f"item {(doc_id * 7) % 100}", num=True)
        + _w_p(f"item {(doc_id * 11) % 100}", num=True)
        + tbl
        + '<w:p><w:r><w:br w:type="page"/></w:r></w:p>'
        + _w_p(f"Section {doc_id}", style="Heading2")
        + _w_p(first10)
    )
    document = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f"<w:document {_W_XMLNS}><w:body>{body}</w:body></w:document>"
    )
    return _zip_bytes(
        [
            ("[Content_Types].xml", _DOCX_CT),
            ("_rels/.rels", _PKG_RELS.format(target="word/document.xml")),
            ("word/document.xml", document),
        ]
    )


_PPTX_CT = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/ppt/presentation.xml" ContentType="application/vnd.openxmlformats-officedocument.presentationml.presentation.main+xml"/>'
    '<Override PartName="/ppt/slides/slide1.xml" ContentType="application/vnd.openxmlformats-officedocument.presentationml.slide+xml"/>'
    '<Override PartName="/ppt/slides/slide2.xml" ContentType="application/vnd.openxmlformats-officedocument.presentationml.slide+xml"/>'
    "</Types>"
)

_PPTX_NS = (
    'xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main" '
    'xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main" '
    'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"'
)


def _pptx_sp(text: str, ph_type: str | None = None) -> str:
    ph = f'<p:ph type="{ph_type}"/>' if ph_type else ""
    return (
        "<p:sp><p:nvSpPr><p:cNvPr id='2' name='s'/><p:cNvSpPr/>"
        f"<p:nvPr>{ph}</p:nvPr></p:nvSpPr><p:spPr/>"
        f"<p:txBody><a:bodyPr/><a:p><a:r><a:t>{_xesc(text)}</a:t></a:r></a:p>"
        "</p:txBody></p:sp>"
    )


def _pptx_slide(shapes: str) -> str:
    return (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f"<p:sld {_PPTX_NS}><p:cSld><p:spTree>"
        "<p:nvGrpSpPr><p:cNvPr id='1' name=''/><p:cNvGrpSpPr/><p:nvPr/></p:nvGrpSpPr>"
        f"<p:grpSpPr/>{shapes}</p:spTree></p:cSld></p:sld>"
    )


def render_pptx(doc_id: int, text: str) -> bytes:
    """Real pptx payload: slide 1 = title + body paragraph + a:tbl stats
    table, slide 2 = title + first-10-words paragraph — a deterministic
    closed form of (doc_id, text) so the oracle can restate the expected
    markdown in SQL (the docx-shape analog through PresentationML)."""
    first10 = " ".join(text.split(" ")[:SECTION_WORDS])

    def a_tc(t: str) -> str:
        return (
            "<a:tc><a:txBody><a:bodyPr/><a:p><a:r><a:t>"
            f"{_xesc(t)}</a:t></a:r></a:p></a:txBody></a:tc>"
        )

    tbl = (
        "<p:graphicFrame><p:nvGraphicFramePr><p:cNvPr id='9' name='t'/>"
        "<p:cNvGraphicFramePr/><p:nvPr/></p:nvGraphicFramePr><p:xfrm/>"
        '<a:graphic><a:graphicData uri="http://schemas.openxmlformats.org/drawingml/2006/table">'
        "<a:tbl><a:tblGrid/>"
        "<a:tr>" + a_tc("metric") + a_tc("value") + "</a:tr>"
        "<a:tr>" + a_tc("views") + a_tc(str((doc_id * 37) % 1000)) + "</a:tr>"
        "</a:tbl></a:graphicData></a:graphic></p:graphicFrame>"
    )
    slide1 = _pptx_slide(
        _pptx_sp(f"Document {doc_id}", "title")
        + _pptx_sp(text)
        + tbl
    )
    slide2 = _pptx_slide(
        _pptx_sp(f"Section {doc_id}", "title") + _pptx_sp(first10)
    )
    presentation = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f"<p:presentation {_PPTX_NS}><p:sldIdLst>"
        '<p:sldId id="256" r:id="rId1"/><p:sldId id="257" r:id="rId2"/>'
        "</p:sldIdLst></p:presentation>"
    )
    pres_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/slide" Target="slides/slide1.xml"/>'
        '<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/slide" Target="slides/slide2.xml"/>'
        "</Relationships>"
    )
    return _zip_bytes(
        [
            ("[Content_Types].xml", _PPTX_CT),
            ("_rels/.rels", _PKG_RELS.format(target="ppt/presentation.xml")),
            ("ppt/presentation.xml", presentation),
            ("ppt/_rels/presentation.xml.rels", pres_rels),
            ("ppt/slides/slide1.xml", slide1),
            ("ppt/slides/slide2.xml", slide2),
        ]
    )


# ---------------------------------------------------------------------------
# legacy-Office renderers (.xls BIFF8 / .doc Word97 inside real CFB
# containers — extract/cfb.py, extract/legacy_office.py)

import struct as _struct


def _biff_rec(op: int, body: bytes) -> bytes:
    return _struct.pack("<HH", op, len(body)) + body


def _biff_short_str(s: str) -> bytes:
    raw = s.encode("cp1252")
    return _struct.pack("<BB", len(s), 0) + raw


def render_xls(doc_id: int) -> bytes:
    """Real .xls (BIFF8-in-CFB) with the sheet_cells(doc_id) grids — the
    same cell values as render_xlsx, through the legacy container."""
    data, summary = sheet_cells(doc_id)
    shared = ["name", "q1", "q2", "r0", "r1", "total", "all"]
    idx = {s: i for i, s in enumerate(shared)}

    def bof(dt: int) -> bytes:
        return _biff_rec(
            0x0809, _struct.pack("<HHHHII", 0x0600, dt, 0x0DBB, 0x07CC, 0, 0)
        )

    eof = _biff_rec(0x000A, b"")

    sst_body = _struct.pack("<II", len(shared), len(shared))
    for s in shared:
        sst_body += _struct.pack("<HB", len(s), 0) + s.encode("cp1252")
    sst = _biff_rec(0x00FC, sst_body)

    def sheet_substream(rows: list[list[str]]) -> bytes:
        recs = [bof(0x0010)]
        for rw, row in enumerate(rows):
            for col, cell in enumerate(row):
                if cell in idx:
                    recs.append(
                        _biff_rec(
                            0x00FD,
                            _struct.pack("<HHHI", rw, col, 0, idx[cell]),
                        )
                    )
                else:
                    recs.append(
                        _biff_rec(
                            0x0203,
                            _struct.pack("<HHH", rw, col, 0)
                            + _struct.pack("<d", float(cell)),
                        )
                    )
        recs.append(eof)
        return b"".join(recs)

    sheets = [("data", sheet_substream(data)), ("summary", sheet_substream(summary))]
    # globals length is independent of the BOF offsets inside BOUNDSHEET
    # records (fixed-width u32), so one placeholder pass sizes it
    def globals_block(offsets: list[int]) -> bytes:
        recs = [bof(0x0005), sst]
        for (name, _), off in zip(sheets, offsets):
            recs.append(
                _biff_rec(
                    0x0085,
                    _struct.pack("<IH", off, 0) + _biff_short_str(name),
                )
            )
        recs.append(eof)
        return b"".join(recs)

    glen = len(globals_block([0] * len(sheets)))
    offsets, pos = [], glen
    for _, sub in sheets:
        offsets.append(pos)
        pos += len(sub)
    workbook = globals_block(offsets) + b"".join(sub for _, sub in sheets)

    from zerox_spark.extract.cfb import write_cfb

    return write_cfb([("Workbook", workbook)])


def render_doc(doc_id: int, text: str) -> bytes:
    """Real .doc (Word97-in-CFB): FIB + single uncompressed text piece +
    piece table in 1Table. Two pages split by an explicit page break."""
    first10 = " ".join(text.split(" ")[:SECTION_WORDS])
    body = (
        f"Document {doc_id}\r{text}\r\x0c"
        f"Section {doc_id}\r{first10}\r"
    )
    text_off = 1024
    raw_text = body.encode("utf-16-le")
    word = bytearray(text_off) + raw_text
    _struct.pack_into("<H", word, 0, 0xA5EC)  # wIdent
    _struct.pack_into("<H", word, 2, 0x00C1)  # nFib (Word97)
    _struct.pack_into("<H", word, 0x0A, 0x0200)  # fWhichTblStm → 1Table
    _struct.pack_into("<I", word, 0x4C, len(body))  # ccpText
    # Clx: Pcdt with a single uncompressed piece at fc=text_off
    plc = _struct.pack("<II", 0, len(body)) + _struct.pack(
        "<HIH", 0, text_off, 0
    )
    clx = b"\x02" + _struct.pack("<I", len(plc)) + plc
    _struct.pack_into("<II", word, 0x01A2, 0, len(clx))  # fcClx, lcbClx
    from zerox_spark.extract.cfb import write_cfb

    return write_cfb([("WordDocument", bytes(word)), ("1Table", clx)])


# ---------------------------------------------------------------------------
# ODF renderers (odt text + ods spreadsheet — the OpenDocument family the
# reference routes through libreoffice; extract/ooxml.py ODF branch)

_ODF_NS = (
    'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
    'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0" '
    'xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0"'
)


def _odf_doc(body_kind: str, body: str, mimetype: str) -> bytes:
    content = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        f"<office:document-content {_ODF_NS}>"
        f"<office:body><office:{body_kind}>{body}</office:{body_kind}>"
        "</office:body></office:document-content>"
    )
    return _zip_bytes([("mimetype", mimetype), ("content.xml", content)])


def render_ods(doc_id: int) -> bytes:
    """Real ods payload carrying the sheet_cells grids — the THIRD container
    of the same workbook (after xlsx and .xls), extracting byte-identical
    pages through the shared grids_to_pages contract."""
    data, summary = sheet_cells(doc_id)

    def sheet(name: str, rows: list[list[str]]) -> str:
        trs = "".join(
            "<table:table-row>"
            + "".join(
                f"<table:table-cell><text:p>{_xesc(c)}</text:p></table:table-cell>"
                for c in row
            )
            + "</table:table-row>"
            for row in rows
        )
        return f'<table:table table:name="{name}">{trs}</table:table>'

    # every 4th workbook ships as an .ots TEMPLATE (README.md:495-513 lists
    # ots/ott/otp as first-class input types): same body, template mimetype —
    # routing is body-element based so pages are identical (oracle unchanged)
    suffix = "-template" if doc_id % 4 == 0 else ""
    return _odf_doc(
        "spreadsheet",
        sheet("data", data) + sheet("summary", summary),
        "application/vnd.oasis.opendocument.spreadsheet" + suffix,
    )


def render_odt(doc_id: int, text: str) -> bytes:
    """Real odt payload mirroring render_docx's structure (title, body,
    2-item list, stats table, section) — one page (ODT pagination is
    renderer-defined; no explicit breaks here)."""
    first10 = " ".join(text.split(" ")[:SECTION_WORDS])

    def tc(t: str) -> str:
        return (
            f"<table:table-cell><text:p>{_xesc(t)}</text:p></table:table-cell>"
        )

    body = (
        f'<text:h text:outline-level="1">Document {doc_id}</text:h>'
        f"<text:p>{_xesc(text)}</text:p>"
        "<text:list>"
        f"<text:list-item><text:p>item {(doc_id * 7) % 100}</text:p></text:list-item>"
        f"<text:list-item><text:p>item {(doc_id * 11) % 100}</text:p></text:list-item>"
        "</text:list>"
        "<table:table><table:table-row>"
        + tc("metric")
        + tc("value")
        + "</table:table-row><table:table-row>"
        + tc("views")
        + tc(str((doc_id * 37) % 1000))
        + "</table:table-row></table:table>"
        f'<text:h text:outline-level="2">Section {doc_id}</text:h>'
        f"<text:p>{_xesc(first10)}</text:p>"
    )
    suffix = "-template" if doc_id % 4 == 1 else ""  # .ott coverage
    return _odf_doc(
        "text", body, "application/vnd.oasis.opendocument.text" + suffix
    )


_ODP_NS = (
    _ODF_NS
    + ' xmlns:draw="urn:oasis:names:tc:opendocument:xmlns:drawing:1.0"'
    + ' xmlns:presentation="urn:oasis:names:tc:opendocument:xmlns:presentation:1.0"'
)


def render_odp(doc_id: int, text: str) -> bytes:
    """Real odp payload: two draw:page slides with title frames + body
    text-boxes — the ppt/pptx closed-form shape through the ODF family."""
    first10 = " ".join(text.split(" ")[:SECTION_WORDS])

    def frame(cls: str, para: str) -> str:
        attr = f' presentation:class="{cls}"' if cls else ""
        return (
            f"<draw:frame{attr}><draw:text-box>"
            f"<text:p>{_xesc(para)}</text:p>"
            "</draw:text-box></draw:frame>"
        )

    def page(name: str, title: str, body_para: str) -> str:
        return (
            f'<draw:page draw:name="{name}">'
            + frame("title", title)
            + frame("", body_para)
            + "</draw:page>"
        )

    content = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        f"<office:document-content {_ODP_NS}>"
        "<office:body><office:presentation>"
        + page("page1", f"Document {doc_id}", text)
        + page("page2", f"Section {doc_id}", first10)
        + "</office:presentation></office:body></office:document-content>"
    )
    suffix = "-template" if doc_id % 4 == 0 else ""  # .otp coverage
    return _zip_bytes(
        [
            (
                "mimetype",
                "application/vnd.oasis.opendocument.presentation" + suffix,
            ),
            ("content.xml", content),
        ]
    )


def render_wpd(doc_id: int, text: str) -> bytes:
    """Real .wpd payload (WP5.x byte model): prefix header with the
    document-area offset, hard returns/page breaks, a soft space, and a
    variable function group that must be skipped whole."""
    first10 = " ".join(text.split(" ")[:SECTION_WORDS])
    # 0xD3 variable group: code, subcode, u16 size, payload, closing code
    grp_payload = b"\x00" * 7
    grp = (
        bytes([0xD3, 0x01])
        + _struct.pack("<H", 4 + len(grp_payload) + 1)
        + grp_payload
        + bytes([0xD3])
    )
    body = (
        f"Document {doc_id}\x0a".encode("ascii")
        + grp
        + text.encode("ascii", "replace").replace(b" ", b"\x80")
        + b"\x0a\x0c"
        + f"Section {doc_id}\x0a".encode("ascii")
        + first10.encode("ascii", "replace")
        + b"\x0a"
    )
    header = b"\xffWPC" + _struct.pack("<I", 16) + b"\x01\x0a\x00\x00" + b"\x00\x00\x00\x00"
    return header + body


# ---------------------------------------------------------------------------
# generic XML renderer (extract/core.py XML branch)


def render_xml(doc_id: int, text: str) -> bytes:
    """Standalone XML document (the reference's 'xml' input type) — element
    text nodes in document order become paragraphs."""
    first10 = " ".join(text.split(" ")[:SECTION_WORDS])
    xml = (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        f'<record id="{doc_id}">\n'
        f"  <title>Document {doc_id}</title>\n"
        f"  <body>{_xesc(text)}</body>\n"
        f"  <note>Section {doc_id}: {_xesc(first10)}</note>\n"
        "</record>\n"
    )
    return xml.encode("utf-8")


# ---------------------------------------------------------------------------
# RTF renderer (extract/rtf.py)


def _rtf_escape(s: str) -> str:
    return s.replace("\\", "\\\\").replace("{", "\\{").replace("}", "\\}")


def render_rtf(doc_id: int, text: str) -> bytes:
    """Real RTF payload: font-table destination (must not leak into output),
    two pages split by \\page, title/body/section paragraphs — the .doc
    closed-form shape through text markup."""
    first10 = " ".join(text.split(" ")[:SECTION_WORDS])
    rtf = (
        "{\\rtf1\\ansi\\deff0"
        "{\\fonttbl{\\f0\\froman Times New Roman;}}"
        "{\\*\\generator zerox-spark-synth;}"
        f"\\pard Document {doc_id}\\par\n"
        f"{_rtf_escape(text)}\\par\n"
        "\\page "
        f"Section {doc_id}\\par\n"
        f"{_rtf_escape(first10)}\\par\n"
        "}"
    )
    return rtf.encode("cp1252", "replace")


# ---------------------------------------------------------------------------
# delimited renderers (csv/tsv — extract/delimited.py structured fast path)


def render_csv(doc_id: int) -> bytes:
    """Comma-delimited payload carrying the sheet_cells data grid — the
    same cell values as the %SHEET/xlsx/xls containers, so a csv and an
    xlsx of one grid extract the same <table> body."""
    data, _ = sheet_cells(doc_id)
    return ("\n".join(",".join(row) for row in data) + "\n").encode("utf-8")


def render_tsv(doc_id: int) -> bytes:
    """Tab-delimited payload with a QUOTED field (embedded comma + doubled
    quote) — pins the csv-module quoting/escaping behavior in a closed form
    the oracle can restate."""
    lines = [
        "name\tnote",
        f'r{doc_id % 7}\t"says ""hi"", x={(doc_id * 3) % 100}"',
    ]
    return ("\n".join(lines) + "\n").encode("utf-8")


def _ppt_rec(ver: int, inst: int, rectype: int, body: bytes) -> bytes:
    return _struct.pack("<HHI", (inst << 4) | ver, rectype, len(body)) + body


def render_ppt(doc_id: int, text: str) -> bytes:
    """Real legacy .ppt ([MS-PPT] records in CFB): a Document container
    holding a SlideListWithText with two slides — SlidePersistAtom +
    title/body TextHeaderAtom/TextCharsAtom pairs. Same closed-form text
    as render_pptx minus the table (binary-ppt tables are grouped shapes,
    out of the deterministic subset)."""
    first10 = " ".join(text.split(" ")[:SECTION_WORDS])

    def slide(title: str, paras: list[str]) -> bytes:
        recs = _ppt_rec(0, 0, 0x03F3, bytes(20))  # SlidePersistAtom
        recs += _ppt_rec(0, 0, 0x0F9F, _struct.pack("<I", 0))
        recs += _ppt_rec(0, 0, 0x0FA0, title.encode("utf-16-le"))
        for p in paras:
            recs += _ppt_rec(0, 0, 0x0F9F, _struct.pack("<I", 1))
            recs += _ppt_rec(0, 0, 0x0FA0, p.encode("utf-16-le"))
        return recs

    sltw = _ppt_rec(
        0xF,
        0,
        0x0FF0,
        slide(f"Document {doc_id}", [text])
        + slide(f"Section {doc_id}", [first10]),
    )
    doc = _ppt_rec(0xF, 0, 0x03E8, sltw)
    from zerox_spark.extract.cfb import write_cfb

    return write_cfb([("PowerPoint Document", doc)])


# ---------------------------------------------------------------------------
# REAL born-digital PDF synthesis (%PDF-1.4, spec-conformant: xref table,
# FlateDecode streams, WinAnsi + Type0/ToUnicode fonts). Six variants per
# doc_id % 6 exercise the distinct parser paths in extract/pdf.py; all but
# the figure one produce the SAME expected markdown (variant 4 adds the
# image placeholder line), so one closed-form oracle covers all:
#   0: uncompressed content, Td/T* line motion, literal (…) strings
#   1: FlateDecode content, TD leading, TJ arrays (kern word-gaps) + hex
#      strings, an /Encoding dict with /Differences (estimate-mode spacing)
#   2: FlateDecode content, Tm positioning, Type0/Identity-H font with
#      2-byte hex strings decoded through a ToUnicode CMap
#   3: FlateDecode content, a font WITH /Widths and LETTER-SPACED TJ
#      arrays (small kerns inside words, wide kerns between words) — the
#      exact-advance line-assembly path (the "U N ITED → UNITED" case)
#   4: an 8×8 DeviceRGB image XObject painted between heading and body —
#      the interpreter emits the dialect's ![figure](#) placeholder at
#      the painted position (round 6)
#   5: a Type 3 glyph-procedure font — no BaseFont, no program; text is
#      reachable only through /Encoding /Differences (round 6)
import zlib as _zlib


def _pdf_esc(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _pdf_hex_1byte(s: str) -> str:
    return "<" + s.encode("cp1252", errors="replace").hex() + ">"


def _pdf_hex_2byte(s: str) -> str:
    return "<" + "".join(f"{ord(c):04x}" for c in s) + ">"


def _pdf_real_layout(doc_id: int, text: str):
    """The shared page/line layout: [(page, [(x, y, size, text), ...])].
    Geometry chosen against layout.py's constants: heading→body gap 40 >
    VALLEY_GAP(32) splits blocks; 14-pt line step keeps a paragraph one
    block; footer y=40 < FOOTER_Y(60) + digits → <page_number>."""
    words = text.split(" ")
    body1 = [
        " ".join(words[i : i + PDF_WORDS_PER_LINE])
        for i in range(0, len(words), PDF_WORDS_PER_LINE)
    ]
    sect = words[:SECTION_WORDS]
    body2 = [" ".join(sect[:5]), " ".join(sect[5:])]
    body2 = [b for b in body2 if b]
    pages = []
    for no, (head, hsize, body) in enumerate(
        (
            (f"Document {doc_id}", 20.0, body1),
            (f"Section {doc_id}", 15.0, body2),
        ),
        start=1,
    ):
        # page height grows with the body so the LAST body line always sits
        # >= 72 pt above the footer (> VALLEY_GAP, and clear of FOOTER_Y):
        # without this, ~45+ body lines would march into the footer zone
        # and break the closed-form oracle for long documents
        height = max(792.0, 184.0 + 14.0 * len(body))
        lines = [(72.0, height - 72.0, hsize, head)]
        y = height - 112.0
        for ln in body:
            lines.append((72.0, y, 11.0, ln))
            y -= 14.0
        lines.append((306.0, 40.0, 9.0, str(no)))
        pages.append((height, lines))
    return pages


def _pdf_content_v0(lines) -> bytes:
    ops = []
    for x, y, size, txt in lines:
        ops.append(
            f"BT /F1 {size:g} Tf {x:g} {y:g} Td ({_pdf_esc(txt)}) Tj ET"
        )
    return "\n".join(ops).encode("cp1252", errors="replace")


def _pdf_content_v1(lines) -> bytes:
    # TJ arrays: words as alternating literal/hex strings with -250 kern
    # word gaps (no space chars at all — the parser's gap rule supplies
    # them); TD sets leading for multi-line bodies
    ops = []
    for x, y, size, txt in lines:
        parts = []
        for i, w in enumerate(txt.split(" ")):
            if i:
                parts.append("-250")
            parts.append(
                _pdf_hex_1byte(w) if i % 2 else f"({_pdf_esc(w)})"
            )
        ops.append(
            f"BT /F1 {size:g} Tf {x:g} {y:g} TD [{' '.join(parts)}] TJ ET"
        )
    return "\n".join(ops).encode("cp1252", errors="replace")


def _pdf_content_v2(lines) -> bytes:
    ops = []
    for x, y, size, txt in lines:
        ops.append(
            f"BT /F1 {size:g} Tf 1 0 0 1 {x:g} {y:g} Tm"
            f" {_pdf_hex_2byte(txt)} Tj ET"
        )
    return "\n".join(ops).encode("ascii")


def _pdf_content_v3(lines) -> bytes:
    # letter-spaced TJ: every word split into single chars with -60 kerns
    # (0.06 em < the 0.15 em space threshold → merged), words separated by
    # -700 kerns (0.7 em → space) — decodes correctly ONLY through the
    # exact-advance path (/Widths present; all glyphs declared 500)
    ops = []
    for x, y, size, txt in lines:
        parts = []
        for i, w in enumerate(txt.split(" ")):
            if i:
                parts.append("-700")
            for j, ch in enumerate(w):
                if j:
                    parts.append("-60")
                parts.append(f"({_pdf_esc(ch)})")
        ops.append(
            f"BT /F1 {size:g} Tf {x:g} {y:g} Td [{' '.join(parts)}] TJ ET"
        )
    return "\n".join(ops).encode("cp1252", errors="replace")


def _pdf_content_v5(lines) -> bytes:
    """Type 3 variant content: v0 line ops, except the FIRST line (the
    heading) paints SCRAMBLED bytes inside a /Span whose /ActualText
    declares the true text (§14.9.4 — the ligature/fix-up pattern).
    Only an interpreter that honors ActualText recovers the heading, so
    the hashed oracle locks the feature."""
    ops = []
    for idx, (x, y, size, txt) in enumerate(lines):
        if idx == 0 and len(txt) >= 4:
            # swap two middle characters: stays within the font's
            # Differences map, differs from the true text
            mid = len(txt) // 2
            shown = (
                txt[: mid - 1] + txt[mid] + txt[mid - 1] + txt[mid + 1 :]
            )
            ops.append(
                f"BT /F1 {size:g} Tf {x:g} {y:g} Td"
                f" /Span << /ActualText ({_pdf_esc(txt)}) >> BDC"
                f" ({_pdf_esc(shown)}) Tj EMC ET"
            )
        else:
            ops.append(
                f"BT /F1 {size:g} Tf {x:g} {y:g} Td ({_pdf_esc(txt)}) Tj ET"
            )
    return "\n".join(ops).encode("cp1252", errors="replace")


def _tounicode_cmap(chars: set[str]) -> bytes:
    """Identity ToUnicode CMap (code == codepoint) over the chars used:
    the printable-ASCII bfrange plus one bfchar per non-ASCII char."""
    extra = sorted(c for c in chars if ord(c) > 0x7E)
    bfchars = "\n".join(f"<{ord(c):04x}> <{ord(c):04x}>" for c in extra)
    body = f"""/CIDInit /ProcSet findresource begin
12 dict begin
begincmap
1 begincodespacerange
<0000> <ffff>
endcodespacerange
1 beginbfrange
<0020> <007e> <0020>
endbfrange
{len(extra)} beginbfchar
{bfchars}
endbfchar
endcmap
end
end"""
    return body.encode("ascii")


# Adobe StandardEncoding glyph names for the printable-ASCII codes — the
# independent restatement the Type 3 variant's /Differences array uses
# (synth and parser must not share one table); non-ASCII cp1252 chars go
# through AGL ``uniXXXX`` names, the convention Type 3 generators use.
_T3_ASCII_NAMES = (
    "space exclam quotedbl numbersign dollar percent ampersand quotesingle"
    " parenleft parenright asterisk plus comma hyphen period slash"
    " zero one two three four five six seven eight nine"
    " colon semicolon less equal greater question at"
).split() + list("ABCDEFGHIJKLMNOPQRSTUVWXYZ") + (
    "bracketleft backslash bracketright asciicircum underscore grave"
).split() + list("abcdefghijklmnopqrstuvwxyz") + (
    "braceleft bar braceright asciitilde"
).split()


def _t3_glyph_name(ch: str) -> str:
    o = ord(ch)
    if 32 <= o <= 126:
        return _T3_ASCII_NAMES[o - 32]
    return f"uni{o:04X}"


# the figure variant's image box (device points): 200×36 at x=72, top 40pt
# under the heading — both axes over the 24-pt decoration floor
_FIG_W, _FIG_H = 200.0, 36.0


def render_pdf_real(doc_id: int, text: str) -> bytes:
    """A genuine, spec-conformant %PDF-1.4 document (2 pages)."""
    variant = doc_id % 6
    layout = _pdf_real_layout(doc_id, text)
    if variant == 4:
        # page 1 gains an image XObject between heading and body: grow the
        # page 48 pt and raise the heading with it; the body and footer
        # keep their absolute positions, leaving a 48-pt slot for the
        # figure box at (72, newheight-148)..(272, newheight-112)
        height0, lines0 = layout[0]
        lines0 = [lines0[0][:1] + (lines0[0][1] + 48.0,) + lines0[0][2:]] + (
            lines0[1:]
        )
        layout[0] = (height0 + 48.0, lines0)
    objs: dict[int, bytes] = {}
    n_pages = len(layout)
    page_nums = [4 + 2 * i for i in range(n_pages)]
    kids = " ".join(f"{n} 0 R" for n in page_nums)
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[2] = (
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    )
    if variant == 2:
        chars = {c for _, lines in layout for _, _, _, t in lines for c in t}
        cmap = _tounicode_cmap(chars)
        comp = _zlib.compress(cmap)
        objs[3] = (
            b"<< /Type /Font /Subtype /Type0 /BaseFont /SynthCID"
            b" /Encoding /Identity-H /DescendantFonts [8 0 R]"
            b" /ToUnicode 9 0 R >>"
        )
        objs[8] = (
            b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /SynthCID"
            b" /CIDSystemInfo << /Registry (Adobe) /Ordering (Identity)"
            b" /Supplement 0 >> >>"
        )
        objs[9] = (
            f"<< /Length {len(comp)} /Filter /FlateDecode >>\nstream\n".encode()
            + comp
            + b"\nendstream"
        )
    elif variant == 1:
        # /Differences that RESTATE WinAnsi codes (parser must apply them
        # on top of the base encoding without disturbing the rest)
        objs[3] = (
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
            b" /Encoding << /BaseEncoding /WinAnsiEncoding"
            b" /Differences [ 65 /A 97 /a 48 /zero ] >> >>"
        )
    elif variant == 3:
        widths = " ".join(["500"] * 224)
        objs[3] = (
            b"<< /Type /Font /Subtype /TrueType /BaseFont /SynthMono"
            b" /Encoding /WinAnsiEncoding /FirstChar 32 /LastChar 255"
            b" /Widths [" + widths.encode() + b"] >>"
        )
    elif variant == 5:
        # Type 3 glyph-procedure font (VERDICT r5 next #8): no BaseFont,
        # no embedded program — the ONLY route to text is /Encoding
        # /Differences naming every used code; /CharProcs streams all
        # share one trivial d0 proc (pixels are not this engine's concern)
        chars = sorted(
            {c for _, lines in layout for *_, t in lines for c in t}
        )
        names = [_t3_glyph_name(c) for c in chars]
        diffs = " ".join(
            f"{ord(c)} /{nm}" for c, nm in zip(chars, names)
        )
        procs = " ".join(f"/{nm} 9 0 R" for nm in names)
        objs[3] = (
            b"<< /Type /Font /Subtype /Type3"
            b" /FontBBox [0 0 1000 1000]"
            b" /FontMatrix [0.001 0 0 0.001 0 0]"
            b" /CharProcs << " + procs.encode() + b" >>"
            b" /Encoding << /Type /Encoding /Differences ["
            + diffs.encode()
            + b"] >> /FirstChar 32 /LastChar 255 /Widths ["
            + b" ".join([b"500"] * 224)
            + b"] >>"
        )
        objs[9] = b"<< /Length 8 >>\nstream\n500 0 d0\nendstream"
    else:
        objs[3] = (
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
            b" /Encoding /WinAnsiEncoding >>"
        )
    if variant == 4:
        # 8×8 DeviceRGB image XObject, deterministic pixels
        px = bytes((doc_id * 31 + i * 7) % 256 for i in range(192))
        objs[10] = (
            f"<< /Type /XObject /Subtype /Image /Width 8 /Height 8"
            f" /ColorSpace /DeviceRGB /BitsPerComponent 8"
            f" /Length {len(px)} >>\nstream\n".encode()
            + px
            + b"\nendstream"
        )
    content_fn = (
        _pdf_content_v0, _pdf_content_v1, _pdf_content_v2, _pdf_content_v3,
        _pdf_content_v0, _pdf_content_v5,
    )[variant]
    for i, (height, lines) in enumerate(layout):
        pnum, cnum = page_nums[i], page_nums[i] + 1
        res = "<< /Font << /F1 3 0 R >> >>"
        if variant == 4 and i == 0:
            res = "<< /Font << /F1 3 0 R >> /XObject << /Im0 10 0 R >> >>"
        objs[pnum] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 {height:g}]"
            f" /Resources {res}"
            f" /Contents {cnum} 0 R >>".encode()
        )
        raw = content_fn(lines)
        if variant == 4 and i == 0:
            # paint the figure: unit square through the CTM → the
            # 200×36 box whose top sits 40 pt under the heading
            raw = (
                f"q {_FIG_W:g} 0 0 {_FIG_H:g} 72"
                f" {height - 112.0 - _FIG_H:g} cm /Im0 Do Q\n".encode()
                + raw
            )
        if variant:
            comp = _zlib.compress(raw)
            objs[cnum] = (
                f"<< /Length {len(comp)} /Filter /FlateDecode >>\nstream\n".encode()
                + comp
                + b"\nendstream"
            )
        else:
            objs[cnum] = (
                f"<< /Length {len(raw)} >>\nstream\n".encode()
                + raw
                + b"\nendstream"
            )
    return _assemble_pdf(objs)


def _assemble_pdf(objs: dict[int, bytes], trailer_extra: bytes = b"") -> bytes:
    """Assemble numbered objects into a %PDF-1.4 file with a correct xref
    table; ``trailer_extra`` appends entries (e.g. /Encrypt, /ID) inside
    the trailer dictionary."""
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + objs[num] + b"\nendobj\n"
    maxnum = max(objs)
    xref_pos = len(out)
    out += f"xref\n0 {maxnum + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for num in range(1, maxnum + 1):
        if num in offsets:
            out += f"{offsets[num]:010d} 00000 n \n".encode()
        else:
            out += b"0000000000 65535 f \n"
    out += (
        f"trailer\n<< /Size {maxnum + 1} /Root 1 0 R ".encode()
        + trailer_extra
        + f">>\nstartxref\n{xref_pos}\n%%EOF\n".encode()
    )
    return bytes(out)


def expected_pdf_real_pages(
    doc_id: int, text: str, figure: bool | None = None
) -> list[tuple[int, str]]:
    """Closed-form expected markdown for render_pdf_real — the Python
    statement of the extract_pdf_real oracle contract. The figure variant
    (doc_id % 6 == 4) carries the image placeholder between the heading
    and the body; every other variant changes only the font/content
    machinery, never the markdown. Callers comparing against
    render_pdf_encrypted (which ALWAYS renders the figure-less variant-0
    layout) must pass figure=False — the doc_id default only matches
    render_pdf_real itself."""
    sect = " ".join(text.split(" ")[:SECTION_WORDS])
    if figure is None:
        figure = doc_id % 6 == 4
    fig = "![figure](#)\n\n" if figure else ""
    return [
        (
            1,
            f"# Document {doc_id}\n\n{fig}{text}\n\n"
            f"<page_number>1</page_number>",
        ),
        (2, f"## Section {doc_id}\n\n{sect}\n\n<page_number>2</page_number>"),
    ]


# --------------------------------------------------------------------------
# encrypted / form / CJK PDF family (doc_id % 5 variants, one oracle):
#   0: RC4 /V 2 /R 3          (legacy owner-locked)
#   1: AES-128 /V 4 /AESV2    (the post-2005 Acrobat default)
#   2: AES-256 /V 5 /R 6      (PDF 2.0 /AESV3, Algorithm-2.B hash)
#   3: filled AcroForm        (widget /AP streams + /V fallbacks + ☑)
#   4: CJK Type0 /UniGB-UCS2-H predefined CMap (no ToUnicode)
# Variants 0-2 carry the SAME page layout as render_pdf_real's variant 0,
# so their closed-form expected markdown is expected_pdf_real_pages;
# 3 and 4 have their own closed forms below. All empty-password: the
# ubiquitous "owner-locked" crawl case the reference decrypts implicitly
# via poppler (node-zerox/src/utils/file.ts:153-207).

_CRYPT_P = -4  # /P in both the dict and the key derivation — must agree


def _det_bytes(tag: str, n: int) -> bytes:
    """Deterministic pseudo-random bytes (fixtures must be closed-form)."""
    import hashlib as _hl

    out = b""
    i = 0
    while len(out) < n:
        out += _hl.sha256(f"{tag}:{i}".encode()).digest()
        i += 1
    return out[:n]


from functools import lru_cache as _lru_cache


@_lru_cache(maxsize=8)
def _rc4_owner_entry(r: int, n: int) -> bytes:
    """Algorithm 3 with BOTH passwords empty (constant per (r, n) —
    cached so per-doc fixture rendering skips the 50-round MD5 chain)."""
    import hashlib as _hl

    from zerox_spark.extract.pdf import _PAD, _rc4

    key = _hl.md5(_PAD).digest()
    if r >= 3:
        for _ in range(50):
            key = _hl.md5(key[:n]).digest()
    rc4key = key[:n]
    o = _rc4(rc4key, _PAD)
    if r >= 3:
        for i in range(1, 20):
            o = _rc4(bytes(b ^ i for b in rc4key), o)
    return o


def _rc4_file_key(o: bytes, first_id: bytes, r: int, n: int) -> bytes:
    """Algorithm 2, empty user password."""
    import hashlib as _hl

    from zerox_spark.extract.pdf import _PAD

    h = _hl.md5()
    h.update(_PAD)
    h.update(o[:32])
    h.update((_CRYPT_P & 0xFFFFFFFF).to_bytes(4, "little"))
    h.update(first_id)
    key = h.digest()
    if r >= 3:
        for _ in range(50):
            key = _hl.md5(key[:n]).digest()
    return key[:n]


def _rc4_user_entry(file_key: bytes, first_id: bytes, r: int) -> bytes:
    """Algorithm 4 (R2) / 5 (R3+)."""
    import hashlib as _hl

    from zerox_spark.extract.pdf import _PAD, _rc4

    if r == 2:
        return _rc4(file_key, _PAD)
    u = _rc4(file_key, _hl.md5(_PAD + first_id).digest())
    for i in range(1, 20):
        u = _rc4(bytes(b ^ i for b in file_key), u)
    return u + b"\x00" * 16


def _v5_material():
    """The /V 5 /R 6 entries (U, UE, O, OE, Perms) for a FIXED file key and
    fixed salts — fixed so the extractor's memoized Algorithm-2.B hash runs
    once per executor process instead of once per document (the same
    amortization a real corpus sharing an /Encrypt dict gets)."""
    global _V5_CACHE
    if _V5_CACHE is None:
        from zerox_spark.extract import aes as _aes

        fk = _det_bytes("v5-filekey", 32)
        uv, uk = _det_bytes("v5-uvsalt", 8), _det_bytes("v5-uksalt", 8)
        ov, ok_ = _det_bytes("v5-ovsalt", 8), _det_bytes("v5-oksalt", 8)
        u = _aes.hash_r6(b"", uv, b"") + uv + uk
        ue = _aes.cbc_encrypt_nopad(
            _aes.hash_r6(b"", uk, b""), b"\x00" * 16, fk
        )
        o = _aes.hash_r6(b"", ov, u[:48]) + ov + ok_
        oe = _aes.cbc_encrypt_nopad(
            _aes.hash_r6(b"", ok_, u[:48]), b"\x00" * 16, fk
        )
        perms_plain = (
            (_CRYPT_P & 0xFFFFFFFF).to_bytes(4, "little")
            + b"\xff\xff\xff\xff"
            + b"T"  # /EncryptMetadata true
            + b"adb"
            + b"zx5\x00"
        )
        perms = _aes.ecb_encrypt_block(fk, perms_plain)
        _V5_CACHE = (fk, u, ue, o, oe, perms)
    return _V5_CACHE


_V5_CACHE = None


def _crypt_obj_key(file_key: bytes, num: int, mode: str) -> bytes:
    import hashlib as _hl

    if mode == "aesv3":
        return file_key
    salt = b"sAlT" if mode == "aesv2" else b""
    h = _hl.md5(
        file_key
        + (num & 0xFFFFFF).to_bytes(3, "little")
        + b"\x00\x00"  # gen 0
        + salt
    ).digest()
    return h[: min(len(file_key) + 5, 16)]


def _encrypt_stream_payload(
    payload: bytes, num: int, mode: str, file_key: bytes, doc_id: int
) -> bytes:
    from zerox_spark.extract.pdf import _rc4

    key = _crypt_obj_key(file_key, num, mode)
    if mode == "rc4":
        return _rc4(key, payload)
    from zerox_spark.extract import aes as _aes

    iv = _det_bytes(f"iv:{doc_id}:{num}", 16)
    return iv + _aes.cbc_encrypt(key, iv, payload)


def _crypt_material(mode: str, doc_id: int) -> tuple[bytes, bytes, bytes]:
    """(file_key, /Encrypt dict bytes, first /ID) for a standard-handler
    fixture with empty user + owner passwords."""
    first_id = _det_bytes(f"id:{doc_id}", 16)
    if mode == "rc4":
        o = _rc4_owner_entry(3, 16)
        fk = _rc4_file_key(o, first_id, 3, 16)
        u = _rc4_user_entry(fk, first_id, 3)
        encdict = (
            b"<< /Filter /Standard /V 2 /R 3 /Length 128 /O <%s> /U <%s>"
            b" /P %d >>"
            % (o.hex().encode(), u.hex().encode(), _CRYPT_P)
        )
    elif mode == "aesv2":
        o = _rc4_owner_entry(4, 16)
        fk = _rc4_file_key(o, first_id, 4, 16)
        u = _rc4_user_entry(fk, first_id, 4)
        encdict = (
            b"<< /Filter /Standard /V 4 /R 4 /Length 128"
            b" /CF << /StdCF << /CFM /AESV2 /Length 16 >> >>"
            b" /StmF /StdCF /StrF /StdCF /O <%s> /U <%s> /P %d >>"
            % (o.hex().encode(), u.hex().encode(), _CRYPT_P)
        )
    else:  # aesv3
        fk, u5, ue, o5, oe, perms = _v5_material()
        encdict = (
            b"<< /Filter /Standard /V 5 /R 6 /Length 256"
            b" /CF << /StdCF << /CFM /AESV3 /Length 32 >> >>"
            b" /StmF /StdCF /StrF /StdCF"
            b" /O <%s> /U <%s> /OE <%s> /UE <%s> /Perms <%s> /P %d >>"
            % (
                o5.hex().encode(),
                u5.hex().encode(),
                oe.hex().encode(),
                ue.hex().encode(),
                perms.hex().encode(),
                _CRYPT_P,
            )
        )
    return fk, encdict, first_id


def render_pdf_encrypted(doc_id: int, text: str, mode: str) -> bytes:
    """render_pdf_real's variant-0 layout, encrypted with the standard
    security handler (empty user + owner passwords)."""
    layout = _pdf_real_layout(doc_id, text)
    objs: dict[int, bytes] = {}
    n_pages = len(layout)
    page_nums = [4 + 2 * i for i in range(n_pages)]
    kids = " ".join(f"{n} 0 R" for n in page_nums)
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[2] = f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    objs[3] = (
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
        b" /Encoding /WinAnsiEncoding >>"
    )
    fk, encdict, first_id = _crypt_material(mode, doc_id)
    for i, (height, lines) in enumerate(layout):
        pnum, cnum = page_nums[i], page_nums[i] + 1
        objs[pnum] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 {height:g}]"
            f" /Resources << /Font << /F1 3 0 R >> >>"
            f" /Contents {cnum} 0 R >>".encode()
        )
        raw = _pdf_content_v0(lines)
        if mode == "rc4":
            enc = _encrypt_stream_payload(raw, cnum, mode, fk, doc_id)
            head = f"<< /Length {len(enc)} >>".encode()
        else:
            comp = _zlib.compress(raw)
            enc = _encrypt_stream_payload(comp, cnum, mode, fk, doc_id)
            head = (
                f"<< /Length {len(enc)} /Filter /FlateDecode >>".encode()
            )
        objs[cnum] = head + b"\nstream\n" + enc + b"\nendstream"
    objs[99] = encdict
    idhex = first_id.hex().encode()
    trailer_extra = b"/Encrypt 99 0 R /ID [<%s> <%s>] " % (idhex, idhex)
    return _assemble_pdf(objs, trailer_extra)


def render_pdf_form(
    doc_id: int, text: str, _crypt: tuple[str, bytes] | None = None
) -> bytes:
    """A filled AcroForm: a text field with an /AP appearance stream, a
    text field with only /V, a FreeText note, and a checked checkbox —
    the four widget-harvest paths (extract/pdf.py _harvest_annots).
    With ``_crypt=(mode, file_key)``, every string AND stream is encrypted
    with its owning object's key (§7.6.2 encrypts strings too — the
    harvest must decrypt /V //Contents //DA before reading them)."""

    def s(txt: str, num: int) -> bytes:
        if _crypt is None:
            return b"(" + _pdf_esc(txt).encode() + b")"
        mode, fk = _crypt
        enc = _encrypt_stream_payload(
            txt.encode("latin-1"), num, mode, fk, doc_id
        )
        return b"<" + enc.hex().encode() + b">"

    def stream_obj(head: bytes, raw: bytes, num: int) -> bytes:
        if _crypt is not None:
            mode, fk = _crypt
            raw = _encrypt_stream_payload(raw, num, mode, fk, doc_id)
        return (
            head + f" /Length {len(raw)} >>\nstream\n".encode()
            + raw
            + b"\nendstream"
        )

    val_a = f"Applicant {doc_id}"
    val_b = f"Ref {(doc_id * 7) % 1000}"
    note = f"Note {(doc_id * 3) % 100}"
    ap_raw = f"BT /F1 11 Tf 2 6 Td ({_pdf_esc(val_a)}) Tj ET".encode()
    objs: dict[int, bytes] = {}
    objs[1] = (
        b"<< /Type /Catalog /Pages 2 0 R /AcroForm << /Fields"
        b" [6 0 R 8 0 R] >> >>"
    )
    objs[2] = b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>"
    objs[3] = (
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
        b" /Encoding /WinAnsiEncoding >>"
    )
    objs[4] = (
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
        b" /Resources << /Font << /F1 3 0 R >> >>"
        b" /Contents 5 0 R /Annots [6 0 R 8 0 R 9 0 R 10 0 R] >>"
    )
    content = f"BT /F1 20 Tf 72 720 Td (Form {doc_id}) Tj ET".encode()
    objs[5] = stream_obj(b"<<", content, 5)
    objs[6] = (
        b"<< /Type /Annot /Subtype /Widget /FT /Tx /T " + s("applicant", 6)
        + b" /V " + s(val_a, 6)
        + b" /Rect [72 640 300 660] /AP << /N 7 0 R >> >>"
    )
    objs[7] = stream_obj(
        b"<< /Type /XObject /Subtype /Form /BBox [0 0 228 20]"
        b" /Resources << /Font << /F1 3 0 R >> >>",
        ap_raw,
        7,
    )
    objs[8] = (
        b"<< /Type /Annot /Subtype /Widget /FT /Tx /T " + s("ref", 8)
        + b" /V " + s(val_b, 8)
        + b" /DA " + s("/Helv 11 Tf 0 g", 8)
        + b" /Rect [72 600 300 620] >>"
    )
    objs[9] = (
        b"<< /Type /Annot /Subtype /FreeText"
        b" /Contents " + s(note, 9)
        + b" /Rect [72 560 300 580] >>"
    )
    objs[10] = (
        b"<< /Type /Annot /Subtype /Widget /FT /Btn /T " + s("agree", 10)
        + b" /V /Yes /AS /Yes /Rect [72 520 92 540] >>"
    )
    if _crypt is None:
        return _assemble_pdf(objs)
    mode, fk = _crypt
    _, encdict, first_id = _crypt_material(mode, doc_id)
    objs[99] = encdict
    idhex = first_id.hex().encode()
    return _assemble_pdf(
        objs, b"/Encrypt 99 0 R /ID [<%s> <%s>] " % (idhex, idhex)
    )


def render_pdf_form_encrypted(
    doc_id: int, text: str, mode: str = "aesv2"
) -> bytes:
    """An ENCRYPTED filled AcroForm — the composition that silently loses
    data if string decryption is missing (streams alone would render the
    page heading and AP value but garble /V //Contents //DA). No synth
    family renders it: it is the fixture of the string-decryption half of
    PARITY.md row C3-C5 (AcroForm harvest under the standard handler)."""
    fk, _, _ = _crypt_material(mode, doc_id)
    return render_pdf_form(doc_id, text, _crypt=(mode, fk))


def expected_pdf_form_page(doc_id: int) -> str:
    """Closed-form markdown for render_pdf_form (XY-cut order: heading,
    AP-stream value, /V fallback value, FreeText note, checked box)."""
    return (
        f"# Form {doc_id}\n\nApplicant {doc_id}\n\n"
        f"Ref {(doc_id * 7) % 1000}\n\nNote {(doc_id * 3) % 100}\n\n☑"
    )


_CJK_BODY = "中文内容 第{n}节 测试"


def render_pdf_cjk(doc_id: int, text: str) -> bytes:
    """A Type0 font with the PREDEFINED /UniGB-UCS2-H CMap and no
    ToUnicode: the character code IS the UCS-2 code unit, which the parser
    must decode by identity (extract/pdf.py Font.code_is_unicode)."""
    head = f"文档 {doc_id}"
    body = _CJK_BODY.format(n=doc_id % 7)
    ops = (
        f"BT /F1 20 Tf 1 0 0 1 72 720 Tm {_pdf_hex_2byte(head)} Tj ET\n"
        f"BT /F1 11 Tf 1 0 0 1 72 680 Tm {_pdf_hex_2byte(body)} Tj ET"
    ).encode("ascii")
    comp = _zlib.compress(ops)
    objs: dict[int, bytes] = {}
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[2] = b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>"
    objs[3] = (
        b"<< /Type /Font /Subtype /Type0 /BaseFont /SynthGB"
        b" /Encoding /UniGB-UCS2-H /DescendantFonts [6 0 R] >>"
    )
    objs[4] = (
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
        b" /Resources << /Font << /F1 3 0 R >> >>"
        b" /Contents 5 0 R >>"
    )
    objs[5] = (
        f"<< /Length {len(comp)} /Filter /FlateDecode >>\nstream\n".encode()
        + comp
        + b"\nendstream"
    )
    objs[6] = (
        b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /SynthGB /DW 1000"
        b" /CIDSystemInfo << /Registry (Adobe) /Ordering (GB1)"
        b" /Supplement 5 >> >>"
    )
    return _assemble_pdf(objs)


def expected_pdf_cjk_page(doc_id: int) -> str:
    return f"# 文档 {doc_id}\n\n{_CJK_BODY.format(n=doc_id % 7)}"


# --------------------------------------------------------------------------
# accented-subset-font PDFs (round 6): a ToUnicode-less SYMBOLIC font whose
# only name source is the embedded font program — Type1C/CFF standard SIDs
# in one variant, TrueType post-2.0 standard Macintosh indexes in the
# other. Character codes are deliberately NON-ASCII (0x80+i) so a cp1252
# fallback would emit mojibake, never the oracle text: only the true
# font-program chain can pass.
#
# The SID / Mac-index constants below RESTATE the public tables
# independently of extract/cff.py / extract/truetype.py (CFF spec
# Appendix A; OpenType `post` spec) — the synth and the parser must not
# share one table, or a wrong entry would cancel out.

_CFF_ACCENT_SIDS = {
    "é": 207, "è": 210, "à": 203, "ç": 206, "û": 223, "ü": 224,
    "É": 178, "ß": 149, "ö": 218, "R": 51,
}

_MAC_ACCENT_IDX = {
    "é": 112, "è": 113, "ç": 111, "û": 128, "ü": 129, "ö": 124,
    "ß": 137, "É": 101, "Ü": 104, "ñ": 120,
}


def _cff_sid(ch: str) -> int:
    """StandardEncoding ASCII printables sit at SID code-31 (quotesingle
    and grave are the exceptions — avoided in the templates)."""
    o = ord(ch)
    if 32 <= o <= 126 and ch not in "'`":
        return o - 31
    return _CFF_ACCENT_SIDS[ch]


def _mac_idx(ch: str) -> int:
    """Mac glyph order: ASCII printables at index code-29."""
    o = ord(ch)
    if 32 <= o <= 126:
        return o - 29
    return _MAC_ACCENT_IDX[ch]


def _accent_charmap(text: str, keyfn) -> tuple[dict[str, int], list[int]]:
    """chars of ``text`` → {char: code} with codes 0x80.., plus the
    per-glyph name key (SID or Mac index) list in glyph order 1..n."""
    chars = sorted(set(text))
    return (
        {c: 0x80 + i for i, c in enumerate(chars)},
        [keyfn(c) for c in chars],
    )


def render_cff_font(sids: list[int]) -> bytes:
    """A minimal, structurally-valid bare-CFF (Type1C) font program:
    glyphs 1..n carry the given SIDs (charset format 0), codes 0x80+i map
    to glyph i+1 (Encoding format 0), CharStrings are 1-byte endchar
    stubs. Offsets are computed exactly; the CFF spec's INDEX/DICT
    encodings are restated here independently of the reader."""
    n = len(sids)

    def index(items: list[bytes]) -> bytes:
        if not items:
            return _struct.pack(">H", 0)
        offs = [1]
        for it in items:
            offs.append(offs[-1] + len(it))
        return (
            _struct.pack(">HB", len(items), 4)
            + b"".join(_struct.pack(">I", o) for o in offs)
            + b"".join(items)
        )

    name_idx = index([b"SynthAccent"])
    # Top DICT: three absolute-offset operators, each a 5-byte int29
    # operand + 1-byte op (fixed 18-byte dict → offsets computable)
    top_dict_size = 18
    top_idx_size = 2 + 1 + 2 * 4 + top_dict_size  # count offSize offs dict
    string_idx = index([])
    gsubr_idx = index([])
    header = b"\x01\x00\x04\x04"
    fixed = (
        len(header)
        + len(name_idx)
        + top_idx_size
        + len(string_idx)
        + len(gsubr_idx)
    )
    encoding = bytes([0, n]) + bytes(0x80 + i for i in range(n))
    charset = b"\x00" + b"".join(_struct.pack(">H", s) for s in sids)
    charstrings = index([b"\x0e"] * (n + 1))  # .notdef + n endchars
    enc_off = fixed
    charset_off = enc_off + len(encoding)
    cs_off = charset_off + len(charset)

    def op29(value: int, op: int) -> bytes:
        return b"\x1d" + _struct.pack(">i", value) + bytes([op])

    top_dict = op29(charset_off, 15) + op29(enc_off, 16) + op29(cs_off, 17)
    assert len(top_dict) == top_dict_size
    top_idx = (
        _struct.pack(">HB", 1, 4)
        + _struct.pack(">II", 1, 1 + top_dict_size)
        + top_dict
    )
    assert len(top_idx) == top_idx_size
    return (
        header
        + name_idx
        + top_idx
        + string_idx
        + gsubr_idx
        + encoding
        + charset
        + charstrings
    )


def render_ttf_post_font(mac_indexes: list[int]) -> bytes:
    """A minimal sfnt with a (1,0) cmap format-6 subtable (codes 0x80+i →
    glyphs 1..n) and a post 2.0 table whose glyphNameIndex entries are the
    given STANDARD Macintosh order indexes (< 258, no string pool)."""
    n = len(mac_indexes)
    cmap_sub = _struct.pack(
        ">HHHHH", 6, 10 + 2 * n, 0, 0x80, n
    ) + b"".join(_struct.pack(">H", g + 1) for g in range(n))
    cmap = _struct.pack(">HH", 0, 1) + _struct.pack(">HHI", 1, 0, 12) + cmap_sub
    post = (
        _struct.pack(">IihhIIIII", 0x00020000, 0, 0, 0, 0, 0, 0, 0, 0)
        + _struct.pack(">H", n + 1)
        + _struct.pack(">H", 0)  # glyph 0 → .notdef
        + b"".join(_struct.pack(">H", i) for i in mac_indexes)
    )
    tables = [(b"cmap", cmap), (b"post", post)]
    out = bytearray(_struct.pack(">IHHHH", 0x00010000, len(tables), 0, 0, 0))
    off = 12 + 16 * len(tables)
    recs = b""
    body = b""
    for tag, data in tables:
        recs += tag + _struct.pack(">III", 0, off, len(data))
        body += data
        off += len(data)
    return bytes(out) + recs + body


_ACCENT_CFF_HEAD = "Résumé {d}"
_ACCENT_CFF_BODY = "Le café coûte {n} euros déjà"
_ACCENT_POST_HEAD = "Übersicht {d}"
_ACCENT_POST_BODY = "Straße Nr {n} für Köln"


def _render_accent_pdf(doc_id: int, kind: str) -> bytes:
    if kind == "cff":
        head = _ACCENT_CFF_HEAD.format(d=doc_id)
        body = _ACCENT_CFF_BODY.format(n=doc_id % 90 + 10)
        cmap, keys = _accent_charmap(head + body, _cff_sid)
        prog = render_cff_font(keys)
        ff_key = b"/FontFile3"
        ff_extra = b" /Subtype /Type1C"
        subtype = b"/Type1"
    else:
        head = _ACCENT_POST_HEAD.format(d=doc_id)
        body = _ACCENT_POST_BODY.format(n=doc_id % 90 + 10)
        cmap, keys = _accent_charmap(head + body, _mac_idx)
        prog = render_ttf_post_font(keys)
        ff_key = b"/FontFile2"
        ff_extra = b""
        subtype = b"/TrueType"

    def hexstr(s: str) -> str:
        return "<" + "".join(f"{cmap[c]:02x}" for c in s) + ">"

    ops = (
        f"BT /F1 20 Tf 72 720 Td {hexstr(head)} Tj ET\n"
        f"BT /F1 11 Tf 72 660 Td {hexstr(body)} Tj ET"
    ).encode("ascii")
    comp = _zlib.compress(ops)
    fcomp = _zlib.compress(prog)
    objs: dict[int, bytes] = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
        3: (
            b"<< /Type /Font /Subtype " + subtype
            + b" /BaseFont /SynthAccent /FontDescriptor 6 0 R >>"
        ),
        4: (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
            b" /Resources << /Font << /F1 3 0 R >> >>"
            b" /Contents 5 0 R >>"
        ),
        5: (
            f"<< /Length {len(comp)} /Filter /FlateDecode >>\nstream\n".encode()
            + comp
            + b"\nendstream"
        ),
        6: (
            b"<< /Type /FontDescriptor /FontName /SynthAccent /Flags 4 "
            + ff_key
            + b" 7 0 R >>"
        ),
        7: (
            f"<< /Length {len(fcomp)} /Filter /FlateDecode".encode()
            + ff_extra
            + b" >>\nstream\n"
            + fcomp
            + b"\nendstream"
        ),
    }
    return _assemble_pdf(objs)


def render_pdf_accent_cff(doc_id: int) -> bytes:
    return _render_accent_pdf(doc_id, "cff")


def render_pdf_accent_post(doc_id: int) -> bytes:
    return _render_accent_pdf(doc_id, "post")


def expected_pdf_accent_page(doc_id: int, kind: str) -> str:
    n = doc_id % 90 + 10
    if kind == "cff":
        return (
            f"# {_ACCENT_CFF_HEAD.format(d=doc_id)}\n\n"
            + _ACCENT_CFF_BODY.format(n=n)
        )
    return (
        f"# {_ACCENT_POST_HEAD.format(d=doc_id)}\n\n"
        + _ACCENT_POST_BODY.format(n=n)
    )


_XFA_DATASETS = (
    '<xfa:datasets xmlns:xfa="http://www.xfa.org/schema/xfa-data/1.0/">'
    "<xfa:data><form1>"
    "<applicant>Applicant {d}</applicant>"
    "<amount>{a}</amount>"
    "</form1></xfa:data></xfa:datasets>"
)


def render_pdf_xfa(doc_id: int) -> bytes:
    """An XFA-only (LiveCycle-style) form: the catalog /AcroForm carries
    an /XFA packet array and NO widget values — the filled data exists
    only in the ``datasets`` XML packet (VERDICT r5 next #7)."""
    ops = f"BT /F1 20 Tf 72 720 Td (XForm {doc_id}) Tj ET".encode()
    comp = _zlib.compress(ops)
    ds = _XFA_DATASETS.format(d=doc_id, a=(doc_id * 7) % 1000).encode()
    objs: dict[int, bytes] = {
        1: (
            b"<< /Type /Catalog /Pages 2 0 R"
            b" /AcroForm << /Fields [] /XFA"
            b" [(preamble) 7 0 R (datasets) 6 0 R] >> >>"
        ),
        2: b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
        3: (
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
            b" /Encoding /WinAnsiEncoding >>"
        ),
        4: (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
            b" /Resources << /Font << /F1 3 0 R >> >>"
            b" /Contents 5 0 R >>"
        ),
        5: (
            f"<< /Length {len(comp)} /Filter /FlateDecode >>\nstream\n".encode()
            + comp
            + b"\nendstream"
        ),
        6: (
            f"<< /Length {len(ds)} >>\nstream\n".encode() + ds + b"\nendstream"
        ),
        7: (
            b"<< /Length 22 >>\nstream\n<xdp:xdp xmlns:xdp=''>\nendstream"
        ),
    }
    return _assemble_pdf(objs)


def expected_pdf_xfa_page(doc_id: int) -> str:
    return (
        f"# XForm {doc_id}\n\napplicant: Applicant {doc_id}\n\n"
        f"amount: {(doc_id * 7) % 1000}"
    )


def render_pdf_crypt(doc_id: int, text: str) -> bytes:
    v = doc_id % 8
    if v == 0:
        return render_pdf_encrypted(doc_id, text, "rc4")
    if v == 1:
        return render_pdf_encrypted(doc_id, text, "aesv2")
    if v == 2:
        return render_pdf_encrypted(doc_id, text, "aesv3")
    if v == 3:
        return render_pdf_form(doc_id, text)
    if v == 4:
        return render_pdf_cjk(doc_id, text)
    if v == 5:
        return render_pdf_accent_cff(doc_id)
    if v == 6:
        return render_pdf_accent_post(doc_id)
    return render_pdf_xfa(doc_id)


def _row_pdf_crypt(doc_id: int, text: str, lang: str, source: str):
    return render_pdf_crypt(doc_id, text), ""


def _row_taxonomy(doc_id: int, text: str, lang: str, source: str):
    return render_payload(doc_id, text, lang, source), (
        text if is_fast(doc_id) else ""
    )


def _row_ooxml(doc_id: int, text: str, lang: str, source: str):
    return (
        render_xlsx(doc_id) if doc_id % 2 == 0 else render_docx(doc_id, text)
    ), ""


def _row_legacy(doc_id: int, text: str, lang: str, source: str):
    if doc_id % 2 == 0:
        return render_xls(doc_id), ""
    if doc_id % 4 == 1:
        # encrypted .doc (round 6): [MS-DOC] RC4 (doc_id%8==1) or RC4
        # CryptoAPI (%8==5) under the default password — decryption is
        # transparent, so the closed-form oracle is UNCHANGED
        return render_doc_encrypted(doc_id, text, capi=doc_id % 8 == 5), ""
    return render_doc(doc_id, text), ""


def render_office_encrypted(doc_id: int) -> bytes:
    """A REAL encrypted Office container under Excel's default password
    (VelvetSweatshop — the 'protected workbook' crawl shape): agile- or
    standard-encrypted OOXML xlsx (doc_id%8==3), or a FilePass
    RC4/RC4-CryptoAPI .xls (doc_id%8==7). All four shapes carry the
    sheet_cells(doc_id) grids, so one closed-form oracle covers them."""
    from zerox_spark.extract import office_crypto as oc
    from zerox_spark.extract.cfb import CfbReader, write_cfb

    salt = _det_bytes(f"offc:{doc_id}", 16)
    if doc_id % 8 == 3:
        zip_bytes = render_xlsx(doc_id)
        enc = (
            oc.encrypt_ooxml_agile
            if doc_id % 16 == 3
            else oc.encrypt_ooxml_standard
        )
        info, pkg = enc(zip_bytes, salt)
        return write_cfb(
            [("EncryptionInfo", info), ("EncryptedPackage", pkg)]
        )
    wb = CfbReader(render_xls(doc_id)).read_stream("Workbook")
    return write_cfb(
        [("Workbook", oc.encrypt_xls_stream(wb, salt, capi=doc_id % 16 == 7))]
    )


def render_doc_encrypted(doc_id: int, text: str, capi: bool) -> bytes:
    """render_doc's streams encrypted per [MS-DOC] 2.2.6.2/.3 under the
    default password: FibBase stays clear with fEncrypted + lKey set, the
    EncryptionHeader prepends the Table stream (fcClx shifts with it),
    and the XOR-symmetric transform_doc_streams does the encryption —
    the reader must run the exact inverse to extract the same text."""
    from zerox_spark.extract import office_crypto as oc
    from zerox_spark.extract.cfb import CfbReader, write_cfb

    plain = render_doc(doc_id, text)
    cfb = CfbReader(plain)
    word = bytearray(cfb.read_stream("WordDocument"))
    clx = cfb.read_stream("1Table")
    salt = _det_bytes(f"docc:{doc_id}", 16)
    header = oc.build_legacy_encryption_header(salt, capi=capi)
    flags = _struct.unpack_from("<H", word, 0x0A)[0] | 0x0100
    _struct.pack_into("<H", word, 0x0A, flags)
    _struct.pack_into("<I", word, 0x0E, len(header))  # lKey
    (fc_clx,) = _struct.unpack_from("<I", word, 0x01A2)
    _struct.pack_into("<I", word, 0x01A2, fc_clx + len(header))
    w_enc, t_enc = oc.transform_doc_streams(bytes(word), header + clx)
    return write_cfb([("WordDocument", w_enc), ("1Table", t_enc)])


def render_ppt_encrypted(doc_id: int, text: str) -> bytes:
    """render_ppt's DocumentContainer as an RC4-CryptoAPI-encrypted
    persist object ([MS-PPT] 2.3.5): persist 1 = the encrypted document
    record (RC4 block number = persist id), persist 2 = the clear
    CryptSession10Container, located by a PersistDirectoryAtom +
    UserEditAtom chain from the CurrentUserAtom (headerToken =
    PPT_TOKEN_ENCRYPTED)."""
    from zerox_spark.extract import office_crypto as oc
    from zerox_spark.extract.cfb import write_cfb
    from zerox_spark.extract.pdf import _rc4

    first10 = " ".join(text.split(" ")[:SECTION_WORDS])

    def slide(title: str, paras: list[str]) -> bytes:
        recs = _ppt_rec(0, 0, 0x03F3, bytes(20))
        recs += _ppt_rec(0, 0, 0x0F9F, _struct.pack("<I", 0))
        recs += _ppt_rec(0, 0, 0x0FA0, title.encode("utf-16-le"))
        for p in paras:
            recs += _ppt_rec(0, 0, 0x0F9F, _struct.pack("<I", 1))
            recs += _ppt_rec(0, 0, 0x0FA0, p.encode("utf-16-le"))
        return recs

    sltw = _ppt_rec(
        0xF,
        0,
        0x0FF0,
        slide(f"Document {doc_id}", [text])
        + slide(f"Section {doc_id}", [first10]),
    )
    doc_rec = _ppt_rec(0xF, 0, 0x03E8, sltw)
    salt = _det_bytes(f"pptc:{doc_id}", 16)
    cs_rec = _ppt_rec(
        0xF, 0, oc.PPT_CRYPTSESSION,
        oc.build_legacy_encryption_header(salt, capi=True),
    )
    off_doc, off_cs = 0, len(doc_rec)
    off_pd = off_cs + len(cs_rec)
    # one PersistDirectoryEntry: ids 1..2 (persistId=1, cPersist=2)
    pd_rec = _ppt_rec(
        0, 0, oc.PPT_PERSISTDIR,
        _struct.pack("<III", (2 << 20) | 1, off_doc, off_cs),
    )
    off_ue = off_pd + len(pd_rec)
    ue_rec = _ppt_rec(
        0, 0, oc.PPT_USEREDIT,
        _struct.pack(
            "<IHBBIIIIHHI",
            0, 0, 0, 3,  # lastSlideIdRef, version, minor, major
            0,            # offsetLastEdit (no earlier edit)
            off_pd,       # offsetPersistDirectory
            1,            # docPersistIdRef
            3,            # persistIdSeed
            0, 0,         # lastView, unused
            2,            # encryptSessionPersistIdRef → persist 2
        ),
    )
    base = oc._xls_capi_base(salt, oc.DEFAULT_PASSWORD)
    enc_doc = _rc4(oc._xls_block_key(base, 1, True, 16), doc_rec)
    stream = enc_doc + cs_rec + pd_rec + ue_rec
    cu = _ppt_rec(
        0, 0, oc.PPT_CURRENTUSER,
        _struct.pack(
            "<IIIHHBBHI",
            0x14,                    # size
            oc.PPT_TOKEN_ENCRYPTED,  # headerToken
            off_ue,                  # offsetToCurrentEdit
            0, 0x03F4, 3, 0, 0,      # lenUserName, docFileVersion, maj/min, unused
            0,                       # relVersion
        ),
    )
    return write_cfb([("PowerPoint Document", stream), ("Current User", cu)])


def _row_misc(doc_id: int, text: str, lang: str, source: str):
    v = doc_id % 4
    if v == 0:
        return render_odp(doc_id, text), ""
    if v == 1:
        return render_xml(doc_id, text), ""
    if v == 2:
        return render_wpd(doc_id, text), ""
    return render_office_encrypted(doc_id), ""


def _row_rtf(doc_id: int, text: str, lang: str, source: str):
    return render_rtf(doc_id, text), ""


def _row_odf(doc_id: int, text: str, lang: str, source: str):
    return (
        render_ods(doc_id) if doc_id % 2 == 0 else render_odt(doc_id, text)
    ), ""


def _row_delimited(doc_id: int, text: str, lang: str, source: str):
    return (
        render_csv(doc_id) if doc_id % 2 == 0 else render_tsv(doc_id)
    ), ""


def _row_pres(doc_id: int, text: str, lang: str, source: str):
    if doc_id % 2 == 0:
        return render_pptx(doc_id, text), ""
    if doc_id % 4 == 3:
        # encrypted .ppt (round 6): [MS-PPT] RC4-CryptoAPI persist
        # objects under the default password — transparent decryption,
        # closed-form oracle UNCHANGED
        return render_ppt_encrypted(doc_id, text), ""
    return render_ppt(doc_id, text), ""


def _row_pdf_real(doc_id: int, text: str, lang: str, source: str):
    return render_pdf_real(doc_id, text), ""


def _row_poison(doc_id: int, text: str, lang: str, source: str):
    if doc_id % 3 == 0:
        return b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\x00" * 64, ""
    return _row_taxonomy(doc_id, text, lang, source)


def _row_binary(doc_id: int, text: str, lang: str, source: str):
    """Binary/media payloads that must NEVER extract as SUCCESS: image
    magics (png/jpeg/gif), an offset-magic ISO-BMFF heic, and magic-less
    high-entropy bytes (the printable-ratio guard's case)."""
    import hashlib as _hl

    filler = _hl.sha256(f"bin{doc_id}".encode()).digest() * 8  # 256 bytes
    v = doc_id % 5
    if v == 0:
        return b"\x89PNG\r\n\x1a\n" + filler, ""
    if v == 1:
        return b"\xff\xd8\xff\xe0" + filler, ""
    if v == 2:
        return b"GIF89a" + filler, ""
    if v == 3:
        return b"\x00\x00\x00\x18ftypheic" + filler, ""
    # \x01\x02 prefix pins this off every magic in the sniff table
    return b"\x01\x02" + filler, ""


# ---------------------------------------------------------------------------
# Spark-side synthesis (distributed: mapInPandas over the documents scan)

# every synthesized corpus by name → its ``row_fn(doc_id, text, lang,
# source) → (payload, trusted text)``; the keys are the job CLI's
# --synth-family choices
SYNTH_FAMILIES = {
    # the default mixed crawl (html / pseudo-PDF / sheet / fast path)
    "taxonomy": _row_taxonomy,
    # real OOXML containers: xlsx (even doc_ids), docx (odd)
    "ooxml": _row_ooxml,
    # legacy-Office CFB containers: .xls (even), .doc incl. encrypted (odd)
    "legacy": _row_legacy,
    # odp, standalone XML, WordPerfect .wpd, encrypted Office (doc_id % 4)
    "misc": _row_misc,
    # RTF group/control-word documents
    "rtf": _row_rtf,
    # real OpenDocument containers: ods (even), odt (odd)
    "odf": _row_odf,
    # delimited text: csv (even), quoted tsv (odd)
    "delimited": _row_delimited,
    # presentations: pptx (even), legacy .ppt incl. encrypted (odd)
    "pres": _row_pres,
    # genuine born-digital %PDF-1.4 files across doc_id % 6 font variants
    "pdf_real": _row_pdf_real,
    # encrypted/AcroForm/CJK/accented-subset-font/XFA PDFs (doc_id % 8)
    "pdf_crypt": _row_pdf_crypt,
    # png/jpeg/gif/heic magics + magic-less high-entropy bytes (binary guard)
    "binary": _row_binary,
    # taxonomy, but every third payload is a corrupt CFB header (containment)
    "poison": _row_poison,
}


def pages_frames(batches, row_fn):
    """documents frames (doc_id, text, lang, source) → pages frames
    (url, warc_ts, html, text, lang), one page row per document, with
    ``row_fn`` supplying the family-specific payload and trusted text."""
    for pdf in batches:
        cols: dict[str, list] = {c: [] for c in PAGES_SCHEMA.fieldNames()}
        for doc_id, text, lang, source in zip(
            pdf["doc_id"], pdf["text"], pdf["lang"], pdf["source"]
        ):
            doc_id = int(doc_id)
            payload, trusted = row_fn(doc_id, text, lang, source)
            cols["url"].append(doc_url(doc_id, source))
            cols["warc_ts"].append(doc_ts(doc_id).replace(tzinfo=None))
            cols["html"].append(payload)
            cols["text"].append(trusted)
            cols["lang"].append(lang)
        yield pd.DataFrame(cols)


def synth_docs(
    spark: SparkSession, sf_dir: str, num_partitions: int | None = None
) -> DataFrame:
    """The documents scan, repartitioned by doc_id. The sandbox documents
    file is a single small parquet → a single scan split, which would
    serialize the render; the repartition distributes synthesis. At real
    scale this whole stage is replaced by the Iceberg table scan itself
    (many splits for free)."""
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )
    return docs.repartition(num_partitions, "doc_id")


def synth_pages(
    spark: SparkSession,
    sf_dir: str,
    num_partitions: int | None = None,
    family: str = "taxonomy",
) -> DataFrame:
    """documents.parquet → the deterministic pages DataFrame (input_hint
    shape) of one ``SYNTH_FAMILIES`` corpus."""
    row_fn = SYNTH_FAMILIES[family]
    return synth_docs(spark, sf_dir, num_partitions).mapInPandas(
        lambda it: pages_frames(it, row_fn), schema=PAGES_SCHEMA
    )
