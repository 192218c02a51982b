"""OOXML (xlsx/docx) extraction — stdlib only (zipfile + xml.etree).

The reference converts every Office document through a real office runtime:
xlsx sheet-by-sheet via the ``xlsx`` JS lib (convertExcelToHtml,
node-zerox/src/utils/file.ts:210-276; sheet k → page k,
extractPagesFromStructuredDataFile, file.ts:311-329) and docx via libreoffice
→ PDF → OCR (convertFileToPdf, file.ts:129-150). This container ships no
office binaries, but OOXML is just zip+XML — fully parseable with the
stdlib, so these payloads extract for real instead of becoming contained
ERROR rows.

Semantics mirrored from the reference:

- xlsx: one page per sheet, in workbook order; page content is a
  ``## Sheet: <name>`` heading (the reference emits ``<h2>Sheet: name</h2>``,
  file.ts:239-241; our dialect renders h2 as ``##``) plus one HTML
  ``<table>`` whose FIRST row is ``<th>`` cells (file.ts:246-249). Cells
  appear in column order; gaps are skipped, matching the reference's sparse
  ``row.forEach`` serialization (file.ts:250-257). Fully-empty rows are
  dropped.
- docx: the reference rasterizes, so pagination is renderer-defined; the
  deterministic analog honors EXPLICIT page breaks (``w:br w:type="page"``
  and ``w:pageBreakBefore``) and otherwise emits one page. Paragraph styles
  Heading1-6/Title map to markdown headings, ``numPr`` paragraphs to list
  items, ``w:tbl`` to the same first-row-``<th>`` HTML table form.

Error tolerance: any structural problem (bad zip, missing parts, mangled
XML) raises ValueError — extract/core.py contains it as an ERROR page in
IGNORE mode, never a task failure.
"""

from __future__ import annotations

import io
import re
import zipfile
import xml.etree.ElementTree as ET

from zerox_spark.extract.markdown import Block, grid_table, join_blocks

_S = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_R = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
_PR = "{http://schemas.openxmlformats.org/package/2006/relationships}"
_W = "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"

_CELL_REF = re.compile(r"([A-Z]+)[0-9]*$")


def _zip(payload: bytes) -> zipfile.ZipFile:
    try:
        return zipfile.ZipFile(io.BytesIO(payload))
    except Exception as exc:  # noqa: BLE001 — normalized for containment
        raise ValueError(f"unreadable zip container: {exc}") from exc


# decompressed-size bounds: blocks decompression bombs (a tiny deflate
# stream expanding to GBs would otherwise pin executor memory; containers
# bypass the byte-truncation cap, so these are THE per-row work bound).
# Both a per-member AND a per-container AGGREGATE budget — member count is
# attacker-controlled, so a per-member bound alone still allows unbounded
# total work via hundreds of just-under-the-limit members.
MAX_MEMBER_BYTES = 32 * 1024 * 1024
MAX_CONTAINER_BYTES = 64 * 1024 * 1024

# emitted-OUTPUT bound: the input budgets above cap decompressed bytes, but
# reference fan-out amplifies OUTPUT past any input bound — a within-budget
# xlsx can hold one ~30 MB shared string referenced by ~1M cells (t="s";
# same for .xls LABELSST), and the page builders materialize a full copy per
# cell. Total characters any one container may emit is therefore capped
# independently; exceeding it raises ValueError into the contained-ERROR
# path. Applied in grids_to_pages (xlsx + .xls + ods share it), the docx/odt
# block builders, and doc_to_text (legacy_office.py).
MAX_OUTPUT_CHARS = 32 * 1024 * 1024


class OutputBudget:
    """Running per-container emitted-character budget."""

    __slots__ = ("remaining",)

    def __init__(self, limit: int = MAX_OUTPUT_CHARS) -> None:
        self.remaining = limit

    def charge(self, n_chars: int) -> None:
        self.remaining -= n_chars
        if self.remaining < 0:
            raise ValueError(
                "container emitted-output budget exceeded "
                f"(> {MAX_OUTPUT_CHARS} chars)"
            )


def _read_member(
    zf: zipfile.ZipFile, name: str, budget: list[int] | None = None
) -> bytes:
    try:
        info = zf.getinfo(name)
    except KeyError as exc:
        raise ValueError(f"OOXML part missing: {name}") from exc
    if info.file_size > MAX_MEMBER_BYTES:
        raise ValueError(
            f"OOXML part too large: {name} ({info.file_size} bytes)"
        )
    if budget is not None:
        budget[0] -= info.file_size
        if budget[0] < 0:
            raise ValueError(
                f"OOXML container decompressed-size budget exceeded at {name}"
            )
    return zf.read(name)


def _read_xml(
    zf: zipfile.ZipFile, name: str, budget: list[int] | None = None
) -> ET.Element:
    raw = _read_member(zf, name, budget)
    # OOXML/ODF parts never legitimately carry a DTD; an inline one enables
    # entity-expansion bombs on expat builds without amplification limits,
    # and the size budgets above check pre-expansion bytes only.
    if b"<!DOCTYPE" in raw or b"<!ENTITY" in raw:
        raise ValueError(f"OOXML part carries a DTD (rejected): {name}")
    try:
        return ET.fromstring(raw)
    except ET.ParseError as exc:
        raise ValueError(f"OOXML part unparseable: {name}: {exc}") from exc


# ---------------------------------------------------------------------------
# xlsx


def _col_index(ref: str | None) -> int | None:
    """'B7' → 1; None/invalid → None (caller appends sequentially)."""
    if not ref:
        return None
    m = _CELL_REF.match(ref)
    if not m:
        return None
    n = 0
    for ch in m.group(1):
        n = n * 26 + (ord(ch) - 64)
    return n - 1


def _shared_strings(
    zf: zipfile.ZipFile, budget: list[int] | None = None
) -> list[str]:
    if "xl/sharedStrings.xml" not in zf.namelist():
        return []
    root = _read_xml(zf, "xl/sharedStrings.xml", budget)
    # plain <t> or rich-text runs <r><t>; phonetic hints excluded
    return ["".join(_si_text(si)) for si in root.findall(f"{_S}si")]


def _si_text(si: ET.Element):
    for child in si:
        tag = child.tag
        if tag == f"{_S}t":
            yield child.text or ""
        elif tag == f"{_S}r":
            t = child.find(f"{_S}t")
            if t is not None:
                yield t.text or ""
        # rPh/phoneticPr skipped


def _cell_value(c: ET.Element, shared: list[str]) -> str:
    ctype = c.get("t", "n")
    if ctype == "inlineStr":
        is_el = c.find(f"{_S}is")
        return "".join(_si_text(is_el)) if is_el is not None else ""
    v = c.find(f"{_S}v")
    raw = v.text or "" if v is not None else ""
    if ctype == "s":
        try:
            return shared[int(raw)]
        except (ValueError, IndexError):
            return ""
    if ctype == "b":
        # the reference's sheet_to_json yields JS booleans → toString()
        # (file.ts:251-253): 'true'/'false'
        return "true" if raw.strip() == "1" else "false"
    return raw


def _sheet_targets(zf: zipfile.ZipFile) -> list[tuple[str, str]]:
    """[(sheet_name, zip_member)] in workbook order via the rels part."""
    wb = _read_xml(zf, "xl/workbook.xml")
    rels = _read_xml(zf, "xl/_rels/workbook.xml.rels")
    target_by_id = {
        rel.get("Id"): rel.get("Target", "")
        for rel in rels.findall(f"{_PR}Relationship")
    }
    out = []
    sheets = wb.find(f"{_S}sheets")
    if sheets is None:
        raise ValueError("workbook has no <sheets>")
    for sh in sheets.findall(f"{_S}sheet"):
        rid = sh.get(f"{_R}id")
        target = target_by_id.get(rid, "")
        if not target:
            continue
        member = (
            target.lstrip("/")
            if target.startswith("/")
            else "xl/" + target
        )
        out.append((sh.get("name", ""), member))
    if not out:
        raise ValueError("workbook resolves no worksheets")
    return out


def xlsx_to_grids(payload: bytes) -> list[tuple[str, list[list[str]]]]:
    """xlsx bytes → [(sheet_name, rows)] in workbook order. Row cells are in
    column order with gaps skipped (reference's sparse forEach); fully-empty
    rows dropped."""
    with _zip(payload) as zf:
        return _xlsx_grids(zf)


def _xlsx_grids(zf: zipfile.ZipFile) -> list[tuple[str, list[list[str]]]]:
    budget = [MAX_CONTAINER_BYTES]
    shared = _shared_strings(zf, budget)
    grids = []
    for name, member in _sheet_targets(zf):
        root = _read_xml(zf, member, budget)
        rows: list[list[str]] = []
        for row in root.iter(f"{_S}row"):
            cells: list[tuple[int, str]] = []
            next_col = 0
            for c in row.findall(f"{_S}c"):
                col = _col_index(c.get("r"))
                if col is None:
                    col = next_col
                next_col = col + 1
                cells.append((col, _cell_value(c, shared)))
            vals = [v for _, v in sorted(cells, key=lambda cv: cv[0])]
            if any(v != "" for v in vals):
                rows.append(vals)
        grids.append((name, rows))
    return grids


def grids_to_pages(
    grids: list[tuple[str, list[list[str]]]],
) -> list[tuple[int, str, list[tuple[str, int, int, float]]]]:
    """Sheet k → page k with the canonical '## Sheet: name' + first-row-th
    table form — THE cross-format page contract shared by xlsx (here) and
    legacy .xls (legacy_office.py), so both containers of one workbook
    extract byte-identically (tested).

    Charges the per-container OUTPUT budget BEFORE materializing the table
    f-strings — the cell lists hold shared references (cheap), the copies
    happen here, so this is where shared-string fan-out would OOM."""
    out = []
    budget = OutputBudget()
    for i, (name, rows) in enumerate(grids, start=1):
        budget.charge(
            len(name) + sum(len(c) + 9 for row in rows for c in row)
        )
        blocks = [Block("heading", f"## Sheet: {name}")]
        blocks.append(Block("table", grid_table(rows)))
        markdown, spans = join_blocks(blocks)
        out.append((i, markdown, spans))
    return out


def _xlsx_pages(
    zf: zipfile.ZipFile,
) -> list[tuple[int, str, list[tuple[str, int, int, float]]]]:
    """Sheet k → page k (extractPagesFromStructuredDataFile,
    file.ts:311-329)."""
    return grids_to_pages(_xlsx_grids(zf))


# ---------------------------------------------------------------------------
# docx

_HEADING_STYLE = re.compile(r"^(?:Heading|heading)([1-6])$")


def _para_text(p: ET.Element) -> str:
    parts: list[str] = []
    for node in p.iter():
        tag = node.tag
        if tag == f"{_W}t":
            parts.append(node.text or "")
        elif tag == f"{_W}tab":
            parts.append(" ")
    return "".join(parts)


def _para_style(p: ET.Element) -> str | None:
    ppr = p.find(f"{_W}pPr")
    if ppr is None:
        return None
    st = ppr.find(f"{_W}pStyle")
    return st.get(f"{_W}val") if st is not None else None


def _para_breaks_page(p: ET.Element) -> tuple[bool, bool]:
    """(break_before, break_after_content): pageBreakBefore property, and
    an explicit <w:br w:type="page"/> run break."""
    before = False
    ppr = p.find(f"{_W}pPr")
    if ppr is not None and ppr.find(f"{_W}pageBreakBefore") is not None:
        before = True
    explicit = any(
        br.get(f"{_W}type") == "page" for br in p.iter(f"{_W}br")
    )
    return before, explicit


def _docx_para_block(p: ET.Element) -> Block | None:
    text = _para_text(p).strip()
    if not text:
        return None
    style = _para_style(p)
    if style:
        if style == "Title":
            return Block("heading", f"# {text}")
        m = _HEADING_STYLE.match(style)
        if m:
            return Block("heading", f"{'#' * int(m.group(1))} {text}")
    ppr = p.find(f"{_W}pPr")
    if ppr is not None and ppr.find(f"{_W}numPr") is not None:
        return Block("list", f"- {text}")
    return Block("para", text)


def _docx_table_block(tbl: ET.Element) -> Block | None:
    rows = []
    for tr in tbl.findall(f"{_W}tr"):
        cells = []
        for tc in tr.findall(f"{_W}tc"):
            paras = [
                _para_text(p).strip() for p in tc.findall(f"{_W}p")
            ]
            cells.append(" ".join(x for x in paras if x))
        rows.append(cells)
    if not rows:
        return None
    return Block("table", grid_table(rows))


def _docx_pages(
    zf: zipfile.ZipFile,
) -> list[tuple[int, str, list[tuple[str, int, int, float]]]]:
    """word/document.xml body → pages split on explicit page breaks."""
    root = _read_xml(zf, "word/document.xml")
    body = root.find(f"{_W}body")
    if body is None:
        raise ValueError("docx has no <w:body>")
    budget = OutputBudget()
    pages: list[list[Block]] = [[]]
    for el in body:
        if el.tag == f"{_W}p":
            before, after = _para_breaks_page(el)
            if before and pages[-1]:
                pages.append([])
            blk = _docx_para_block(el)
            if blk is not None:
                budget.charge(len(blk.text))
                pages[-1].append(blk)
            if after and pages[-1]:
                pages.append([])
        elif el.tag == f"{_W}tbl":
            blk = _docx_table_block(el)
            if blk is not None:
                budget.charge(len(blk.text))
                pages[-1].append(blk)
    out = []
    for blocks in pages:
        if not blocks:
            continue
        markdown, spans = join_blocks(_merge_list_runs(blocks))
        out.append((len(out) + 1, markdown, spans))
    if not out:
        raise ValueError("docx body produced no content")
    return out


def _merge_list_runs(blocks: list[Block]) -> list[Block]:
    """Adjacent list paragraphs form ONE list block (items joined with a
    single newline) — the same block shape the DOM emitter produces for
    <ul>, so list markdown is consistent across source formats."""
    merged: list[Block] = []
    for blk in blocks:
        if blk.kind == "list" and merged and merged[-1].kind == "list":
            merged[-1] = Block("list", merged[-1].text + "\n" + blk.text)
        else:
            merged.append(blk)
    return merged


# ---------------------------------------------------------------------------
# router


def ooxml_to_pages(
    payload: bytes,
) -> list[tuple[int, str, list[tuple[str, int, int, float]]]]:
    """Dispatch a PK payload by its content parts — xlsx, docx, or ODF odt
    (the magic-byte routing
    analog of isExcelFile, file.ts:363-371, which the reference does by
    file extension). The container is opened ONCE and the open handle is
    passed down — no double parse on the hot extract path."""
    with _zip(payload) as zf:
        names = set(zf.namelist())
        if "xl/workbook.xml" in names:
            return _xlsx_pages(zf)
        if "word/document.xml" in names:
            return _docx_pages(zf)
        if "ppt/presentation.xml" in names:
            return _pptx_pages(zf)
        if "content.xml" in names:
            return _odt_pages(zf)
    raise ValueError("zip container is not OOXML/ODF (xlsx/docx/pptx/odt)")


# ---------------------------------------------------------------------------
# pptx (PresentationML — the reference's highest-frequency office input
# after xlsx/docx, README.md:508-509, routed via convertFileToPdf,
# node-zerox/src/utils/file.ts:129-150; libreoffice rasterizes slide k to
# page k, so slide = page is the deterministic analog, exactly the
# sheet-per-page shape of xlsx)

_P = "{http://schemas.openxmlformats.org/presentationml/2006/main}"
_A = "{http://schemas.openxmlformats.org/drawingml/2006/main}"


def _slide_members(zf: zipfile.ZipFile) -> list[str]:
    """Slide zip members in presentation order (p:sldIdLst → rels target),
    the same rels indirection as _sheet_targets."""
    pres = _read_xml(zf, "ppt/presentation.xml")
    rels = _read_xml(zf, "ppt/_rels/presentation.xml.rels")
    target_by_id = {
        rel.get("Id"): rel.get("Target", "")
        for rel in rels.findall(f"{_PR}Relationship")
    }
    sld_lst = pres.find(f"{_P}sldIdLst")
    if sld_lst is None:
        raise ValueError("pptx has no <p:sldIdLst>")
    out = []
    for sld in sld_lst.findall(f"{_P}sldId"):
        target = target_by_id.get(sld.get(f"{_R}id"), "")
        if not target:
            continue
        out.append(
            target.lstrip("/") if target.startswith("/") else "ppt/" + target
        )
    if not out:
        raise ValueError("pptx resolves no slides")
    return out


def _a_para_text(p: ET.Element) -> str:
    """Flatten one a:p paragraph: a:t runs concatenated, a:br as space."""
    parts: list[str] = []
    for node in p.iter():
        tag = node.tag
        if tag == f"{_A}t":
            parts.append(node.text or "")
        elif tag == f"{_A}br":
            parts.append(" ")
    return "".join(parts)


def _sp_is_title(sp: ET.Element) -> bool:
    ph = sp.find(f"{_P}nvSpPr/{_P}nvPr/{_P}ph")
    return ph is not None and ph.get("type") in ("title", "ctrTitle")


def _pptx_tbl_block(tbl: ET.Element) -> Block | None:
    rows = []
    for tr in tbl.findall(f"{_A}tr"):
        cells = []
        for tc in tr.findall(f"{_A}tc"):
            paras = [
                _a_para_text(p).strip() for p in tc.iter(f"{_A}p")
            ]
            cells.append(" ".join(x for x in paras if x))
        rows.append(cells)
    if not rows:
        return None
    return Block("table", grid_table(rows))


def _pptx_slide_blocks(
    root: ET.Element, budget: OutputBudget
) -> list[Block]:
    sp_tree = root.find(f"{_P}cSld/{_P}spTree")
    if sp_tree is None:
        raise ValueError("slide has no <p:spTree>")
    blocks: list[Block] = []

    def add(blk: Block | None) -> None:
        if blk is not None:
            budget.charge(len(blk.text))
            blocks.append(blk)

    def walk(parent: ET.Element) -> None:
        for el in parent:
            tag = el.tag
            if tag == f"{_P}sp":
                tx = el.find(f"{_P}txBody")
                if tx is None:
                    continue
                paras = [
                    _a_para_text(p).strip() for p in tx.findall(f"{_A}p")
                ]
                if _sp_is_title(el):
                    title = " ".join(x for x in paras if x)
                    if title:
                        add(Block("heading", f"# {title}"))
                else:
                    for text in paras:
                        if text:
                            add(Block("para", text))
            elif tag == f"{_P}graphicFrame":
                for tbl in el.iter(f"{_A}tbl"):
                    add(_pptx_tbl_block(tbl))
            elif tag == f"{_P}grpSp":
                walk(el)  # grouped shapes recurse in document order

    walk(sp_tree)
    return blocks


def _pptx_pages(
    zf: zipfile.ZipFile,
) -> list[tuple[int, str, list[tuple[str, int, int, float]]]]:
    """Slide k → page k; title placeholder → '# ' heading, body paragraphs
    → para blocks, a:tbl → the canonical first-row-<th> table."""
    budget = OutputBudget()
    zip_budget = [MAX_CONTAINER_BYTES]
    out = []
    for member in _slide_members(zf):
        root = _read_xml(zf, member, zip_budget)
        blocks = _pptx_slide_blocks(root, budget)
        if not blocks:
            continue
        markdown, spans = join_blocks(blocks)
        out.append((len(out) + 1, markdown, spans))
    if not out:
        raise ValueError("pptx slides produced no content")
    return out


# ---------------------------------------------------------------------------
# ODT (OpenDocument text — the other zip+XML office family libreoffice
# feeds the reference's convertFileToPdf with)

_T = "{urn:oasis:names:tc:opendocument:xmlns:text:1.0}"
_TBL = "{urn:oasis:names:tc:opendocument:xmlns:table:1.0}"


def _odt_text(el: ET.Element) -> str:
    """Flatten an ODT paragraph: <text:s> is a run of spaces, <text:tab>
    a tab-as-space, <text:line-break> a space; nested spans recurse."""
    parts: list[str] = []

    def walk(node: ET.Element) -> None:
        if node.text:
            parts.append(node.text)
        for child in node:
            tag = child.tag
            if tag == f"{_T}s":
                parts.append(" " * int(child.get(f"{_T}c", "1") or "1"))
            elif tag in (f"{_T}tab", f"{_T}line-break"):
                parts.append(" ")
            else:
                walk(child)
            if child.tail:
                parts.append(child.tail)

    walk(el)
    return "".join(parts)


def _odt_block(el: ET.Element) -> Block | None:
    tag = el.tag
    if tag == f"{_T}h":
        text = _odt_text(el).strip()
        if not text:
            return None
        level = min(6, max(1, int(el.get(f"{_T}outline-level", "1") or "1")))
        return Block("heading", f"{'#' * level} {text}")
    if tag == f"{_T}p":
        text = _odt_text(el).strip()
        return Block("para", text) if text else None
    if tag == f"{_T}list":
        items = [
            _odt_text(p).strip()
            for li in el.findall(f"{_T}list-item")
            for p in li.findall(f"{_T}p")
        ]
        items = [i for i in items if i]
        if not items:
            return None
        return Block("list", "\n".join(f"- {i}" for i in items))
    if tag == f"{_TBL}table":
        rows = []
        for tr in el.findall(f"{_TBL}table-row"):
            cells = [
                " ".join(
                    x
                    for x in (
                        _odt_text(p).strip() for p in tc.findall(f"{_T}p")
                    )
                    if x
                )
                for tc in tr.findall(f"{_TBL}table-cell")
            ]
            rows.append(cells)
        return Block("table", grid_table(rows)) if rows else None
    return None


_O = "{urn:oasis:names:tc:opendocument:xmlns:office:1.0}"

# ODS repeat attributes are attacker-controlled (the classic LibreOffice
# trailing-filler cell claims 16383 columns); ALL repeats — empty included —
# are clamped and budget-charged (an empty cell still costs a list ref and
# an emitted <th></th>); interior empties keep their column position, runs
# of trailing empties are stripped after the row closes
_ODS_MAX_REPEAT = 1024


def _ods_grids(
    spreadsheet: ET.Element,
) -> list[tuple[str, list[list[str]]]]:
    """office:spreadsheet → [(sheet_name, rows)] — the same grid contract
    as xlsx_to_grids/xls_to_grids, so ods joins the shared
    grids_to_pages page form (one workbook, three containers,
    byte-identical pages — tested).

    The OUTPUT budget is charged HERE, incrementally, before each repeat
    materializes — grids_to_pages charges again before building tables,
    but by then the repeated cell lists would already exist; repeats ×
    cells can pointer-OOM an executor before any downstream cap fires."""
    budget = OutputBudget()
    grids = []
    for tbl in spreadsheet.findall(f"{_TBL}table"):
        rows: list[list[str]] = []
        for tr in tbl.findall(f"{_TBL}table-row"):
            row_rep = min(
                int(tr.get(f"{_TBL}number-rows-repeated", "1") or "1"),
                _ODS_MAX_REPEAT,
            )
            # two passes: collect (val, repeat) pairs WITHOUT materializing,
            # strip the trailing empty run (LibreOffice's standard 16k
            # filler cell — charging it would spuriously budget-fail large
            # legitimate sheets), then charge + materialize what remains.
            # Interior empty cells stay as "" so later columns keep their
            # position (parity with the xlsx explicit-empty <c>); every
            # materialized repeat — empty included — is budget-charged
            # (a list ref + a downstream <th></th> each).
            cells: list[tuple[str, int]] = []
            for tc in tr.findall(f"{_TBL}table-cell"):
                texts = [
                    _odt_text(p).strip() for p in tc.findall(f"{_T}p")
                ]
                val = " ".join(x for x in texts if x)
                if not val:
                    val = tc.get(f"{_O}value", "")
                col_rep = min(
                    int(tc.get(f"{_TBL}number-columns-repeated", "1") or "1"),
                    _ODS_MAX_REPEAT,
                )
                cells.append((val, col_rep))
            while cells and cells[-1][0] == "":
                cells.pop()
            vals: list[str] = []
            row_chars = 0
            for val, col_rep in cells:
                budget.charge(max(len(val), 1) * col_rep)
                row_chars += max(len(val), 1) * col_rep
                vals.extend([val] * col_rep)
            if vals:
                budget.charge(row_chars * (row_rep - 1))
                rows.extend([vals] * row_rep)
        grids.append((tbl.get(f"{_TBL}name", ""), rows))
    if not grids:
        raise ValueError("ods has no table:table sheets")
    return grids


_DR = "{urn:oasis:names:tc:opendocument:xmlns:drawing:1.0}"
_PRES = "{urn:oasis:names:tc:opendocument:xmlns:presentation:1.0}"


def _odp_pages(
    presentation: ET.Element,
) -> list[tuple[int, str, list[tuple[str, int, int, float]]]]:
    """office:presentation → draw:page k = page k; a frame whose
    presentation:class is title renders its paragraphs as '# ' headings,
    every other text-box content reuses the odt block mapping — the same
    slide shape as the pptx/ppt paths."""
    budget = OutputBudget()
    out = []
    for page in presentation.findall(f"{_DR}page"):
        blocks: list[Block] = []
        for frame in page.iter(f"{_DR}frame"):
            is_title = frame.get(f"{_PRES}class") == "title"
            for tb in frame.findall(f"{_DR}text-box"):
                for el in tb:
                    if is_title and el.tag == f"{_T}p":
                        text = _odt_text(el).strip()
                        if text:
                            blk = Block("heading", f"# {text}")
                        else:
                            continue
                    else:
                        blk = _odt_block(el)
                        if blk is None:
                            continue
                    budget.charge(len(blk.text))
                    blocks.append(blk)
        if not blocks:
            continue
        markdown, spans = join_blocks(_merge_list_runs(blocks))
        out.append((len(out) + 1, markdown, spans))
    if not out:
        raise ValueError("odp slides produced no content")
    return out


def _odt_pages(
    zf: zipfile.ZipFile,
) -> list[tuple[int, str, list[tuple[str, int, int, float]]]]:
    """content.xml office:body/office:text children → one page of blocks
    (ODT pagination is renderer-defined, like docx without explicit
    breaks)."""
    root = _read_xml(zf, "content.xml")
    body = root.find(f"{_O}body")
    if body is not None:
        sheet_el = body.find(f"{_O}spreadsheet")
        if sheet_el is not None:
            # ods/ots: sheet k → page k through the shared grid contract
            return grids_to_pages(_ods_grids(sheet_el))
        pres_el = body.find(f"{_O}presentation")
        if pres_el is not None:
            return _odp_pages(pres_el)  # odp/otp: slide k → page k
    text_el = body.find(f"{_O}text") if body is not None else None
    if text_el is None:
        raise ValueError(
            "odf has no office:text/office:spreadsheet/office:presentation body"
        )
    budget = OutputBudget()
    blocks = []
    for el in text_el:
        b = _odt_block(el)
        if b is not None:
            budget.charge(len(b.text))
            blocks.append(b)
    if not blocks:
        raise ValueError("odt body produced no content")
    markdown, spans = join_blocks(_merge_list_runs(blocks))
    return [(1, markdown, spans)]
