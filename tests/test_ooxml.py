"""Unit tests: stdlib OOXML (xlsx/docx) extraction — edge cases the
synthesized driver corpus doesn't exercise (gaps, rich text, booleans,
inline strings, heading styles, page breaks, containment)."""

from __future__ import annotations

import io
import zipfile

import pytest

from zerox_spark.extract.core import ExtractConfig, extract_document
from zerox_spark.extract.ooxml import ooxml_to_pages, xlsx_to_grids
from zerox_spark.synth import (
    _PKG_RELS,
    _XLSX_CT,
    _DOCX_CT,
    _W_XMLNS,
    _odf_doc,
    _zip_bytes,
    render_docx,
    render_odp,
    render_ods,
    render_odt,
    render_xlsx,
    sheet_cells,
)

_S_XMLNS = (
    'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
)


def _xlsx(sheet_xml: str, sst: str | None = None, name: str = "data") -> bytes:
    workbook = (
        f'<workbook {_S_XMLNS} '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        f'<sheets><sheet name="{name}" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    rels = (
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="w" Target="worksheets/sheet1.xml"/>'
        + (
            '<Relationship Id="rId2" Type="s" Target="sharedStrings.xml"/>'
            if sst
            else ""
        )
        + "</Relationships>"
    )
    members = [
        ("[Content_Types].xml", _XLSX_CT),
        ("_rels/.rels", _PKG_RELS.format(target="xl/workbook.xml")),
        ("xl/workbook.xml", workbook),
        ("xl/_rels/workbook.xml.rels", rels),
        ("xl/worksheets/sheet1.xml", sheet_xml),
    ]
    if sst:
        members.append(("xl/sharedStrings.xml", sst))
    return _zip_bytes(members)


def test_xlsx_renderer_grids_roundtrip():
    """render_xlsx carries exactly the sheet_cells grids (the %SHEET
    container's values) through the real zip+XML container."""
    grids = xlsx_to_grids(render_xlsx(6))
    data, summary = sheet_cells(6)
    assert grids == [("data", data), ("summary", summary)]


def test_xlsx_column_gap_skipped_like_sparse_foreach():
    """A skipped column (A1 then C1) emits only the present cells in order
    — the reference's sparse row.forEach drops holes (file.ts:250-257)."""
    sheet = (
        f'<worksheet {_S_XMLNS}><sheetData>'
        '<row r="1"><c r="A1" t="str"><v>a</v></c>'
        '<c r="C1" t="str"><v>c</v></c></row>'
        "</sheetData></worksheet>"
    )
    assert xlsx_to_grids(_xlsx(sheet)) == [("data", [["a", "c"]])]


def test_xlsx_shared_rich_text_and_inline_and_bool():
    sst = (
        f'<sst {_S_XMLNS}><si><t>plain</t></si>'
        "<si><r><t>ri</t></r><r><t>ch</t></r></si></sst>"
    )
    sheet = (
        f'<worksheet {_S_XMLNS}><sheetData>'
        '<row r="1">'
        '<c r="A1" t="s"><v>0</v></c>'
        '<c r="B1" t="s"><v>1</v></c>'
        '<c r="C1" t="inlineStr"><is><t>inl</t></is></c>'
        '<c r="D1" t="b"><v>1</v></c>'
        '<c r="E1" t="b"><v>0</v></c>'
        '<c r="F1"><v>3.5</v></c>'
        "</row></sheetData></worksheet>"
    )
    assert xlsx_to_grids(_xlsx(sheet, sst)) == [
        ("data", [["plain", "rich", "inl", "true", "false", "3.5"]])
    ]


def test_xlsx_empty_rows_dropped_and_cells_without_ref():
    sheet = (
        f'<worksheet {_S_XMLNS}><sheetData>'
        '<row r="1"><c t="str"><v>x</v></c><c t="str"><v>y</v></c></row>'
        '<row r="2"><c r="A2" t="str"><v></v></c></row>'
        '<row r="3"><c r="A3" t="str"><v>z</v></c></row>'
        "</sheetData></worksheet>"
    )
    assert xlsx_to_grids(_xlsx(sheet)) == [("data", [["x", "y"], ["z"]])]


def test_xlsx_first_row_is_th():
    md = ooxml_to_pages(render_xlsx(4))[0][1]
    assert "<th>name</th><th>q1</th><th>q2</th>" in md
    assert md.startswith("## Sheet: data")


def test_docx_renderer_pages_and_styles():
    pages = ooxml_to_pages(render_docx(7, "a b c d e f g h i j k l"))
    assert len(pages) == 2
    p1, p2 = pages[0][1], pages[1][1]
    assert p1.startswith("# Document 7")  # Title style
    assert "- item 49\n- item 77" in p1  # merged list run
    assert "<table><tr><th>metric</th><th>value</th></tr>" in p1
    assert p2.startswith("## Section 7")  # Heading2 style
    assert p2.endswith("a b c d e f g h i j")


def test_docx_page_break_before_property():
    doc = (
        f"<w:document {_W_XMLNS}><w:body>"
        "<w:p><w:r><w:t>one</w:t></w:r></w:p>"
        "<w:p><w:pPr><w:pageBreakBefore/></w:pPr>"
        "<w:r><w:t>two</w:t></w:r></w:p>"
        "</w:body></w:document>"
    )
    payload = _zip_bytes(
        [
            ("[Content_Types].xml", _DOCX_CT),
            ("_rels/.rels", _PKG_RELS.format(target="word/document.xml")),
            ("word/document.xml", doc),
        ]
    )
    pages = ooxml_to_pages(payload)
    assert [(n, md) for n, md, _ in pages] == [(1, "one"), (2, "two")]


def test_docx_xml_entities_unescaped():
    pages = ooxml_to_pages(render_docx(1, "a < b & c"))
    assert "a < b & c" in pages[0][1]


def test_non_ooxml_zip_contained_as_error():
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("foo.txt", "hi")
    pages = extract_document(buf.getvalue(), None, ExtractConfig(trust_text=False))
    assert pages[0].status == "ERROR"
    assert "not OOXML" in (pages[0].error or "")


def test_corrupt_pk_payload_contained():
    pages = extract_document(
        b"PK\x03\x04garbage", None, ExtractConfig(trust_text=False)
    )
    assert pages[0].status == "ERROR"


def test_ooxml_router_dispatches_by_parts():
    assert ooxml_to_pages(render_xlsx(2))[0][1].startswith("## Sheet:")
    assert ooxml_to_pages(render_docx(3, "w1 w2"))[0][1].startswith(
        "# Document 3"
    )


def test_throw_mode_propagates_ooxml_errors():
    with pytest.raises(Exception):
        extract_document(
            b"PK\x03\x04garbage",
            None,
            ExtractConfig(trust_text=False, error_mode="THROW"),
        )


# ---------------------------------------------------------------------------
# pptx (PresentationML)


def test_pptx_renderer_slides_title_body_table():
    from zerox_spark.synth import render_pptx

    pages = ooxml_to_pages(render_pptx(7, "a b c d e f g h i j k l"))
    assert len(pages) == 2
    p1, p2 = pages[0][1], pages[1][1]
    assert p1.startswith("# Document 7")
    assert "a b c d e f g h i j k l" in p1
    assert (
        "<table><tr><th>metric</th><th>value</th></tr>"
        "<tr><td>views</td><td>259</td></tr></table>" in p1
    )
    assert p2 == "# Section 7\n\na b c d e f g h i j"


def test_pptx_routes_through_extract_document():
    from zerox_spark.synth import render_pptx

    out = extract_document(
        render_pptx(4, "w1 w2"), None, ExtractConfig(trust_text=False)
    )
    assert [p.status for p in out] == ["SUCCESS", "SUCCESS"]
    assert out[0].markdown.startswith("# Document 4")


def test_pptx_empty_slide_skipped_and_renumbered():
    """A slide whose shapes carry no text yields no page; later slides
    renumber sequentially (the docx empty-page contract)."""
    from zerox_spark.synth import (
        _PKG_RELS,
        _PPTX_CT,
        _pptx_slide,
        _pptx_sp,
        _zip_bytes,
    )

    presentation = (
        '<p:presentation xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<p:sldIdLst><p:sldId id="256" r:id="rId1"/>'
        '<p:sldId id="257" r:id="rId2"/></p:sldIdLst></p:presentation>'
    )
    rels = (
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="s" Target="slides/slide1.xml"/>'
        '<Relationship Id="rId2" Type="s" Target="slides/slide2.xml"/>'
        "</Relationships>"
    )
    payload = _zip_bytes(
        [
            ("[Content_Types].xml", _PPTX_CT),
            ("_rels/.rels", _PKG_RELS.format(target="ppt/presentation.xml")),
            ("ppt/presentation.xml", presentation),
            ("ppt/_rels/presentation.xml.rels", rels),
            ("ppt/slides/slide1.xml", _pptx_slide(_pptx_sp("", "title"))),
            ("ppt/slides/slide2.xml", _pptx_slide(_pptx_sp("only text"))),
        ]
    )
    pages = ooxml_to_pages(payload)
    assert [(n, md) for n, md, _ in pages] == [(1, "only text")]


def test_pptx_grouped_shapes_recurse_in_order():
    from zerox_spark.synth import (
        _PKG_RELS,
        _PPTX_CT,
        _pptx_slide,
        _pptx_sp,
        _zip_bytes,
    )

    grp = f"<p:grpSp>{_pptx_sp('inner one')}{_pptx_sp('inner two')}</p:grpSp>"
    presentation = (
        '<p:presentation xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<p:sldIdLst><p:sldId id="256" r:id="rId1"/></p:sldIdLst></p:presentation>'
    )
    rels = (
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="s" Target="slides/slide1.xml"/>'
        "</Relationships>"
    )
    payload = _zip_bytes(
        [
            ("[Content_Types].xml", _PPTX_CT),
            ("_rels/.rels", _PKG_RELS.format(target="ppt/presentation.xml")),
            ("ppt/presentation.xml", presentation),
            ("ppt/_rels/presentation.xml.rels", rels),
            (
                "ppt/slides/slide1.xml",
                _pptx_slide(_pptx_sp("before") + grp + _pptx_sp("after")),
            ),
        ]
    )
    assert ooxml_to_pages(payload)[0][1] == (
        "before\n\ninner one\n\ninner two\n\nafter"
    )


# ---------------------------------------------------------------------------
# ODT (OpenDocument)

_ODT_NS = (
    'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
    'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0" '
    'xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0"'
)


def _odt(body: str) -> bytes:
    content = (
        f"<office:document-content {_ODT_NS}>"
        f"<office:body><office:text>{body}</office:text></office:body>"
        "</office:document-content>"
    )
    return _zip_bytes(
        [
            ("mimetype", "application/vnd.oasis.opendocument.text"),
            ("content.xml", content),
        ]
    )


def test_odt_headings_paragraphs_lists_tables():
    body = (
        '<text:h text:outline-level="1">Title</text:h>'
        "<text:p>Some <text:span>nested</text:span> body.</text:p>"
        "<text:list><text:list-item><text:p>one</text:p></text:list-item>"
        "<text:list-item><text:p>two</text:p></text:list-item></text:list>"
        "<table:table><table:table-row>"
        "<table:table-cell><text:p>h1</text:p></table:table-cell>"
        "<table:table-cell><text:p>h2</text:p></table:table-cell>"
        "</table:table-row><table:table-row>"
        "<table:table-cell><text:p>a</text:p></table:table-cell>"
        "<table:table-cell><text:p>b</text:p></table:table-cell>"
        "</table:table-row></table:table>"
    )
    pages = ooxml_to_pages(_odt(body))
    assert len(pages) == 1
    md = pages[0][1]
    assert md.startswith("# Title")
    assert "Some nested body." in md
    assert "- one\n- two" in md
    assert (
        "<table><tr><th>h1</th><th>h2</th></tr>"
        "<tr><td>a</td><td>b</td></tr></table>" in md
    )


def test_odt_space_run_and_tab_elements():
    body = (
        '<text:p>a<text:s text:c="3"/>b<text:tab/>c</text:p>'
    )
    # runs of spaces collapse in the inline contract at emission? blocks are
    # emitted raw here — the <text:s> expands, the emitter's join keeps it
    md = ooxml_to_pages(_odt(body))[0][1]
    assert md == "a   b c"


def test_odt_routes_through_extract_document():
    out = extract_document(
        _odt("<text:p>via dispatch</text:p>"),
        None,
        ExtractConfig(trust_text=False),
    )
    assert [(p.page_no, p.markdown, p.status) for p in out] == [
        (1, "via dispatch", "SUCCESS")
    ]


def test_odt_empty_body_contained():
    out = extract_document(_odt(""), None, ExtractConfig(trust_text=False))
    assert out[0].status == "ERROR"


def _ods(body: str) -> bytes:
    content = (
        f"<office:document-content {_ODT_NS}>"
        f"<office:body><office:spreadsheet>{body}</office:spreadsheet></office:body>"
        "</office:document-content>"
    )
    return _zip_bytes(
        [
            ("mimetype", "application/vnd.oasis.opendocument.spreadsheet"),
            ("content.xml", content),
        ]
    )


def test_ods_three_containers_one_workbook_identical():
    """ods, xlsx and .xls of the same workbook extract byte-identical
    pages (the shared grids_to_pages contract across all three)."""
    from zerox_spark.synth import render_ods, render_xls, render_xlsx

    cfg = ExtractConfig(trust_text=False)
    outs = [
        [
            (p.page_no, p.markdown)
            for p in extract_document(render(12), None, cfg)
        ]
        for render in (render_ods, render_xlsx, render_xls)
    ]
    assert outs[0] == outs[1] == outs[2]
    assert outs[0][0][1].startswith("## Sheet: data")


def test_ods_repeated_columns_and_rows():
    body = (
        '<table:table table:name="s">'
        "<table:table-row>"
        '<table:table-cell table:number-columns-repeated="3"><text:p>x</text:p></table:table-cell>'
        "</table:table-row>"
        '<table:table-row table:number-rows-repeated="2">'
        "<table:table-cell><text:p>y</text:p></table:table-cell>"
        "</table:table-row>"
        "</table:table>"
    )

    md = ooxml_to_pages(_ods(body))[0][1]
    assert (
        "<table><tr><th>x</th><th>x</th><th>x</th></tr>"
        "<tr><td>y</td></tr><tr><td>y</td></tr></table>" in md
    )


def test_ods_empty_repeat_filler_dropped_and_value_attr_fallback():
    """The classic LibreOffice trailing filler (an empty cell repeated
    16383×) is a gap — dropped like the xlsx sparse path; a cell with only
    an office:value attribute still yields its value."""
    body = (
        '<table:table table:name="s">'
        "<table:table-row>"
        '<table:table-cell office:value-type="float" office:value="42"/>'
        '<table:table-cell table:number-columns-repeated="16383"/>'
        "</table:table-row>"
        "</table:table>"
    )

    md = ooxml_to_pages(_ods(body))[0][1]
    assert "<table><tr><th>42</th></tr></table>" in md


def test_ods_routes_through_extract_document():
    from zerox_spark.synth import render_ods

    out = extract_document(
        render_ods(4), None, ExtractConfig(trust_text=False)
    )
    assert [p.status for p in out] == ["SUCCESS", "SUCCESS"]


def test_odp_renderer_slides_and_title_mapping():
    from zerox_spark.synth import render_odp

    pages = ooxml_to_pages(render_odp(9, "w1 w2 w3"))
    assert [(n, md) for n, md, _ in pages] == [
        (1, "# Document 9\n\nw1 w2 w3"),
        (2, "# Section 9\n\nw1 w2 w3"),
    ]


def test_odp_ppt_pptx_same_text_shape():
    """odp, legacy .ppt and (table-less slides of) pptx share the slide
    page shape: title heading + body paragraphs."""
    from zerox_spark.extract.legacy_office import ppt_to_pages
    from zerox_spark.synth import render_odp, render_ppt

    odp = [(n, md) for n, md, _ in ooxml_to_pages(render_odp(5, "a b c"))]
    ppt = [(n, md) for n, md, _ in ppt_to_pages(render_ppt(5, "a b c"))]
    assert odp == ppt


def test_generic_xml_element_and_tail_text():
    payload = (
        b'<?xml version="1.0"?>\n'
        b"<r><a>one</a>mid<b><c>two</c></b>tail</r>"
    )
    out = extract_document(payload, None, ExtractConfig(trust_text=False))
    assert out[0].status == "SUCCESS"
    assert out[0].markdown == "one\n\nmid\n\ntwo\n\ntail"


def test_xhtml_with_xml_decl_stays_on_dom_pipeline():
    payload = (
        b'<?xml version="1.0"?>\n'
        b'<html><body><article><h1>T</h1><p>body text</p></article></body></html>'
    )
    out = extract_document(payload, None, ExtractConfig(trust_text=False))
    assert out[0].markdown == "# T\n\nbody text"


def test_xml_with_dtd_falls_to_tolerant_pipeline_not_expat():
    payload = (
        b'<?xml version="1.0"?><!DOCTYPE r [<!ENTITY a "x">]>'
        b"<r><p>content &a; here</p></r>"
    )
    out = extract_document(payload, None, ExtractConfig(trust_text=False))
    # HTML tokenizer path: custom entity NOT expanded, content survives
    assert out[0].status == "SUCCESS"
    assert "content" in out[0].markdown


def test_oversized_container_bypasses_truncation_and_extracts():
    """Containers BYPASS the byte-truncation cap (truncating a zip just
    corrupts it — every oversized xlsx would become an ERROR row); per-row
    work is bounded inside the parsers instead (zip-member decompressed
    size, CFB sector cap)."""
    import io
    import zipfile as _zf

    from zerox_spark.extract.ooxml import _zip as _open_zip
    from zerox_spark.synth import render_xlsx

    base = render_xlsx(2)
    with _open_zip(base) as zsrc:
        members = [(n, zsrc.read(n)) for n in zsrc.namelist()]
    buf = io.BytesIO()
    with _zf.ZipFile(buf, "w", _zf.ZIP_STORED) as z:
        for n, data in members:
            z.writestr(n, data)
        z.writestr("padding.bin", b"\x00" * (16 * 1024 * 1024))
    big = buf.getvalue()
    assert len(big) > 15 * 1024 * 1024
    out = extract_document(big, None, ExtractConfig(trust_text=False))
    assert out[0].status == "SUCCESS"
    assert out[0].markdown.startswith("## Sheet: data")


def test_shared_string_fanout_output_bomb_contained():
    """OUTPUT amplification: a within-input-budget xlsx whose one ~1 MiB
    shared string is referenced by 40 cells would emit ~40 MiB — past the
    per-container emitted-output budget → contained ERROR (the input-byte
    budgets alone can't see this; fan-out happens at page build)."""
    big = "A" * (1024 * 1024)
    sst = f'<sst {_S_XMLNS}><si><t>{big}</t></si></sst>'
    cells = "".join(
        f'<c r="{chr(65 + i % 26)}{1 + i // 26}" t="s"><v>0</v></c>'
        for i in range(40)
    )
    sheet = (
        f'<worksheet {_S_XMLNS}><sheetData>'
        f'<row r="1">{cells}</row>'
        "</sheetData></worksheet>"
    )
    payload = _xlsx(sheet, sst)
    assert len(payload) < 4 * 1024 * 1024  # input is small; output is not
    out = extract_document(payload, None, ExtractConfig(trust_text=False))
    assert out[0].status == "ERROR"
    assert "emitted-output budget" in out[0].error


def test_dtd_in_ooxml_part_rejected():
    """OOXML parts never legitimately carry DTDs; an inline one (entity
    expansion vector) is rejected into the contained-ERROR path."""
    sheet = (
        '<?xml version="1.0"?><!DOCTYPE x [<!ENTITY a "b">]>'
        f'<worksheet {_S_XMLNS}><sheetData>'
        '<row r="1"><c r="A1" t="str"><v>&a;</v></c></row>'
        "</sheetData></worksheet>"
    )
    out = extract_document(
        _xlsx(sheet), None, ExtractConfig(trust_text=False)
    )
    assert out[0].status == "ERROR"
    assert "DTD" in out[0].error


def test_zip_decompression_bomb_contained():
    """A member CLAIMING a huge decompressed size (deflate bomb: 300MB of
    zeros in a ~300KB payload) hits the per-member bound and contains."""
    import io
    import zipfile as _zf

    bomb = io.BytesIO()
    with _zf.ZipFile(bomb, "w", _zf.ZIP_DEFLATED) as z:
        z.writestr("xl/workbook.xml", b"\x00" * (300 * 1024 * 1024))
    out = extract_document(
        bomb.getvalue(), None, ExtractConfig(trust_text=False)
    )
    assert out[0].status == "ERROR"
    assert "too large" in out[0].error


class TestOdsInteriorBlanks:
    def _grid(self, cells_xml: str) -> str:
        doc = _odf_doc(
            "spreadsheet",
            f'<table:table table:name="s">{cells_xml}</table:table>',
            "application/vnd.oasis.opendocument.spreadsheet",
        )
        pages = extract_document(doc, None)
        assert pages[0].status == "SUCCESS"
        return pages[0].markdown

    def test_interior_empty_cell_keeps_position(self):
        md = self._grid(
            "<table:table-row>"
            "<table:table-cell><text:p>a</text:p></table:table-cell>"
            "<table:table-cell/>"
            "<table:table-cell><text:p>c</text:p></table:table-cell>"
            "</table:table-row>"
        )
        # the blank holds its column: a | "" | c (not a | c)
        assert "<th>a</th><th></th><th>c</th>" in md

    def test_trailing_padding_stripped(self):
        md = self._grid(
            "<table:table-row>"
            "<table:table-cell><text:p>a</text:p></table:table-cell>"
            '<table:table-cell table:number-columns-repeated="1000"/>'
            "</table:table-row>"
            "<table:table-row>"
            "<table:table-cell><text:p>b</text:p></table:table-cell>"
            "</table:table-row>"
        )
        assert "<th>a</th></tr>" in md  # no 1000 empty columns
        assert "<td>b</td>" in md

    def test_interior_repeat_capped_empty_run(self):
        md = self._grid(
            "<table:table-row>"
            "<table:table-cell><text:p>a</text:p></table:table-cell>"
            '<table:table-cell table:number-columns-repeated="3"/>'
            "<table:table-cell><text:p>z</text:p></table:table-cell>"
            "</table:table-row>"
        )
        assert "<th>a</th><th></th><th></th><th></th><th>z</th>" in md


class TestOdfTemplates:
    """ott/ots/otp template mimetypes (README.md:495-513) extract
    identically to their non-template siblings — routing is body-element
    based, proven by the synth families now shipping template mimetypes
    for a doc_id subset (extract_odf/extract_misc oracles cover it)."""

    def test_ots_equals_ods(self):
        # doc_id 4 → ots (doc_id % 4 == 0); compare against doc_id 4's
        # sibling rendered with the plain mimetype by checking the
        # template payload extracts the expected workbook pages
        payload = render_ods(4)
        assert b"spreadsheet-template" in payload[:200]
        pages = extract_document(payload, None)
        assert [p.status for p in pages] == ["SUCCESS", "SUCCESS"]
        assert "## Sheet: data" in pages[0].markdown

    def test_ott_extracts(self):
        payload = render_odt(5, "one two three four five six seven")
        assert b"text-template" in payload[:200]
        pages = extract_document(payload, None)
        assert pages[0].status == "SUCCESS"
        assert pages[0].markdown.startswith("# Document 5")

    def test_otp_extracts(self):
        payload = render_odp(8, "one two three four five six seven")
        assert b"presentation-template" in payload[:200]
        pages = extract_document(payload, None)
        assert [p.page_no for p in pages] == [1, 2]
        assert pages[0].markdown.startswith("# Document 8")
