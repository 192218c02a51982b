"""Unit tests: pseudo-PDF layout pass, extraction dispatch, error modes,
maintainFormat fold semantics."""

from __future__ import annotations

import pytest

from zerox_spark.extract.core import ExtractConfig, extract_document
from zerox_spark.extract.layout import (
    is_pdf,
    parse_pdf,
    pdf_to_pages,
    segment_page,
)
from zerox_spark.operators.fold import apply_maintain_format

PDF = b"""%PDF-SYNTH 1.0
%%page no=1 w=612.0 h=792.0
%%line y=750.0 x=72.0 size=18.0 text=Title Here
%%line y=700.0 x=72.0 size=10.0 text=first words
%%line y=680.0 x=72.0 size=10.0 text=same paragraph
%%line y=600.0 x=72.0 size=10.0 text=new paragraph after valley
%%line y=40.0 x=306.0 size=8.0 text=1
garbage directive that must be ignored
%%line y=bad x=72.0 size=10.0 text=also ignored
"""


def test_magic_sniff():
    assert is_pdf(b"%PDF-1.4 real")
    assert not is_pdf(b"<html>")


def test_parse_tolerates_garbage():
    pages = parse_pdf(PDF)
    assert len(pages) == 1
    assert len(pages[0].lines) == 5


def test_valley_segmentation_and_classification():
    page = parse_pdf(PDF)[0]
    blocks = segment_page(page)
    kinds = [(b.kind, b.text) for b in blocks]
    assert kinds == [
        ("heading", "# Title Here"),
        ("para", "first words same paragraph"),
        ("para", "new paragraph after valley"),
        ("page_number", "<page_number>1</page_number>"),
    ]


def test_pdf_to_pages_ordering():
    two = PDF + b"%%page no=2 w=612.0 h=792.0\n%%line y=700.0 x=72.0 size=10.0 text=second page\n"
    pages = pdf_to_pages(two)
    assert [p[0] for p in pages] == [1, 2]


def test_dispatch_fast_path_bypasses_dom():
    out = extract_document(b"<html><p>ignored</p></html>", "trusted text")
    assert len(out) == 1 and out[0].markdown == "trusted text"


def test_dispatch_error_containment_ignore():
    out = extract_document(None, None)
    assert out[0].status == "ERROR"
    assert out[0].markdown == "" and out[0].content_length == 0


def test_dispatch_error_mode_throw():
    with pytest.raises(ValueError):
        extract_document(b"", None, ExtractConfig(error_mode="THROW"))


def test_crlf_and_nfc_normalized():
    out = extract_document(
        "<article><p>café</p></article>".encode(), None
    )
    assert out[0].markdown == "café"


# --- maintainFormat fold ---------------------------------------------------

TBL1 = "<table><tr><th>h</th></tr><tr><td>1</td></tr></table>"
TBL2 = "<table><tr><td>2</td></tr></table>"
TBL2_FIXED = "<table><tr><th>h</th></tr><tr><td>2</td></tr></table>"


def test_fold_reemits_header():
    out = apply_maintain_format(
        [(1, TBL1, "SUCCESS"), (2, TBL2, "SUCCESS")]
    )
    assert out[1][1] == TBL2_FIXED


def test_fold_skips_page_furniture():
    p1 = TBL1 + "\n\n<page_number>1</page_number>"
    p2 = "<page_number>2</page_number>\n\n" + TBL2
    out = apply_maintain_format([(1, p1, "SUCCESS"), (2, p2, "SUCCESS")])
    assert TBL2_FIXED in out[1][1]


def test_fold_no_change_when_continuation_has_header():
    out = apply_maintain_format(
        [(1, TBL1, "SUCCESS"), (2, TBL1, "SUCCESS")]
    )
    assert out[1][1] == TBL1


def test_fold_py_mode_continues_after_error_with_reset():
    out = apply_maintain_format(
        [(1, TBL1, "SUCCESS"), (2, "", "ERROR"), (3, TBL2, "SUCCESS")]
    )
    # prior context was reset at the error → no header re-emission on page 3
    assert [s for _, _, s in out] == ["SUCCESS", "ERROR", "SUCCESS"]
    assert out[2][1] == TBL2


def test_extract_document_folds_when_maintain_format():
    """extract_document is the one fold site: the job's UDF, api.zerox and
    the SQL functions all get the fold from it, and only when asked."""
    def two_pages(html, text):
        return [(1, TBL1, []), (2, TBL2, [])]

    for maintain, want in ((True, TBL2_FIXED), (False, TBL2)):
        cfg = ExtractConfig(extractor=two_pages, maintain_format=maintain)
        out = extract_document(b"x", None, cfg)
        assert [p.markdown for p in out] == [TBL1, want]
        assert out[1].content_length == len(want)


def test_plain_text_document_paragraphs():
    txt = b"First paragraph here.\n\nSecond  paragraph\nwith a wrapped line.\n\n\nThird."
    out = extract_document(txt, None)
    assert out[0].markdown == (
        "First paragraph here.\n\nSecond paragraph with a wrapped line.\n\nThird."
    )
    assert [s[0] for s in out[0].spans] == ["para", "para", "para"]


def test_zip_container_contained_error():
    # a PK payload that is not parseable OOXML stays a contained ERROR
    # (real xlsx/docx now extract via extract/ooxml.py — tests/test_ooxml.py)
    out = extract_document(b"PK\x03\x04office-doc-bytes", None)
    assert out[0].status == "ERROR"
    assert "zip" in out[0].error.lower()


def test_cfb_contained_error():
    out = extract_document(bytes([0xD0, 0xCF, 0x11, 0xE0]) + b"\x00" * 16, None)
    assert out[0].status == "ERROR"
    assert "CFB" in out[0].error


def test_layout_corrupt_float_directive_skipped_not_fatal():
    """'[\\d.]+' admits '1.2.3'; the directive must be skipped, not kill
    the whole document."""
    payload = (
        b"%PDF-SYNTH 1.0\n"
        b"%%page no=1 w=612.0 h=792.0\n"
        b"%%line y=1.2.3 x=72.0 size=10.0 text=corrupt line\n"
        b"%%line y=700.0 x=72.0 size=10.0 text=good line\n"
    )
    out = extract_document(payload, None)
    assert out[0].status == "SUCCESS"
    assert "good line" in out[0].markdown
    assert "corrupt" not in out[0].markdown


def test_select_pages_with_gapped_numbering():
    """Empty sheets are skipped (gapped page numbers); selecting a page
    past the gap must work, and selecting the gap itself errors."""
    import pytest as _pytest

    from zerox_spark.extract.pages import (
        PageNumberOutOfBoundError,
        select_and_renumber,
    )

    pages = [(1, "one", []), (3, "three", [])]  # page 2 was empty
    assert select_and_renumber(pages, [3]) == [(3, "three", [])]
    with _pytest.raises(PageNumberOutOfBoundError):
        select_and_renumber(pages, [2])
