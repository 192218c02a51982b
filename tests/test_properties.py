"""Property-based tests (hypothesis): the extractor must never crash and
must obey its structural invariants on ARBITRARY input — the 10^12-row
robustness contract that example-based tests can't cover."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from zerox_spark.extract.core import ExtractConfig, extract_document
from zerox_spark.extract.fences import format_markdown
from zerox_spark.extract.markdown import html_to_markdown
from zerox_spark.html.dom import parse
from zerox_spark.operators.fold import apply_maintain_format
from zerox_spark.operators.textstats import _winnow_np, _winnow_one

# text that may contain markup-ish fragments
_markupish = st.text(
    alphabet=st.sampled_from(list("abc <>/=\"'&;!-\n\t#`*%PDF")), max_size=300
)


@settings(max_examples=200, deadline=None)
@given(_markupish)
def test_parse_never_crashes_and_tree_is_consistent(src: str):
    nodes = parse(src)
    assert nodes[0].tag == "#root"
    for n in nodes[1:]:
        assert 0 <= n.parent < n.idx  # parents precede children (doc order)
        assert n.idx in nodes[n.parent].children


@settings(max_examples=200, deadline=None)
@given(_markupish)
def test_html_to_markdown_total_and_spans_in_bounds(src: str):
    md, spans = html_to_markdown(src)
    for kind, start, end, score in spans:
        assert 0 <= start <= end <= len(md)
        assert kind


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=400), st.text(max_size=100))
def test_extract_document_never_raises_in_ignore_mode(payload: bytes, text: str):
    pages = extract_document(payload, text, ExtractConfig())
    assert pages
    for p in pages:
        assert p.status in ("SUCCESS", "ERROR")
        assert p.content_length == len(p.markdown)


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=300))
def test_fence_strip_idempotent(text: str):
    once = format_markdown(text)
    assert format_markdown(once) == once


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet=st.characters(codec="utf-8"), min_size=0, max_size=200))
def test_winnow_deterministic_and_bounded(text: str):
    fp = _winnow_one(text)
    assert fp == _winnow_one(text)
    assert all(0 <= h < (1 << 31) for h in fp)


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=st.characters(codec="utf-8"), min_size=0, max_size=300))
def test_winnow_vectorized_matches_scalar_reference(text: str):
    """The numpy hot path must be output-identical to the scalar reference
    (rolling hash, rightmost-tie window min, consecutive-position dedup)."""
    assert _winnow_np(text) == _winnow_one(text)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(st.text(max_size=80), st.sampled_from(["SUCCESS", "ERROR"])),
        max_size=8,
    )
)
def test_fold_preserves_page_order_and_count_invariants(pages):
    rows = [(i + 1, md, status) for i, (md, status) in enumerate(pages)]
    out = apply_maintain_format(rows)
    assert [p[0] for p in out] == [p[0] for p in rows[: len(out)]]
    assert len(out) == len(rows)  # py mode never drops pages


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=600))
def test_pk_payloads_never_raise_in_ignore_mode(tail: bytes):
    """Arbitrary bytes behind the PK magic must extract or contain — never
    crash a task (the OOXML/zip route, extract/ooxml.py)."""
    pages = extract_document(
        b"PK\x03\x04" + tail, None, ExtractConfig(trust_text=False)
    )
    assert pages and all(p.status in ("SUCCESS", "ERROR") for p in pages)


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=1200))
def test_cfb_payloads_never_raise_in_ignore_mode(tail: bytes):
    """Arbitrary bytes behind the CFB magic must extract or contain (the
    legacy-Office route, extract/cfb.py + legacy_office.py)."""
    pages = extract_document(
        b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + tail,
        None,
        ExtractConfig(trust_text=False),
    )
    assert pages and all(p.status in ("SUCCESS", "ERROR") for p in pages)


@settings(max_examples=60, deadline=None)
@given(st.binary(min_size=0, max_size=400), st.integers(0, 2**16 - 1))
def test_truncated_real_cfb_contained(cut: bytes, at: int):
    """Truncating/garbling a REAL .xls/.doc at any point stays contained."""
    from zerox_spark.synth import render_doc, render_xls

    base = render_xls(4) + render_doc(5, "w1 w2 w3")[:0]  # one real payload
    mangled = base[: at % (len(base) + 1)] + cut
    pages = extract_document(mangled, None, ExtractConfig(trust_text=False))
    assert pages and all(p.status in ("SUCCESS", "ERROR") for p in pages)


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=400))
def test_rtf_payloads_never_raise_in_ignore_mode(tail: bytes):
    """Arbitrary bytes after the RTF magic: degrade or contain, never an
    uncontained raise (control words, escapes, groups all attacker-shaped)."""
    pages = extract_document(b"{\\rtf1" + tail, None, ExtractConfig(trust_text=False))
    for p in pages:
        assert p.status in ("SUCCESS", "ERROR")
        # emitted markdown must round-trip through strict UTF-8 (no lone
        # surrogates escaping the sanitizer into Arrow)
        p.markdown.encode("utf-8")


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=400))
def test_wpd_payloads_never_raise_in_ignore_mode(tail: bytes):
    pages = extract_document(b"\xffWPC" + tail, None, ExtractConfig(trust_text=False))
    for p in pages:
        assert p.status in ("SUCCESS", "ERROR")


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=400))
def test_xml_decl_payloads_never_raise_in_ignore_mode(tail: bytes):
    pages = extract_document(b'<?xml version="1.0"?>' + tail, None, ExtractConfig(trust_text=False))
    for p in pages:
        assert p.status in ("SUCCESS", "ERROR")


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.lists(st.text(alphabet="ab,\t\"'x", max_size=8), max_size=5),
        max_size=8,
    )
)
def test_delimited_roundtrip_never_raises(rows):
    """Arbitrary comma/tab/quote soup through the sniff + parse path."""
    src = "\n".join(",".join(cells) for cells in rows)
    pages = extract_document(
        src.encode("utf-8"), None, ExtractConfig(trust_text=False)
    )
    for p in pages:
        assert p.status in ("SUCCESS", "ERROR")


@settings(max_examples=80, deadline=None)
@given(st.binary(max_size=300), st.integers(min_value=0, max_value=299))
def test_truncated_real_pptx_contained(junk: bytes, at: int):
    """A real pptx truncated/corrupted mid-container: SUCCESS or contained
    ERROR, never an uncontained raise."""
    from zerox_spark.synth import render_pptx

    base = render_pptx(5, "alpha beta gamma")
    mangled = base[: at % len(base)] + junk
    pages = extract_document(mangled, None, ExtractConfig(trust_text=False))
    for p in pages:
        assert p.status in ("SUCCESS", "ERROR")


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=500))
def test_warc_parser_total_on_arbitrary_bytes(blob: bytes):
    """parse_warc must be total: arbitrary bytes (optionally smelling like
    gzip or WARC) yield a finite record list, never an exception."""
    from zerox_spark.warc import parse_warc

    for url, ts, payload in parse_warc(blob):
        assert url and isinstance(payload, bytes)


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=200), st.integers(min_value=0, max_value=400))
def test_warc_mangled_real_archive_keeps_prefix_records(junk: bytes, at: int):
    from zerox_spark.synth import doc_ts, doc_url, render_html
    from zerox_spark.warc import parse_warc, write_warc

    recs = [
        (
            doc_url(i, "s"),
            doc_ts(i).replace(tzinfo=None),
            render_html(i, "a b c", "en", "s"),
        )
        for i in (2, 4)
    ]
    plain = write_warc(recs, compress=False)
    mangled = plain[: at % len(plain)] + junk
    got = list(parse_warc(mangled))
    # whatever parses must be a prefix-consistent subset of real records
    # (possibly with the last payload/url altered by the junk splice) —
    # the invariant under test is totality + no crash + bounded output
    assert len(got) <= len(recs) + 1
