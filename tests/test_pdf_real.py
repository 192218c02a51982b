"""Born-digital PDF parser (extract/pdf.py) + binary-guard tests.

Covers: COS lexer edge cases, stream filters, ToUnicode CMaps, the synth
round-trip contract for all four variants, the reference-corpus keyword
floors (node-zerox's own inputs + test.json — the standing gate VERDICT r3
asked for), and the dispatch binary/media guard (round-3 What's-wrong #1).
"""

from __future__ import annotations

import json
import zlib
from pathlib import Path

import pytest

from zerox_spark.extract.core import extract_document
from zerox_spark.extract.delimited import sniff_delimiter
from zerox_spark.extract.pdf import (
    Lexer,
    Name,
    Ref,
    _ascii85,
    _ascii_hex,
    _lzw,
    _png_predictor,
    _runlength,
    parse_real_pdf,
    parse_tounicode,
    real_pdf_to_pages,
)
from zerox_spark.extract.sniff import sniff_binary
from zerox_spark.operators.multimodal import sniff_kind
from zerox_spark.synth import (
    _assemble_pdf,
    expected_pdf_real_pages,
    render_pdf_real,
)

REFERENCE = Path("/root/reference/shared")

TEXT = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
    "kilo lima mike november oscar papa quebec romeo sierra tango"
)


# --------------------------------------------------------------------------
# lexer


class TestLexer:
    def parse(self, b: bytes):
        return Lexer(b).parse_object()

    def test_nested_parens_and_escapes(self):
        assert self.parse(rb"(a(b)c \( \) \\ \101 \n)") == b"a(b)c ( ) \\ A \n"

    def test_hex_string_odd_and_ws(self):
        assert self.parse(b"<48 65 6C6C 6F2>") == b"Hello "

    def test_name_hash_escape(self):
        assert self.parse(b"/A#20B") == Name("A B")

    def test_ref_vs_numbers(self):
        arr = self.parse(b"[1 2 R 3 4.5 5 0 R]")
        assert arr == [Ref(1, 2), 3, 4.5, Ref(5, 0)]

    def test_dict_with_stream(self):
        body = b"<< /Length 5 >>\nstream\nHELLO\nendstream"
        st = self.parse(body)
        assert st.raw == b"HELLO"
        assert st.dict[Name("Length")] == 5

    def test_stream_bad_length_falls_back_to_scan(self):
        body = b"<< /Length 9999 >>\nstream\nHELLO\nendstream"
        st = self.parse(body)
        assert st.raw == b"HELLO"

    def test_comment_skipped(self):
        assert self.parse(b"% comment\n42") == 42

    def test_booleans_null(self):
        assert self.parse(b"[true false null]") == [True, False, None]


# --------------------------------------------------------------------------
# filters


class TestFilters:
    def test_ascii_hex(self):
        assert _ascii_hex(b"48656c6c6f>") == b"Hello"

    def test_ascii85(self):
        import base64

        enc = base64.a85encode(b"Hello world") + b"~>"
        assert _ascii85(enc) == b"Hello world"

    def test_runlength(self):
        # literal run of 3 + repeat 'A' x4 + EOD
        assert _runlength(b"\x02abc\xfdA\x80") == b"abcAAAA"

    def test_lzw_roundtrip_known(self):
        # canonical LZW of b'-----A---B' style not handy; encode simple
        # repeated text with a tiny encoder inline (early-change):
        def encode(data: bytes) -> bytes:
            table = {bytes((i,)): i for i in range(256)}
            next_code = 258
            code_len = 9
            out_bits: list[tuple[int, int]] = [(256, 9)]
            w = b""
            for ch in data:
                c = bytes((ch,))
                if w + c in table:
                    w += c
                else:
                    out_bits.append((table[w], code_len))
                    table[w + c] = next_code
                    next_code += 1
                    if next_code + 1 > (1 << code_len) and code_len < 12:
                        code_len += 1
                    w = c
            if w:
                out_bits.append((table[w], code_len))
            out_bits.append((257, code_len))
            acc = nbits = 0
            out = bytearray()
            for code, cl in out_bits:
                acc = (acc << cl) | code
                nbits += cl
                while nbits >= 8:
                    out.append((acc >> (nbits - 8)) & 0xFF)
                    nbits -= 8
            if nbits:
                out.append((acc << (8 - nbits)) & 0xFF)
            return bytes(out)

        data = b"TOBEORNOTTOBEORTOBEORNOT" * 3
        assert _lzw(encode(data)) == data

    def test_png_predictor_up(self):
        # two rows, 3 cols, filter 2 (Up)
        raw = b"\x02\x01\x02\x03" + b"\x02\x01\x01\x01"
        assert _png_predictor(raw, 1, 8, 3) == b"\x01\x02\x03\x02\x03\x04"


# --------------------------------------------------------------------------
# ToUnicode


class TestToUnicode:
    def test_bfchar_and_bfrange(self):
        cmap = b"""
2 beginbfchar
<0041> <0061>
<0042> <0062>
endbfchar
1 beginbfrange
<0050> <0052> <0070>
endbfrange
"""
        m = parse_tounicode(cmap)
        assert m[0x41] == "a" and m[0x42] == "b"
        assert m[0x50] == "p" and m[0x52] == "r"

    def test_bfrange_array_dest(self):
        cmap = b"""
1 beginbfrange
<0001> <0003> [<0058> <0059> <005A>]
endbfrange
"""
        m = parse_tounicode(cmap)
        assert (m[1], m[2], m[3]) == ("X", "Y", "Z")

    def test_multichar_dest(self):
        cmap = b"""
1 beginbfchar
<0001> <00660069>
endbfchar
"""
        assert parse_tounicode(cmap)[1] == "fi"


# --------------------------------------------------------------------------
# synth round trip (all variants)


class TestSynthRoundTrip:
    @pytest.mark.parametrize("doc_id", [0, 1, 2, 3, 32, 33, 34, 35])
    def test_variant_roundtrip(self, doc_id):
        payload = render_pdf_real(doc_id, TEXT)
        pages = extract_document(payload, None)
        assert [p.status for p in pages] == ["SUCCESS", "SUCCESS"]
        got = [(p.page_no, p.markdown) for p in pages]
        assert got == expected_pdf_real_pages(doc_id, TEXT)

    def test_special_chars(self):
        text = "paren (x) back\\slash em—dash “q” naïve café w1 w2 w3 w4"
        for doc_id in (0, 1, 2, 3):
            payload = render_pdf_real(doc_id, text)
            got = [(p.page_no, p.markdown) for p in extract_document(payload, None)]
            assert got == expected_pdf_real_pages(doc_id, text)

    def test_truncated_pdf_contained(self):
        payload = render_pdf_real(1, TEXT)[:200]
        pages = extract_document(payload, None)
        # either partial extraction or a contained ERROR — never a raise
        assert all(p.status in ("SUCCESS", "ERROR") for p in pages)

    def test_image_only_pdf_is_error(self):
        # a real PDF whose single page has no text operators
        content = b"q 0 0 612 792 re W n Q"
        pdf = (
            b"%PDF-1.4\n"
            b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
            b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
            b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
            b"4 0 obj\n<< /Length "
            + str(len(content)).encode()
            + b" >>\nstream\n"
            + content
            + b"\nendstream\nendobj\n"
        )
        with pytest.raises(Exception):
            real_pdf_to_pages(pdf)
        res = extract_document(pdf, None)
        assert res[0].status == "ERROR"
        assert "text layer" in (res[0].error or "")

    def test_form_xobject_recursion(self):
        inner = b"BT /F1 12 Tf 72 700 Td (from form) Tj ET"
        pdf = (
            b"%PDF-1.4\n"
            b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
            b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
            b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Resources << /XObject"
            b" << /Fm1 5 0 R >> /Font << /F1 6 0 R >> >> /Contents 4 0 R >>\nendobj\n"
            b"4 0 obj\n<< /Length 7 >>\nstream\n/Fm1 Do\nendstream\nendobj\n"
            b"5 0 obj\n<< /Subtype /Form /Length "
            + str(len(inner)).encode()
            + b" >>\nstream\n"
            + inner
            + b"\nendstream\nendobj\n"
            b"6 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>\nendobj\n"
        )
        pages = parse_real_pdf(pdf)
        assert pages[0].lines[0].text == "from form"

    def test_objstm_objects_found(self):
        # Catalog+Pages+Page inside an object stream (PDF 1.5 layout)
        o1 = b"<< /Type /Catalog /Pages 2 0 R >>"
        o2 = b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"
        o3 = b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>"
        inner_objs = o1 + b" " + o2 + b" " + o3
        header = (
            f"1 0 2 {len(o1) + 1} 3 {len(o1) + len(o2) + 2} ".encode()
        )
        body = header + inner_objs
        comp = zlib.compress(body)
        content = b"BT /F9 14 Tf 72 700 Td (objstm text) Tj ET"
        pdf = (
            b"%PDF-1.5\n"
            b"5 0 obj\n<< /Type /ObjStm /N 3 /First "
            + str(len(header)).encode()
            + b" /Length "
            + str(len(comp)).encode()
            + b" /Filter /FlateDecode >>\nstream\n"
            + comp
            + b"\nendstream\nendobj\n"
            b"4 0 obj\n<< /Length "
            + str(len(content)).encode()
            + b" >>\nstream\n"
            + content
            + b"\nendstream\nendobj\n"
        )
        pages = parse_real_pdf(pdf)
        assert len(pages) == 1
        assert pages[0].lines[0].text == "objstm text"


# --------------------------------------------------------------------------
# /Rotate display orientation


def _one_page_pdf(content: str, rotate: int | None = None) -> bytes:
    rot = f" /Rotate {rotate}" if rotate is not None else ""
    c = content.encode()
    return (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        + (
            f"3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
            f"{rot} /Resources << /Font << /F1 4 0 R >> >>"
            f" /Contents 5 0 R >>\nendobj\n"
        ).encode()
        + b"4 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
        b" /Encoding /WinAnsiEncoding >>\nendobj\n"
        + b"5 0 obj\n<< /Length "
        + str(len(c)).encode()
        + b" >>\nstream\n"
        + c
        + b"\nendstream\nendobj\n"
    )


class TestRotatedPages:
    def test_rotate_90_reading_order(self):
        # authored along +y (Tm [0 1 -1 0 ...]); /Rotate 90 displays it
        # horizontally — lines must come out in display order
        content = (
            "BT /F1 12 Tf 0 1 -1 0 72 72 Tm (first line) Tj ET\n"
            "BT /F1 12 Tf 0 1 -1 0 92 72 Tm (second line) Tj ET"
        )
        pages = parse_real_pdf(_one_page_pdf(content, rotate=90))
        assert pages[0].width == 792.0 and pages[0].height == 612.0
        texts = [l.text for l in pages[0].lines]
        assert texts == ["first line", "second line"]
        ys = [l.y for l in pages[0].lines]
        assert ys[0] > ys[1]  # display top-down

    def test_rotate_180_reading_order(self):
        content = (
            "BT /F1 12 Tf -1 0 0 -1 540 72 Tm (first line) Tj ET\n"
            "BT /F1 12 Tf -1 0 0 -1 540 92 Tm (second line) Tj ET"
        )
        pages = parse_real_pdf(_one_page_pdf(content, rotate=180))
        assert [l.text for l in pages[0].lines] == [
            "first line",
            "second line",
        ]

    def test_rotate_0_unchanged(self):
        content = "BT /F1 12 Tf 72 700 Td (plain) Tj ET"
        pages = parse_real_pdf(_one_page_pdf(content, rotate=360))
        assert [l.text for l in pages[0].lines] == ["plain"]
        assert pages[0].width == 612.0


# --------------------------------------------------------------------------
# encryption (standard security handler, RC4, empty user password)


def _encrypt_pdf(
    pdf: bytes, r: int, v: int, length: int, wrong_password: bool = False
) -> bytes:
    """Independent test-side encryptor (spec Algorithms 1+2) rewriting every
    stream of a synth PDF, splicing /Encrypt + /ID into the trailer."""
    import hashlib
    import re as _re

    from zerox_spark.extract.pdf import _PAD, _rc4

    O = bytes(range(32))
    P = -44
    fid = b"\x12\x34" * 8
    n = max(5, length // 8)
    h = hashlib.md5()
    h.update(_PAD)
    h.update(O)
    h.update((P & 0xFFFFFFFF).to_bytes(4, "little"))
    h.update(fid)
    key = h.digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:n]).digest()
    key = key[:n]

    def obj_key(num: int) -> bytes:
        d = hashlib.md5(
            key + (num & 0xFFFFFF).to_bytes(3, "little") + b"\x00\x00"
        ).digest()
        return d[: min(len(key) + 5, 16)]

    # correct /U (Algorithm 4 for R2, Algorithm 5 for R>=3) so the
    # parser's empty-password /U check accepts the file; pass a wrong
    # key via u_override to simulate a real user password
    if r == 2:
        U = _rc4(key, _PAD)
    else:
        h5 = hashlib.md5(_PAD + fid).digest()
        u = _rc4(key, h5)
        for i in range(1, 20):
            u = _rc4(bytes(b ^ i for b in key), u)
        U = u + b"\x00" * 16

    out = bytearray()
    pos = 0
    for m in _re.finditer(rb"(\d+) 0 obj\n(.*?)\nendobj\n", pdf, _re.S):
        num = int(m.group(1))
        body = m.group(2)
        sm = _re.search(rb"stream\n(.*?)\nendstream$", body, _re.S)
        if sm:
            enc = _rc4(obj_key(num), sm.group(1))
            body = body[: sm.start(1)] + enc + body[sm.end(1) :]
            body = _re.sub(
                rb"/Length \d+", b"/Length %d" % len(enc), body, count=1
            )
        out += pdf[pos : m.start()] + b"%d 0 obj\n" % num + body + b"\nendobj\n"
        pos = m.end()
    tail = pdf[pos:].replace(
        b"trailer\n<< /Size",
        b"trailer\n<< /Encrypt 90 0 R /ID [<%s> <%s>] /Size"
        % (fid.hex().encode(), fid.hex().encode()),
    )
    if wrong_password:
        U = bytes(32)
    encdict = (
        b"90 0 obj\n<< /Filter /Standard /V %d /R %d /Length %d /O <%s>"
        b" /U <%s> /P %d >>\nendobj\n"
        % (v, r, length, O.hex().encode(), U[:32].hex().encode(), P)
    )
    return bytes(out) + encdict + tail


class TestEncryptedPdf:
    @pytest.mark.parametrize("r,v,length", [(2, 1, 40), (3, 2, 128)])
    def test_rc4_empty_user_password_roundtrip(self, r, v, length):
        pdf = render_pdf_real(1, TEXT)
        epdf = _encrypt_pdf(pdf, r, v, length)
        got = [(p.page_no, p.markdown) for p in extract_document(epdf, None)]
        assert got == expected_pdf_real_pages(1, TEXT)

    @pytest.mark.parametrize("r,v,length", [(2, 1, 40), (3, 2, 128)])
    def test_user_password_rejected_cleanly(self, r, v, length):
        pdf = render_pdf_real(1, TEXT)
        epdf = _encrypt_pdf(pdf, r, v, length, wrong_password=True)
        p = extract_document(epdf, None)[0]
        assert p.status == "ERROR"
        assert "user password" in (p.error or "")

    def test_v4_default_stmf_is_identity(self):
        # ISO 32000-1 Table 20: /StmF defaults to Identity — a /V 4 dict
        # with no crypt filters means streams are NOT encrypted, so the
        # document extracts in the clear (was a contained ERROR before
        # AES support landed; the old behavior over-rejected)
        pdf = render_pdf_real(1, TEXT)
        v4 = pdf.replace(
            b"trailer\n<< /Size",
            b"trailer\n<< /Encrypt 91 0 R /ID [<00> <00>] /Size",
        ) + (
            b"91 0 obj\n<< /Filter /Standard /V 4 /R 4 /O <00> /P -44 >>\n"
            b"endobj\n"
        )
        got = [(p.page_no, p.markdown) for p in extract_document(v4, None)]
        assert got == expected_pdf_real_pages(1, TEXT)

    def test_unsupported_crypt_filter_contained(self):
        pdf = render_pdf_real(1, TEXT)
        weird = pdf.replace(
            b"trailer\n<< /Size",
            b"trailer\n<< /Encrypt 91 0 R /ID [<00> <00>] /Size",
        ) + (
            b"91 0 obj\n<< /Filter /Standard /V 4 /R 4"
            b" /CF << /StdCF << /CFM /Bogus >> >> /StmF /StdCF"
            b" /O <00> /P -44 >>\nendobj\n"
        )
        p = extract_document(weird, None)[0]
        assert p.status == "ERROR"
        assert "crypt filter" in (p.error or "")

    def test_unknown_handler_contained(self):
        pdf = render_pdf_real(0, TEXT)
        weird = pdf.replace(
            b"trailer\n<< /Size",
            b"trailer\n<< /Encrypt 91 0 R /ID [<00> <00>] /Size",
        ) + (b"91 0 obj\n<< /Filter /Custom /V 1 >>\nendobj\n")
        p = extract_document(weird, None)[0]
        assert p.status == "ERROR"
        assert "security handler" in (p.error or "")


# --------------------------------------------------------------------------
# reference corpus — the standing keyword gate


def _reference_report():
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from tools.reference_accuracy import run

    return run(str(REFERENCE.parent))


@pytest.mark.skipif(not REFERENCE.exists(), reason="reference corpus absent")
class TestReferenceCorpus:
    # per-file floors: the text-layer ceiling measured at build time minus
    # a small margin (0013/0016 carry rasterized chart/label text no text
    # layer contains; 0002 + every .png is image-only by construction)
    FLOORS = {
        "0003.pdf": 0.95,
        "0004.pdf": 0.95,
        "0013.pdf": 0.55,
        "0016.pdf": 0.85,  # raised r6: Type3 widths + prose-column cut
        "0017.pdf": 0.98,
        "0018.pdf": 0.95,  # raised r6: wrapped-cell merge + comma fold -> 100%
    }

    @pytest.fixture(scope="class")
    def report(self):
        return _reference_report()

    def test_pdf_keyword_floors(self, report):
        by_file = {f["file"]: f for f in report["files"]}
        for name, floor in self.FLOORS.items():
            row = by_file[name]
            assert row["status"] == "extracted", name
            assert row["accuracy"] >= floor, (name, row["accuracy"])

    # token-F1 floors vs the reference's committed LLM-OCR outputs
    # (shared/outputs/*.md) — measured value minus a small margin
    F1_FLOORS = {
        "0003.pdf": 0.97,
        "0004.pdf": 0.88,
        "0013.pdf": 0.75,
        "0016.pdf": 0.65,  # raised r6 (measured 0.716, was 0.544)
        "0017.pdf": 0.75,
        "0018.pdf": 0.85,
    }

    def test_token_f1_floors_vs_reference_outputs(self, report):
        by_file = {f["file"]: f for f in report["files"]}
        for name, floor in self.F1_FLOORS.items():
            row = by_file[name]
            assert row.get("token_f1", 0.0) >= floor, (
                name,
                row.get("token_f1"),
            )

    def test_images_and_scans_are_not_mojibake(self, report):
        for f in report["files"]:
            if f["file"].endswith(".png") or f["file"] == "0002.pdf":
                assert f["status"] == "no_text_layer", f


# --------------------------------------------------------------------------
# fuzz: the parser must be TOTAL on mangled real PDFs (the 10^12-row
# robustness contract — same standard the WARC parser carries)


from hypothesis import given, settings, strategies as st  # noqa: E402


class TestPdfFuzz:
    @settings(max_examples=60, deadline=None)
    @given(
        st.integers(0, 7),
        st.lists(
            st.tuples(st.integers(0, 4000), st.binary(min_size=1, max_size=8)),
            max_size=6,
        ),
    )
    def test_mutated_synth_pdf_contained(self, doc_id, mutations):
        """Random byte splices into a real PDF: extraction either succeeds
        (parser routed around the damage) or returns contained ERROR pages —
        never raises, never hangs."""
        payload = bytearray(render_pdf_real(doc_id, TEXT))
        for pos, chunk in mutations:
            pos %= max(1, len(payload))
            payload[pos : pos + len(chunk)] = chunk
        pages = extract_document(bytes(payload), None)
        assert pages
        for p in pages:
            assert p.status in ("SUCCESS", "ERROR")
            assert p.content_length == len(p.markdown)

    @settings(max_examples=60, deadline=None)
    @given(st.integers(10, 2000), st.integers(0, 7))
    def test_truncations_contained(self, cut, doc_id):
        payload = render_pdf_real(doc_id, TEXT)[: cut % 2000 + 10]
        pages = extract_document(payload, None)
        for p in pages:
            assert p.status in ("SUCCESS", "ERROR")

    @settings(max_examples=40, deadline=None)
    @given(st.binary(min_size=0, max_size=600))
    def test_pdf_magic_plus_garbage_contained(self, junk):
        pages = extract_document(b"%PDF-1.4\n" + junk, None)
        for p in pages:
            assert p.status in ("SUCCESS", "ERROR")

    def test_deflate_bomb_bounded(self):
        # 1 GB of zeros deflates to ~1 MB; the stream budget must stop it
        bomb = zlib.compress(b"\x00" * (96 * 1024 * 1024), 9)
        pdf = (
            b"%PDF-1.4\n"
            b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
            b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
            b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
            b"4 0 obj\n<< /Length "
            + str(len(bomb)).encode()
            + b" /Filter /FlateDecode >>\nstream\n"
            + bomb
            + b"\nendstream\nendobj\n"
        )
        p = extract_document(pdf, None)[0]
        assert p.status == "ERROR"

    def test_object_loop_bounded(self):
        # Pages tree that references itself — the cycle guard must hold
        pdf = (
            b"%PDF-1.4\n"
            b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
            b"2 0 obj\n<< /Type /Pages /Kids [2 0 R] /Count 1 >>\nendobj\n"
        )
        p = extract_document(pdf, None)[0]
        assert p.status == "ERROR"


# --------------------------------------------------------------------------
# binary guard + sniffing


class TestBinaryGuard:
    def test_image_magics_error(self):
        for payload, kind in [
            (b"\x89PNG\r\n\x1a\n" + b"\x00" * 64, "png"),
            (b"\xff\xd8\xff\xe0" + b"\x00" * 64, "jpeg"),
            (b"GIF89a" + b"\x00" * 64, "gif"),
            (b"\x00\x00\x00\x18ftypheic" + b"\x00" * 64, "heic"),
        ]:
            r = extract_document(payload, None)[0]
            assert r.status == "ERROR" and kind in (r.error or ""), kind

    def test_nonimage_binary_error(self):
        for payload in [
            b"\x7fELF\x02\x01\x01" + b"\x00" * 64,  # elf
            b"OggS\x00\x02" + b"\x00" * 64,  # ogg
            b"\x28\xb5\x2f\xfd" + b"\x00" * 64,  # zstd
        ]:
            r = extract_document(payload, None)[0]
            assert r.status == "ERROR"
            assert "binary/media payload" in (r.error or "")

    def test_gzip_payloads_transparently_decompress(self):
        import gzip

        html = (
            b"<html><body><h1>Compressed Doc</h1><p>Some honest paragraph"
            b" text lives here for the test.</p></body></html>"
        )
        r = extract_document(gzip.compress(html), None)[0]
        assert r.status == "SUCCESS"
        assert r.markdown.startswith("# Compressed Doc")
        # a gzip'd real PDF round-trips byte-exactly too
        got = [
            (p.page_no, p.markdown)
            for p in extract_document(
                gzip.compress(render_pdf_real(2, TEXT)), None
            )
        ]
        assert got == expected_pdf_real_pages(2, TEXT)
        # nested gzip (bomb shape) and corrupt members are contained
        r = extract_document(gzip.compress(gzip.compress(html)), None)[0]
        assert r.status == "ERROR" and "nested gzip" in (r.error or "")
        r = extract_document(b"\x1f\x8b\x08\x00" + b"\x00" * 64, None)[0]
        assert r.status == "ERROR" and "gzip" in (r.error or "")

    def test_magicless_high_entropy_error(self):
        import hashlib

        payload = b"\x01\x02" + hashlib.sha256(b"x").digest() * 8
        r = extract_document(payload, None)[0]
        assert r.status == "ERROR" and "unprintable" in (r.error or "")

    def test_prose_lookalikes_stay_text(self):
        for text in [
            b"BMW is a car maker known for good engineering and value.",
            b"OTTO lives in Hamburg and sells many household products.",
            b"ID3 tags are metadata containers used inside mp3 files ok.",
            b"MZ was a famous label on some very old vinyl records too.",
        ]:
            assert sniff_binary(text) is None
            r = extract_document(text, None)[0]
            assert r.status == "SUCCESS", text

    def test_ftyp_brands(self):
        assert sniff_kind(b"\x00\x00\x00\x18ftypheic" + b"\x00" * 8) == "heic"
        assert sniff_kind(b"\x00\x00\x00\x1cftypavif" + b"\x00" * 8) == "avif"
        assert sniff_kind(b"\x00\x00\x00\x20ftypisom" + b"\x00" * 8) == "mp4"
        assert sniff_kind(b"\x00\x00\x00\x14ftypqt  " + b"\x00" * 8) == "mov"

    def test_webp_vs_riff(self):
        assert sniff_kind(b"RIFF\x00\x00\x00\x00WEBPVP8 ") == "webp"
        assert sniff_kind(b"RIFF\x00\x00\x00\x00WAVEfmt ") == "riff"

    def test_sniff_delimiter_rejects_binary(self):
        # comma-bearing bytes with control chars must not be a table
        assert sniff_delimiter("a,b,c\n\x01x,y,z\nq,w,e\n") is None
        # and cells with no alphanumerics at all must not qualify
        assert sniff_delimiter("~,!,@\n#,$,%\n^,&,*\n") is None
        # real tables still sniff
        assert sniff_delimiter("a,b,c\n1,2,3\n4,5,6\n") == ","
        assert sniff_delimiter("a\tb\n1\t2\n") == "\t"

    def test_multi_member_gzip_concatenates(self):
        import gzip

        h1 = b"<html><body><p>First member paragraph with enough words.</p>"
        h2 = b"<p>Second member continues the document.</p></body></html>"
        r = extract_document(gzip.compress(h1) + gzip.compress(h2), None)[0]
        assert r.status == "SUCCESS"
        assert "First member" in r.markdown and "Second member" in r.markdown
        # corrupt later member: what decoded survives (WARC-style tolerance)
        bad = gzip.compress(h1 + b"</body></html>") + b"\x1f\x8b\x08\x00"
        r = extract_document(bad, None)[0]
        assert r.status == "SUCCESS" and "First member" in r.markdown

    def test_bz2_and_xz_payloads_decompress(self):
        import bz2
        import lzma

        html = (
            b"<html><body><p>Compressed dump paragraph with plenty of"
            b" words to extract here.</p></body></html>"
        )
        for blob in (bz2.compress(html), lzma.compress(html)):
            r = extract_document(blob, None)[0]
            assert r.status == "SUCCESS"
            assert "Compressed dump paragraph" in r.markdown
        # multi-stream bz2 (pbzip2 shape) concatenates
        multi = bz2.compress(html) + bz2.compress(b"<p>tail words</p>")
        r = extract_document(multi, None)[0]
        assert r.status == "SUCCESS"

    def test_compression_nesting_bounded(self):
        import bz2
        import gzip

        html = b"<p>deeply wrapped content paragraph</p>"
        # ONE cross-scheme layer is legitimate (bz2 dump of gzip bodies)…
        r = extract_document(bz2.compress(gzip.compress(html)), None)[0]
        assert r.status == "SUCCESS"
        r = extract_document(gzip.compress(bz2.compress(html)), None)[0]
        assert r.status == "SUCCESS"
        # …a third hop trips the dispatch depth guard
        deep = gzip.compress(bz2.compress(gzip.compress(html)))
        r = extract_document(deep, None)[0]
        assert r.status == "ERROR"
        assert "nesting too deep" in (r.error or "")
        # same-scheme-in-scheme is the bomb shape, rejected per scheme
        r = extract_document(bz2.compress(bz2.compress(html)), None)[0]
        assert r.status == "ERROR" and "nested bzip2" in (r.error or "")

    def test_member_cap_is_loud(self):
        import gzip

        many = b"".join(
            gzip.compress(b"<p>m%d</p>" % i) for i in range(70)
        )
        r = extract_document(many, None)[0]
        assert r.status == "ERROR"
        assert "member cap" in (r.error or "")

    def test_wpd_and_cfb_still_route_before_guard(self):
        # magic-bearing formats with real extractors keep their branch
        r = extract_document(b"\xd0\xcf\x11\xe0" + b"\x00" * 64, None)[0]
        assert r.status == "ERROR"  # corrupt CFB → CFB error, not "binary"
        assert "binary" not in (r.error or "")


class TestXYCut:
    def test_two_column_reading_order(self):
        # two columns of text, right column must follow the whole left one
        # offset line grids (real columns rarely share exact baselines;
        # sharing them one-for-one reads as an aligned TABLE and stays
        # row-ordered by design — see test_aligned_table_stays_row_major)
        left = [
            f"BT /F1 11 Tf 72 {700 - 14 * i} Td (left{i} words here) Tj ET"
            for i in range(12)
        ]
        right = [
            f"BT /F1 11 Tf 330 {693 - 14 * i} Td (right{i} words here) Tj ET"
            for i in range(12)
        ]
        pdf = _one_page_pdf("\n".join(left + right))
        pages = parse_real_pdf(pdf)
        texts = [l.text for l in sorted(
            pages[0].lines, key=lambda l: (l.region, -l.y, l.x)
        )]
        assert texts[:12] == [f"left{i} words here" for i in range(12)]
        assert texts[12:] == [f"right{i} words here" for i in range(12)]
        md = extract_document(pdf, None)[0].markdown
        assert md.index("left11") < md.index("right0")

    def test_spanning_title_leads(self):
        # a full-width title above two columns: title first, then left col
        body = ["BT /F1 18 Tf 100 750 Td (The Grand Spanning Title) Tj ET"]
        for i in range(10):
            body.append(
                f"BT /F1 11 Tf 72 {690 - 14 * i} Td (lcol{i} text text) Tj ET"
            )
            body.append(
                f"BT /F1 11 Tf 330 {683 - 14 * i} Td (rcol{i} text text) Tj ET"
            )
        md = extract_document(_one_page_pdf("\n".join(body)), None)[0].markdown
        assert md.index("Grand Spanning Title") < md.index("lcol0")
        assert md.index("lcol9") < md.index("rcol0")

    def test_aligned_table_stays_row_major(self):
        # label/value rows SHARING baselines across a wide gap are a table:
        # reading order must stay row-wise (label then value per line)
        rows = []
        for i in range(8):
            y = 700 - 16 * i
            rows.append(f"BT /F1 11 Tf 72 {y} Td (label{i} of row) Tj ET")
            rows.append(f"BT /F1 11 Tf 400 {y} Td (value{i}) Tj ET")
        md = extract_document(_one_page_pdf("\n".join(rows)), None)[0].markdown
        assert md.index("label0") < md.index("value0") < md.index("label1")

    def test_single_column_order_unchanged(self):
        body = [
            f"BT /F1 11 Tf 72 {700 - 14 * i} Td (line{i} of plain prose) Tj ET"
            for i in range(10)
        ]
        pages = parse_real_pdf(_one_page_pdf("\n".join(body)))
        assert [l.text for l in pages[0].lines] == [
            f"line{i} of plain prose" for i in range(10)
        ]

    def test_adversarial_run_count_bounded(self):
        # one-glyph-per-run floods must not send layout analysis quadratic:
        # above _XY_MAX_RUNS the page skips XY-cut and still extracts
        import time

        ops = [
            f"BT /F1 9 Tf {40 + (i * 7) % 520} {40 + (i * 13) % 700} Td (g) Tj ET"
            for i in range(24000)
        ]
        t0 = time.perf_counter()
        p = extract_document(_one_page_pdf("\n".join(ops)), None)[0]
        assert p.status == "SUCCESS"
        assert time.perf_counter() - t0 < 20  # generous CI bound




# --------------------------------------------------------------------------
# committed adversarial fixtures (VERDICT r4 #6): FROZEN bytes on disk —
# unlike the synth round-trips, these catch parser regressions even if the
# synth renderers drift in the same direction. Expected text is hard-coded
# here, independent of the synth helpers that produced the bytes.

_FIXTURE_TEXT = " ".join(f"word{i:02d}" for i in range(30))
_FIXTURE_DIR = __import__("pathlib").Path(__file__).parent / "fixtures"


class TestCommittedCryptFixtures:
    @pytest.mark.parametrize(
        "name,doc_id",
        [("crypt_rc4.pdf", 40), ("crypt_aesv2.pdf", 41),
         ("crypt_aesv3.pdf", 42)],
    )
    def test_encrypted_fixture_floor(self, name, doc_id):
        data = (_FIXTURE_DIR / name).read_bytes()
        pages = extract_document(data, None)
        assert [p.status for p in pages] == ["SUCCESS", "SUCCESS"]
        md1, md2 = pages[0].markdown, pages[1].markdown
        assert md1.startswith(f"# Document {doc_id}\n\n")
        assert _FIXTURE_TEXT in md1
        assert "<page_number>1</page_number>" in md1
        assert md2.startswith(f"## Section {doc_id}\n\n")
        assert " ".join(_FIXTURE_TEXT.split()[:10]) in md2

    def test_form_fixture_floor(self):
        data = (_FIXTURE_DIR / "form_filled.pdf").read_bytes()
        p = extract_document(data, None)[0]
        assert p.status == "SUCCESS"
        assert p.markdown == (
            "# Form 43\n\nApplicant 43\n\nRef 301\n\nNote 29\n\n☑"
        )

    def test_cjk_fixture_floor(self):
        data = (_FIXTURE_DIR / "cjk_ucs2.pdf").read_bytes()
        p = extract_document(data, None)[0]
        assert p.status == "SUCCESS"
        assert p.markdown == "# 文档 44\n\n中文内容 第2节 测试"

    def test_encrypted_form_fixture_floor(self):
        # AES-128 encryption × AcroForm: string values (/V, /Contents,
        # /DA) decrypt with their owning object's key
        data = (_FIXTURE_DIR / "form_encrypted_aesv2.pdf").read_bytes()
        p = extract_document(data, None)[0]
        assert p.status == "SUCCESS"
        assert p.markdown == (
            "# Form 45\n\nApplicant 45\n\nRef 315\n\nNote 35\n\n☑"
        )


# --------------------------------------------------------------------------
# BDC operand-starved marked-content balance


def _one_page(content: bytes) -> bytes:
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
        3: (
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
            b" /Encoding /WinAnsiEncoding >>"
        ),
        4: (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
            b" /Resources << /Font << /F1 3 0 R >> >> /Contents 5 0 R >>"
        ),
        5: (
            b"<< /Length %d >>\nstream\n" % len(content)
            + content
            + b"\nendstream"
        ),
    }
    return _assemble_pdf(objs)


def test_bare_bdc_keeps_actualtext_frame_balanced():
    # the bare (operand-less) BDC must push a frame: its matching EMC then
    # pops THAT frame, and the outer /ActualText span still covers every
    # run painted inside it — including the one after the inner EMC
    c = (
        b"BT /F1 12 Tf 72 700 Td"
        b" /Span << /ActualText (GOOD) >> BDC"
        b" (bad1) Tj BDC (bad2) Tj EMC (bad3) Tj EMC ET"
    )
    assert real_pdf_to_pages(_one_page(c))[0][1] == "GOOD"


def test_bare_bdc_unmatched_emc_still_contained():
    # nesting desync the other way: more EMC than frames — must not raise
    c = b"BT /F1 12 Tf 72 700 Td (keep) Tj EMC EMC ET"
    assert real_pdf_to_pages(_one_page(c))[0][1] == "keep"


# --------------------------------------------------------------------------
# single-stream XFA without a datasets packet


def test_xfa_without_datasets_emits_no_field_lines():
    ops = b"BT /F1 20 Tf 72 720 Td (XForm 9) Tj ET"
    comp = zlib.compress(ops)
    xdp = (
        b"<xdp:xdp xmlns:xdp='http://ns.adobe.com/xdp/'>"
        b"<template><subform><field name='f1'>"
        b"<caption><text>Click here</text></caption>"
        b"</field></subform></template>"
        b"<config><present><pdf><fontInfo><typeface>Myriad Pro"
        b"</typeface></fontInfo></pdf></present></config>"
        b"</xdp:xdp>"
    )
    objs = {
        1: (
            b"<< /Type /Catalog /Pages 2 0 R"
            b" /AcroForm << /Fields [] /XFA 6 0 R >> >>"
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
            b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(comp)
            + comp
            + b"\nendstream"
        ),
        6: (
            b"<< /Length %d >>\nstream\n" % len(xdp) + xdp + b"\nendstream"
        ),
    }
    pages = real_pdf_to_pages(_assemble_pdf(objs))
    assert pages and "XForm 9" in pages[0][1]
    md = "\n".join(p[1] for p in pages)
    # the template caption and config strings must NOT surface as values
    assert "Click here" not in md
    assert "Myriad" not in md
