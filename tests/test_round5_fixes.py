"""Round-5 features and fixes, pinned:

- pure-Python AES (FIPS-197 known answers, CBC semantics, bulk-decrypt
  parity, ISO 32000 padding tolerance) and RC4 known answers (the synth
  fixtures reuse the parser's RC4 — a broken implementation must fail
  HERE, not cancel out across the two sides)
- encrypted-PDF round trips: RC4 /V2, /AESV2, /AESV3 (R6 hash), wrong
  user password rejected, empty OWNER password fallback, /Perms check
- AcroForm widget harvest: appearance streams, /V fallback, FreeText,
  checkbox states, hidden-flag skip
- predefined CJK CMaps: UniGB-UCS2-H identity, GBK-EUC-H codec decode
- damaged-PDF salvage: mid-corpus truncation, destroyed catalog (orphan
  pages), mid-stream flate truncation (keep-what-decoded)
- compressed payloads pass the size cap whole (ADVICE r4) + bit-flip fuzz
  over gzip members (VERDICT r4 #7)
- ObjStm vs direct object precedence by file offset (ADVICE r4)
"""

from __future__ import annotations

import gzip
import zlib

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from zerox_spark.extract import aes
from zerox_spark.extract.core import ExtractConfig, extract_document
from zerox_spark.extract.pdf import (
    Document,
    Name,
    Stream,
    _rc4,
    real_pdf_to_pages,
)
from zerox_spark.synth import (
    _assemble_pdf,
    _pdf_content_v0,
    _pdf_hex_2byte,
    _pdf_real_layout,
    expected_pdf_cjk_page,
    expected_pdf_form_page,
    expected_pdf_real_pages,
    render_pdf_cjk,
    render_pdf_crypt,
    render_pdf_encrypted,
    render_pdf_form,
    render_pdf_real,
)

TEXT = " ".join(
    ("alpha bravo charlie delta echo foxtrot golf hotel india juliet " * 4)
    .split()[:35]
)


def _success_pages(payload: bytes):
    return [
        (p.page_no, p.markdown)
        for p in extract_document(payload, None)
        if p.status == "SUCCESS"
    ]


# --------------------------------------------------------------------------
# AES / RC4 primitives


class TestAesPrimitives:
    def test_fips197_appendix_c_vectors(self):
        pt = bytes.fromhex("00112233445566778899aabbccddeeff")
        cases = [
            ("000102030405060708090a0b0c0d0e0f",
             "69c4e0d86a7b0430d8cdb78070b4c55a"),
            ("000102030405060708090a0b0c0d0e0f1011121314151617",
             "dda97ca4864cdfe06eaf70a0ec0d7191"),
            ("000102030405060708090a0b0c0d0e0f"
             "101112131415161718191a1b1c1d1e1f",
             "8ea2b7ca516745bfeafc49904b496089"),
        ]
        for key_hex, ct_hex in cases:
            rk = aes.expand_key(bytes.fromhex(key_hex))
            ct = aes.encrypt_block(rk, pt)
            assert ct.hex() == ct_hex
            assert aes.decrypt_block(rk, ct) == pt

    @pytest.mark.parametrize("n", [0, 1, 15, 16, 17, 64, 257, 4096])
    def test_cbc_roundtrip_all_block_shapes(self, n):
        # n < 64 exercises the scalar path, n >= 64 the numpy bulk path
        key, iv = bytes(range(16)), bytes(range(16, 32))
        data = bytes((i * 7 + 3) % 256 for i in range(n))
        assert aes.cbc_decrypt(key, iv, aes.cbc_encrypt(key, iv, data)) == data

    def test_cbc_decrypt_scalar_equals_bulk(self):
        key, iv = b"k" * 32, b"i" * 16
        data = bytes(range(256)) * 2
        enc = aes.cbc_encrypt(key, iv, data)
        bulk = aes.cbc_decrypt(key, iv, enc)
        # force the scalar path by decrypting block-by-block
        rk = aes.expand_key(key)
        prev, scalar = iv, b""
        for i in range(0, len(enc), 16):
            blk = enc[i : i + 16]
            scalar += bytes(
                a ^ b for a, b in zip(aes.decrypt_block(rk, blk), prev)
            )
            prev = blk
        pad = scalar[-1]
        assert scalar[:-pad] == bulk == data

    def test_cbc_decrypt_tolerates_ragged_tail_and_bad_padding(self):
        key, iv = b"0" * 16, b"1" * 16
        enc = aes.cbc_encrypt(key, iv, b"payload")
        # ragged tail: fragment dropped, whole blocks decrypt
        assert aes.cbc_decrypt(key, iv, enc + b"xyz") == b"payload"
        assert aes.cbc_decrypt(key, iv, b"short") == b""
        # nopad mode leaves everything
        raw = aes.cbc_decrypt(key, iv, enc, unpad=False)
        assert raw[: len(b"payload")] == b"payload" and len(raw) == 16

    def test_bad_key_length_rejected(self):
        with pytest.raises(ValueError):
            aes.expand_key(b"tooshort")

    def test_rc4_known_answers(self):
        # classic public vectors (Wikipedia / RFC 6229 style)
        assert _rc4(b"Key", b"Plaintext").hex() == "bbf316e8d940af0ad3"
        assert _rc4(b"Wiki", b"pedia").hex() == "1021bf0420"
        assert _rc4(b"Secret", b"Attack at dawn").hex() == (
            "45a01f645fc35b383552544b9bf5"
        )

    def test_hash_r6_deterministic_and_salt_sensitive(self):
        a = aes.hash_r6(b"", b"saltsalt", b"")
        assert a == aes.hash_r6(b"", b"saltsalt", b"") and len(a) == 32
        assert a != aes.hash_r6(b"", b"other-s8", b"")
        assert a != aes.hash_r6(b"", b"saltsalt", b"u" * 48)


# --------------------------------------------------------------------------
# encrypted PDFs


class TestEncryptedPdfRoundtrip:
    @pytest.mark.parametrize("mode", ["rc4", "aesv2", "aesv3"])
    def test_empty_password_roundtrip(self, mode):
        pdf = render_pdf_encrypted(7, TEXT, mode)
        assert _success_pages(pdf) == expected_pdf_real_pages(7, TEXT, figure=False)

    def test_aesv2_stream_decrypts_byte_exactly(self):
        # the decrypted+inflated first content stream must equal the
        # plaintext content generator's bytes exactly
        pdf = render_pdf_encrypted(3, TEXT, "aesv2")
        doc = Document(pdf)
        page = doc.pages()[0]
        st_ = doc.resolve(page.get(Name("Contents")))
        assert isinstance(st_, Stream)
        height, lines = _pdf_real_layout(3, TEXT)[0]
        assert doc.stream_bytes(st_) == _pdf_content_v0(lines)

    def test_v5_wrong_user_password_contained(self):
        pdf = render_pdf_encrypted(2, TEXT, "aesv3")
        doc = Document(pdf)  # pull the real /U out of the valid fixture
        # find the /U hex in the raw bytes and corrupt its validation hash
        import re as _re

        m = _re.search(rb"/U <([0-9a-f]{96})>", pdf)
        assert m
        bad_u = b"00" * 8 + m.group(1)[16:]
        broken = pdf.replace(m.group(1), bad_u)
        p = extract_document(broken, None)[0]
        assert p.status == "ERROR"
        assert "user password" in (p.error or "")
        assert doc is not None

    def test_v5_empty_owner_password_fallback(self):
        # a fixture whose /U validation hash is wrong but whose /O was
        # computed over that same /U: the empty-OWNER-password path must
        # unwrap the file key from /OE (Algorithm 12)
        import zerox_spark.synth as synth

        fk = bytes(range(32))
        uv, uk = b"uvuvuvuv", b"ukukukuk"
        ov, ok_ = b"ovovovov", b"okokokok"
        u = b"\x00" * 32 + uv + uk  # user validation can never pass
        ue = aes.cbc_encrypt_nopad(
            aes.hash_r6(b"", uk, b""), b"\x00" * 16, fk
        )
        o = aes.hash_r6(b"", ov, u[:48]) + ov + ok_
        oe = aes.cbc_encrypt_nopad(
            aes.hash_r6(b"", ok_, u[:48]), b"\x00" * 16, fk
        )
        perms_plain = (
            (synth._CRYPT_P & 0xFFFFFFFF).to_bytes(4, "little")
            + b"\xff\xff\xff\xffTadbzx5\x00"
        )
        perms = aes.ecb_encrypt_block(fk, perms_plain)
        saved = synth._V5_CACHE
        synth._V5_CACHE = (fk, u, ue, o, oe, perms)
        try:
            pdf = render_pdf_encrypted(12, TEXT, "aesv3")
        finally:
            synth._V5_CACHE = saved
        assert _success_pages(pdf) == expected_pdf_real_pages(12, TEXT, figure=False)

    def test_v5_perms_tamper_contained(self):
        pdf = render_pdf_encrypted(2, TEXT, "aesv3")
        import re as _re

        m = _re.search(rb"/Perms <([0-9a-f]{32})>", pdf)
        assert m
        broken = pdf.replace(m.group(1), b"00" * 16)
        p = extract_document(broken, None)[0]
        assert p.status == "ERROR"
        assert "Perms" in (p.error or "")

    def test_crypt_family_dispatch(self):
        from zerox_spark.synth import (
            expected_pdf_accent_page,
            expected_pdf_xfa_page,
        )

        for doc_id in range(8):
            got = _success_pages(render_pdf_crypt(doc_id, TEXT))
            v = doc_id % 8
            if v in (0, 1, 2):
                assert got == expected_pdf_real_pages(doc_id, TEXT, figure=False)
            elif v == 3:
                assert got == [(1, expected_pdf_form_page(doc_id))]
            elif v == 4:
                assert got == [(1, expected_pdf_cjk_page(doc_id))]
            elif v == 5:
                assert got == [(1, expected_pdf_accent_page(doc_id, "cff"))]
            elif v == 6:
                assert got == [(1, expected_pdf_accent_page(doc_id, "post"))]
            else:
                assert got == [(1, expected_pdf_xfa_page(doc_id))]


# --------------------------------------------------------------------------
# AcroForm / annotations


class TestAcroForm:
    def test_filled_form_all_four_paths(self):
        assert _success_pages(render_pdf_form(3, TEXT)) == [
            (1, expected_pdf_form_page(3))
        ]

    def test_hidden_annotation_skipped(self):
        pdf = render_pdf_form(3, TEXT).replace(
            b"/Subtype /FreeText", b"/Subtype /FreeText /F 2"
        )
        md = _success_pages(pdf)[0][1]
        assert "Note" not in md and "Applicant 3" in md

    def test_unchecked_checkbox(self):
        pdf = render_pdf_form(3, TEXT).replace(
            b"/V /Yes /AS /Yes", b"/V /Off /AS /Off"
        )
        md = _success_pages(pdf)[0][1]
        assert md.endswith("☐") and "☑" not in md

    @pytest.mark.parametrize("mode", ["rc4", "aesv2", "aesv3"])
    def test_encrypted_form_strings_decrypt(self, mode):
        # §7.6.2 encrypts STRINGS too: /V, FreeText /Contents, and /DA in
        # an encrypted form must decrypt with their owning object's key —
        # without string decryption, streams alone would garble the values
        from zerox_spark.synth import render_pdf_form_encrypted

        pdf = render_pdf_form_encrypted(8, TEXT, mode)
        assert _success_pages(pdf) == [(1, expected_pdf_form_page(8))]


# --------------------------------------------------------------------------
# predefined CJK CMaps


class TestCjkCmaps:
    def test_ucs2_identity_cmap(self):
        assert _success_pages(render_pdf_cjk(9, TEXT)) == [
            (1, expected_pdf_cjk_page(9))
        ]

    def test_gbk_codec_cmap(self):
        # GBK-EUC-H: the string bytes ARE GBK — mixed 1-/2-byte codes
        txt = "中文abc测试"
        hexs = "<" + txt.encode("gbk").hex() + ">"
        content = f"BT /F1 14 Tf 72 700 Td {hexs} Tj ET".encode()
        objs = {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
            3: (
                b"<< /Type /Font /Subtype /Type0 /BaseFont /SynthGBK"
                b" /Encoding /GBK-EUC-H /DescendantFonts [6 0 R] >>"
            ),
            4: (
                b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
                b" /Resources << /Font << /F1 3 0 R >> >>"
                b" /Contents 5 0 R >>"
            ),
            5: (
                f"<< /Length {len(content)} >>\nstream\n".encode()
                + content
                + b"\nendstream"
            ),
            6: (
                b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont"
                b" /SynthGBK /DW 1000 >>"
            ),
        }
        pages = real_pdf_to_pages(_assemble_pdf(objs))
        assert len(pages) == 1 and txt in pages[0][1]

    def test_ucs2_cmap_without_tounicode_in_hexstring(self):
        # direct parser-level check: 2-byte hex of BMP chars decodes by
        # identity under UniJIS-UCS2-H too
        txt = "日本語 text"
        content = (
            f"BT /F1 12 Tf 72 700 Td {_pdf_hex_2byte(txt)} Tj ET".encode()
        )
        objs = {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
            3: (
                b"<< /Type /Font /Subtype /Type0 /BaseFont /SynthJIS"
                b" /Encoding /UniJIS-UCS2-H /DescendantFonts [6 0 R] >>"
            ),
            4: (
                b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
                b" /Resources << /Font << /F1 3 0 R >> >>"
                b" /Contents 5 0 R >>"
            ),
            5: (
                f"<< /Length {len(content)} >>\nstream\n".encode()
                + content
                + b"\nendstream"
            ),
            6: b"<< /Type /Font /Subtype /CIDFontType2 /DW 1000 >>",
        }
        pages = real_pdf_to_pages(_assemble_pdf(objs))
        assert len(pages) == 1 and txt in pages[0][1]


# --------------------------------------------------------------------------
# damaged-PDF salvage


class TestDamagedPdfSalvage:
    def test_truncation_keeps_surviving_pages(self):
        pdf = render_pdf_real(1, TEXT)
        # cut just before page 2's content object (obj 7): page 1 survives
        cut = pdf[: pdf.index(b"7 0 obj")]
        got = _success_pages(cut)
        assert got and got[0] == expected_pdf_real_pages(1, TEXT)[0]

    def test_destroyed_catalog_salvages_orphan_pages(self):
        pdf = render_pdf_real(1, TEXT)
        broken = pdf.replace(
            b"<< /Type /Catalog /Pages 2 0 R >>", b"<< /Damaged true >>"
        ).replace(
            b"<< /Type /Pages /Kids", b"<< /Type /Damaged /Kids"
        )
        assert _success_pages(broken) == expected_pdf_real_pages(1, TEXT)

    def test_midstream_flate_truncation_keeps_prefix(self):
        # variant 1 compresses its content; cutting INSIDE the final
        # stream keeps the decodable prefix instead of dropping the page
        pdf = render_pdf_real(1, TEXT)
        tail_stream = pdf.rindex(b"stream\n")
        cut = pdf[: tail_stream + 200]
        got = _success_pages(cut)
        assert got and got[0] == expected_pdf_real_pages(1, TEXT)[0]

    def test_reference_pdf_prefix_truncation_never_garbage(self):
        import pathlib

        src = pathlib.Path("/root/reference/shared/inputs/0004.pdf")
        if not src.exists():
            pytest.skip("reference corpus not mounted")
        data = src.read_bytes()
        full_words = set()
        for _, md, _ in real_pdf_to_pages(data):
            full_words.update(md.split())
        for frac in (0.9, 0.75, 0.6):
            cut = data[: int(len(data) * frac)]
            try:
                pages = real_pdf_to_pages(cut)
            except Exception:
                continue  # contained whole-document error is acceptable
            assert pages
            # salvaged text must come from the real document — never
            # mojibake/garbage. Partial pages reflow (table regions regroup
            # when neighbor runs are missing, so intra-line spacing can
            # shift), hence a ratio bound instead of exact containment.
            for _, md, _ in pages:
                salvaged = [
                    w for w in md.split() if not w.startswith("<page_number>")
                ]
                hits = sum(1 for w in salvaged if w in full_words)
                assert salvaged and hits / len(salvaged) >= 0.9, (
                    hits,
                    len(salvaged),
                )


# --------------------------------------------------------------------------
# compressed payloads: cap pass-through + member fuzz


class TestCompressedPayloads:
    @staticmethod
    def _low_compress_html() -> bytes:
        # hex-word body: compresses < 2x, so the 4x output budget relative
        # to the cap is not the limiting factor in these tests
        import hashlib

        paras = "".join(
            f"<p>{hashlib.sha256(str(i).encode()).hexdigest()}</p>"
            for i in range(600)
        )
        return b"<html><body>" + paras.encode() + b"</body></html>"

    def test_oversized_gzip_passes_cap_whole(self):
        # ADVICE r4: an oversized gzip body must NOT be byte-truncated
        # before decompression (that corrupts the stream); it reaches the
        # bounded decompressor whole and the INNER html is capped instead
        body = self._low_compress_html()
        gz = gzip.compress(body, 9)
        cfg = ExtractConfig(max_payload_bytes=len(gz) - 1)
        pages = extract_document(gz, None, cfg)
        assert pages[0].status == "SUCCESS"
        # the INNER html is capped at a tag boundary instead — the leading
        # paragraphs survive (pre-fix this was a whole-document ERROR)
        import hashlib

        assert hashlib.sha256(b"0").hexdigest() in pages[0].markdown

    def test_oversized_bzip2_passes_cap_whole(self):
        import bz2

        bz = bz2.compress(self._low_compress_html(), 9)
        cfg = ExtractConfig(max_payload_bytes=len(bz) - 1)
        pages = extract_document(bz, None, cfg)
        assert pages[0].status == "SUCCESS"

    @settings(
        max_examples=60,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(pos=st.integers(min_value=0, max_value=10_000), bit=st.integers(0, 7))
    def test_gzip_member_bitflip_contained(self, pos, bit):
        # VERDICT r4 #7: bit-flip anywhere in a two-member gzip payload →
        # full decode, keep-what-decoded truncation, or a contained
        # ValueError — never an uncontained exception or a hang
        from zerox_spark.extract.core import _unwrap_payload

        m1 = gzip.compress(b"<p>first member body</p>" * 20)
        m2 = gzip.compress(b"<p>second member body</p>" * 20)
        payload = bytearray(m1 + m2)
        payload[pos % len(payload)] ^= 1 << bit
        cfg = ExtractConfig()
        try:
            out = _unwrap_payload("gzip", bytes(payload), cfg)
        except ValueError:
            return  # contained
        assert isinstance(out, bytes) and out

    def test_first_member_corrupt_boundary(self):
        # VERDICT r4 #7 boundary: a corrupt FIRST member keeps its decoded
        # output IF any chunk materialized before the error (output spans
        # multiple 1 MB inflate chunks), and raises when nothing did
        from zerox_spark.extract.core import _unwrap_payload

        big = bytearray(gzip.compress(b"A" * 3_000_000))
        big[-5] ^= 0xFF  # CRC fails AFTER ~2 chunks appended → keep
        out = _unwrap_payload("gzip", bytes(big), ExtractConfig())
        assert out.startswith(b"AAAA") and len(out) >= 1 << 20
        small = bytearray(gzip.compress(b"A" * 1000))
        small[-5] ^= 0xFF  # whole member decodes in one call → CRC error
        with pytest.raises(ValueError):  # before any chunk appended
            _unwrap_payload("gzip", bytes(small), ExtractConfig())

    def test_zero_output_corrupt_gzip_raises(self):
        from zerox_spark.extract.core import _unwrap_payload

        junk = b"\x1f\x8b" + b"\x00" * 64
        with pytest.raises(ValueError):
            _unwrap_payload("gzip", junk, ExtractConfig())


# --------------------------------------------------------------------------
# ObjStm precedence by file offset


class TestObjStmPrecedence:
    @staticmethod
    def _objstm_bytes(objnum: int, literal: bytes) -> bytes:
        header = f"{objnum} 0 ".encode()
        body = header + literal
        return (
            f"<< /Type /ObjStm /N 1 /First {len(header)}"
            f" /Length {len(body)} >>\nstream\n".encode()
            + body
            + b"\nendstream"
        )

    def test_later_objstm_overrides_earlier_direct(self):
        raw = (
            b"%PDF-1.5\n"
            b"5 0 obj\n(AAA)\nendobj\n"
            b"6 0 obj\n" + self._objstm_bytes(5, b"(BBB)") + b"\nendobj\n"
        )
        assert Document(raw).objects[5] == b"BBB"

    def test_later_direct_overrides_earlier_objstm(self):
        raw = (
            b"%PDF-1.5\n"
            b"6 0 obj\n" + self._objstm_bytes(5, b"(BBB)") + b"\nendobj\n"
            b"5 0 obj\n(AAA)\nendobj\n"
        )
        assert Document(raw).objects[5] == b"AAA"


# --------------------------------------------------------------------------
# security-handler edge shapes (mixed crypt filters, R5, EncryptMetadata)


class TestSecurityHandlerEdges:
    def test_mixed_stmf_identity_strf_aes(self):
        # /StmF Identity + /StrF StdCF: streams are PLAIN, strings are
        # AES-encrypted — each side must use its own filter mode
        import zerox_spark.synth as synth

        fk, encdict, first_id = synth._crypt_material("aesv2", 21)
        encdict = encdict.replace(b"/StmF /StdCF", b"/StmF /Identity")
        val = "OnlyStringsEncrypted 21"
        enc_v = synth._encrypt_stream_payload(
            val.encode("latin-1"), 6, "aesv2", fk, 21
        )
        content = b"BT /F1 20 Tf 72 720 Td (Heading 21) Tj ET"  # plain
        objs = {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
            3: (
                b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
                b" /Encoding /WinAnsiEncoding >>"
            ),
            4: (
                b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
                b" /Resources << /Font << /F1 3 0 R >> >>"
                b" /Contents 5 0 R /Annots [6 0 R] >>"
            ),
            5: (
                f"<< /Length {len(content)} >>\nstream\n".encode()
                + content
                + b"\nendstream"
            ),
            6: (
                b"<< /Type /Annot /Subtype /Widget /FT /Tx"
                b" /V <" + enc_v.hex().encode() + b">"
                b" /Rect [72 640 300 660] >>"
            ),
            99: encdict,
        }
        idhex = first_id.hex().encode()
        pdf = synth._assemble_pdf(
            objs, b"/Encrypt 99 0 R /ID [<%s> <%s>] " % (idhex, idhex)
        )
        md = _success_pages(pdf)[0][1]
        assert "Heading 21" in md and val in md

    def test_v5_r5_plain_sha256_validation(self):
        # the deprecated-but-seen /R 5 shape: validation and key hashes
        # are single SHA-256 passes, not Algorithm 2.B
        import hashlib

        import zerox_spark.synth as synth

        fk = bytes(range(32))
        uv, uk = b"r5uvsalt", b"r5uksalt"
        ov, ok_ = b"r5ovsalt", b"r5oksalt"
        u = hashlib.sha256(b"" + uv).digest() + uv + uk
        ue = aes.cbc_encrypt_nopad(
            hashlib.sha256(b"" + uk).digest(), b"\x00" * 16, fk
        )
        o = hashlib.sha256(b"" + ov + u[:48]).digest() + ov + ok_
        oe = aes.cbc_encrypt_nopad(
            hashlib.sha256(b"" + ok_ + u[:48]).digest(), b"\x00" * 16, fk
        )
        perms = aes.ecb_encrypt_block(
            fk,
            (synth._CRYPT_P & 0xFFFFFFFF).to_bytes(4, "little")
            + b"\xff\xff\xff\xffTadbzx5\x00",
        )
        saved = synth._V5_CACHE
        synth._V5_CACHE = (fk, u, ue, o, oe, perms)
        try:
            pdf = render_pdf_encrypted(17, TEXT, "aesv3").replace(
                b"/V 5 /R 6", b"/V 5 /R 5"
            )
        finally:
            synth._V5_CACHE = saved
        assert _success_pages(pdf) == expected_pdf_real_pages(17, TEXT, figure=False)

    def test_v4_encrypt_metadata_false_key_derivation(self):
        # /EncryptMetadata false appends ffffffff to the MD5 key input
        # (Algorithm 2 step f) — a handler that ignores the flag derives
        # the wrong key and the /U check must NOT be what saves it
        import hashlib

        import zerox_spark.synth as synth

        o = synth._rc4_owner_entry(4, 16)
        first_id = b"\xab" * 16
        from zerox_spark.extract.pdf import _PAD

        h = hashlib.md5()
        h.update(_PAD)
        h.update(o[:32])
        h.update((synth._CRYPT_P & 0xFFFFFFFF).to_bytes(4, "little"))
        h.update(first_id)
        h.update(b"\xff\xff\xff\xff")  # the flag's contribution
        key = h.digest()
        for _ in range(50):
            key = hashlib.md5(key[:16]).digest()
        fk = key[:16]
        u = synth._rc4_user_entry(fk, first_id, 4)
        content = b"BT /F1 20 Tf 72 720 Td (MetaOff doc) Tj ET"
        iv = b"\x11" * 16
        okey = hashlib.md5(
            fk + (5).to_bytes(3, "little") + b"\x00\x00" + b"sAlT"
        ).digest()[:16]
        enc_content = iv + aes.cbc_encrypt(okey, iv, content)
        encdict = (
            b"<< /Filter /Standard /V 4 /R 4 /Length 128"
            b" /EncryptMetadata false"
            b" /CF << /StdCF << /CFM /AESV2 /Length 16 >> >>"
            b" /StmF /StdCF /StrF /StdCF /O <%s> /U <%s> /P %d >>"
            % (o.hex().encode(), u.hex().encode(), synth._CRYPT_P)
        )
        objs = {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
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
                f"<< /Length {len(enc_content)} >>\nstream\n".encode()
                + enc_content
                + b"\nendstream"
            ),
            99: encdict,
        }
        idhex = first_id.hex().encode()
        pdf = synth._assemble_pdf(
            objs, b"/Encrypt 99 0 R /ID [<%s> <%s>] " % (idhex, idhex)
        )
        md = _success_pages(pdf)[0][1]
        assert "MetaOff doc" in md


# --------------------------------------------------------------------------
# encrypted Office (MS-OFFCRYPTO, default password "VelvetSweatshop")


class TestEncryptedOffice:
    @staticmethod
    def _expected_pages(doc_id: int):
        from zerox_spark.extract.core import extract_document
        from zerox_spark.synth import render_xlsx

        return [
            (p.page_no, p.markdown)
            for p in extract_document(render_xlsx(doc_id), None)
        ]

    @pytest.mark.parametrize("mode", ["standard", "agile"])
    def test_ooxml_roundtrip(self, mode):
        import hashlib

        from zerox_spark.extract import office_crypto as oc
        from zerox_spark.extract.cfb import write_cfb
        from zerox_spark.synth import render_xlsx

        zip_bytes = render_xlsx(6)
        salt = hashlib.sha256(b"t6").digest()[:16]
        enc = (
            oc.encrypt_ooxml_standard
            if mode == "standard"
            else oc.encrypt_ooxml_agile
        )
        info, pkg = enc(zip_bytes, salt)
        assert oc.decrypt_ooxml_package(info, pkg) == zip_bytes
        cfb = write_cfb([("EncryptionInfo", info), ("EncryptedPackage", pkg)])
        assert _success_pages(cfb) == self._expected_pages(6)

    def test_ooxml_real_password_contained(self):
        import hashlib

        from zerox_spark.extract import office_crypto as oc
        from zerox_spark.extract.cfb import write_cfb
        from zerox_spark.synth import render_xlsx

        info, pkg = oc.encrypt_ooxml_standard(
            render_xlsx(6), hashlib.sha256(b"x").digest()[:16],
            password="actual-secret",
        )
        cfb = write_cfb([("EncryptionInfo", info), ("EncryptedPackage", pkg)])
        p = extract_document(cfb, None)[0]
        assert p.status == "ERROR" and "password" in (p.error or "")

    @pytest.mark.parametrize("capi", [False, True])
    def test_xls_rc4_roundtrip(self, capi):
        import hashlib

        from zerox_spark.extract import office_crypto as oc
        from zerox_spark.extract.cfb import CfbReader, write_cfb
        from zerox_spark.synth import render_xls

        xls = render_xls(6)
        wb = CfbReader(xls).read_stream("Workbook")
        enc = write_cfb(
            [(
                "Workbook",
                oc.encrypt_xls_stream(
                    wb, hashlib.sha256(b"t6").digest()[:16], capi=capi
                ),
            )]
        )
        assert _success_pages(enc) == _success_pages(xls)

    def test_xls_wrong_password_contained(self):
        import hashlib
        import struct

        from zerox_spark.extract import office_crypto as oc
        from zerox_spark.extract.cfb import CfbReader, write_cfb
        from zerox_spark.synth import render_xls

        wb = CfbReader(render_xls(6)).read_stream("Workbook")
        enc = bytearray(
            oc.encrypt_xls_stream(wb, hashlib.sha256(b"t").digest()[:16])
        )
        pos = 0
        while True:  # flip a verifier byte inside FilePass
            op, ln = struct.unpack_from("<HH", enc, pos)
            if op == oc.XLS_FILEPASS:
                enc[pos + 4 + 6 + 16] ^= 0xFF
                break
            pos += 4 + ln
        p = extract_document(write_cfb([("Workbook", bytes(enc))]), None)[0]
        assert p.status == "ERROR" and "password" in (p.error or "")

    def test_committed_fixture_floors(self):
        import pathlib

        fixture_dir = pathlib.Path(__file__).parent / "fixtures"
        for name, doc_id in [
            ("office_xlsx_std.cfb", 11),
            ("office_xlsx_agile.cfb", 3),
            ("office_xls_capi.cfb", 7),
            ("office_xls_rc4.cfb", 15),
        ]:
            pages = _success_pages((fixture_dir / name).read_bytes())
            assert len(pages) == 2, name
            md1 = pages[0][1]
            assert md1.startswith("## Sheet: data"), name
            assert f"<td>{(doc_id * 7) % 100}</td>" in md1, name
            assert pages[1][1].startswith("## Sheet: summary"), name

    def test_misc_family_dispatch(self):
        from zerox_spark.synth import render_office_encrypted

        for doc_id in (3, 7, 11, 15, 19, 23):
            pages = _success_pages(render_office_encrypted(doc_id))
            assert len(pages) == 2
            assert pages[0][1].startswith("## Sheet: data")

    def test_encrypted_doc_contained(self):
        # Word has no default password: FIB fEncrypted → clear error
        import struct

        from zerox_spark.extract.cfb import CfbReader, write_cfb
        from zerox_spark.synth import render_doc

        doc = render_doc(7, "some body text here")
        wd = bytearray(CfbReader(doc).read_stream("WordDocument"))
        flags = struct.unpack_from("<H", wd, 0x0A)[0]
        struct.pack_into("<H", wd, 0x0A, flags | 0x0100)  # fEncrypted
        streams = [("WordDocument", bytes(wd))]
        for name in CfbReader(doc).stream_names():
            if name != "WordDocument":
                streams.append((name, CfbReader(doc).read_stream(name)))
        p = extract_document(write_cfb(streams), None)[0]
        assert p.status == "ERROR"
        assert "encrypted doc" in (p.error or "")

    def test_encrypted_ppt_contained(self):
        import struct

        from zerox_spark.extract.cfb import CfbReader, write_cfb
        from zerox_spark.synth import render_ppt

        ppt = render_ppt(7, "slide text body")
        st = CfbReader(ppt).read_stream("PowerPoint Document")
        crypt = struct.pack("<HHI", 0x000F, 0x2F14, 0)
        streams = [("PowerPoint Document", crypt + st)]
        for name in CfbReader(ppt).stream_names():
            if name != "PowerPoint Document":
                streams.append((name, CfbReader(ppt).read_stream(name)))
        p = extract_document(write_cfb(streams), None)[0]
        assert p.status == "ERROR"
        assert "encrypted ppt" in (p.error or "")


# --------------------------------------------------------------------------
# code-review regressions (round-5 self-review findings)


class TestReviewFindings:
    def test_agile_spincount_bomb_contained(self):
        import hashlib

        from zerox_spark.extract import office_crypto as oc
        from zerox_spark.extract.cfb import write_cfb
        from zerox_spark.synth import render_xlsx

        info, pkg = oc.encrypt_ooxml_agile(
            render_xlsx(6), hashlib.sha256(b"s").digest()[:16]
        )
        bomb = info.replace(b'spinCount="1000"', b'spinCount="2000000000"')
        import time

        t0 = time.time()
        p = extract_document(
            write_cfb([("EncryptionInfo", bomb), ("EncryptedPackage", pkg)]),
            None,
        )[0]
        assert p.status == "ERROR" and "spinCount" in (p.error or "")
        assert time.time() - t0 < 5  # died at the cap, not after hours

    def test_objstm_hosted_annot_strings_are_clear(self):
        # modern writers put annot dicts in object streams; the ObjStm
        # CONTAINER stream is encrypted, the strings inside it are not —
        # decrypt_string must pass them through untouched
        import zlib as _z

        import zerox_spark.synth as synth

        fk, encdict, first_id = synth._crypt_material("aesv2", 31)
        content = b"BT /F1 20 Tf 72 720 Td (ObjStm heading) Tj ET"
        enc_content = synth._encrypt_stream_payload(
            content, 5, "aesv2", fk, 31
        )
        annot = (
            b"<< /Type /Annot /Subtype /Widget /FT /Tx"
            b" /V (Hosted Secret 31) /Rect [72 600 300 620] >>"
        )
        stm_body = b"6 0 " + annot
        enc_stm = synth._encrypt_stream_payload(
            _z.compress(stm_body), 20, "aesv2", fk, 31
        )
        objs = {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
            3: (
                b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
                b" /Encoding /WinAnsiEncoding >>"
            ),
            4: (
                b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
                b" /Resources << /Font << /F1 3 0 R >> >>"
                b" /Contents 5 0 R /Annots [6 0 R] >>"
            ),
            5: (
                f"<< /Length {len(enc_content)} >>\nstream\n".encode()
                + enc_content
                + b"\nendstream"
            ),
            20: (
                f"<< /Type /ObjStm /N 1 /First 4 /Filter /FlateDecode"
                f" /Length {len(enc_stm)} >>\nstream\n".encode()
                + enc_stm
                + b"\nendstream"
            ),
            99: encdict,
        }
        idhex = first_id.hex().encode()
        pdf = synth._assemble_pdf(
            objs, b"/Encrypt 99 0 R /ID [<%s> <%s>] " % (idhex, idhex)
        )
        md = _success_pages(pdf)[0][1]
        assert "ObjStm heading" in md and "Hosted Secret 31" in md

    def test_indirect_string_value_uses_own_key(self):
        # /V pointing at an indirect string object: the STRING object's
        # objnum is the key scope, not the annot dict's
        import zerox_spark.synth as synth

        fk, encdict, first_id = synth._crypt_material("aesv2", 33)
        content = b"BT /F1 20 Tf 72 720 Td (Indirect heading) Tj ET"
        enc_content = synth._encrypt_stream_payload(
            content, 5, "aesv2", fk, 33
        )
        enc_val = synth._encrypt_stream_payload(
            b"IndirectVal 33", 30, "aesv2", fk, 33
        )
        objs = {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
            3: (
                b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
                b" /Encoding /WinAnsiEncoding >>"
            ),
            4: (
                b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
                b" /Resources << /Font << /F1 3 0 R >> >>"
                b" /Contents 5 0 R /Annots [6 0 R] >>"
            ),
            5: (
                f"<< /Length {len(enc_content)} >>\nstream\n".encode()
                + enc_content
                + b"\nendstream"
            ),
            6: (
                b"<< /Type /Annot /Subtype /Widget /FT /Tx /V 30 0 R"
                b" /Rect [72 600 300 620] >>"
            ),
            30: b"<" + enc_val.hex().encode() + b">",
            99: encdict,
        }
        idhex = first_id.hex().encode()
        pdf = synth._assemble_pdf(
            objs, b"/Encrypt 99 0 R /ID [<%s> <%s>] " % (idhex, idhex)
        )
        md = _success_pages(pdf)[0][1]
        assert "IndirectVal 33" in md

    def test_v4_40bit_v2_filter_length(self):
        # /V 4 with a /CFM /V2 /Length 5 crypt filter (40-bit RC4): the
        # CF Length drives the key size — a 128-bit assumption would fail
        # the /U check and reject a valid empty-password file
        import zerox_spark.synth as synth
        from zerox_spark.extract.pdf import _rc4
        from zerox_spark.synth import _pdf_real_layout, _pdf_content_v0

        doc_id = 9
        first_id = synth._det_bytes(f"id40:{doc_id}", 16)
        o = synth._rc4_owner_entry(4, 5)
        fk = synth._rc4_file_key(o, first_id, 4, 5)
        u = synth._rc4_user_entry(fk, first_id, 4)
        encdict = (
            b"<< /Filter /Standard /V 4 /R 4"
            b" /CF << /StdCF << /CFM /V2 /Length 5 >> >>"
            b" /StmF /StdCF /StrF /StdCF /O <%s> /U <%s> /P %d >>"
            % (o.hex().encode(), u.hex().encode(), synth._CRYPT_P)
        )
        layout = _pdf_real_layout(doc_id, TEXT)
        objs = {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [4 0 R 6 0 R] /Count 2 >>".replace(
                b"6 0 R", b"6 0 R"
            ),
            3: (
                b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
                b" /Encoding /WinAnsiEncoding >>"
            ),
            99: encdict,
        }
        for i, (height, lines) in enumerate(layout):
            pnum, cnum = 4 + 2 * i, 5 + 2 * i
            objs[pnum] = (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612"
                f" {height:g}] /Resources << /Font << /F1 3 0 R >> >>"
                f" /Contents {cnum} 0 R >>".encode()
            )
            raw = _pdf_content_v0(lines)
            enc = _rc4(synth._crypt_obj_key(fk, cnum, "rc4"), raw)
            objs[cnum] = (
                f"<< /Length {len(enc)} >>\nstream\n".encode()
                + enc
                + b"\nendstream"
            )
        idhex = first_id.hex().encode()
        pdf = synth._assemble_pdf(
            objs, b"/Encrypt 99 0 R /ID [<%s> <%s>] " % (idhex, idhex)
        )
        assert _success_pages(pdf) == expected_pdf_real_pages(doc_id, TEXT, figure=False)

    def test_ucs2_halfwidth_cmap_decodes(self):
        txt = "日本語 ﾃｷｽﾄ test"
        content = (
            f"BT /F1 12 Tf 72 700 Td {_pdf_hex_2byte(txt)} Tj ET".encode()
        )
        objs = {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
            3: (
                b"<< /Type /Font /Subtype /Type0 /BaseFont /SynthHW"
                b" /Encoding /UniJIS-UCS2-HW-H /DescendantFonts [6 0 R] >>"
            ),
            4: (
                b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
                b" /Resources << /Font << /F1 3 0 R >> >>"
                b" /Contents 5 0 R >>"
            ),
            5: (
                f"<< /Length {len(content)} >>\nstream\n".encode()
                + content
                + b"\nendstream"
            ),
            6: b"<< /Type /Font /Subtype /CIDFontType2 /DW 1000 >>",
        }
        pages = real_pdf_to_pages(_assemble_pdf(objs))
        assert len(pages) == 1 and txt in pages[0][1]

    def test_bulk_ecb_decrypt_matches_scalar(self):
        key = bytes(range(32))
        data = bytes((i * 3 + 1) % 256 for i in range(512))
        rk = aes.expand_key(key)
        enc = b"".join(
            aes.encrypt_block(rk, data[i : i + 16])
            for i in range(0, 512, 16)
        )
        assert aes.ecb_decrypt(key, enc) == data
        assert aes.ecb_decrypt(key, enc[:40]) == data[:32]  # ragged drop

    @settings(
        max_examples=40,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        pos=st.integers(min_value=0, max_value=100_000),
        bit=st.integers(0, 7),
    )
    def test_encrypted_office_bitflip_contained(self, pos, bit):
        # corrupting any byte of an encrypted Office container must yield
        # SUCCESS or a contained ERROR — never an uncontained raise/hang
        from zerox_spark.synth import render_office_encrypted

        base = bytearray(render_office_encrypted(3))
        base[pos % len(base)] ^= 1 << bit
        pages = extract_document(bytes(base), None)
        assert pages and all(p.status in ("SUCCESS", "ERROR") for p in pages)

    @pytest.mark.parametrize("cut", [4, 16, 60, 150])  # info is ~224 bytes
    def test_truncated_encryption_info_contained(self, cut):
        from zerox_spark.extract.cfb import write_cfb
        from zerox_spark.synth import render_office_encrypted

        whole = render_office_encrypted(11)
        from zerox_spark.extract.cfb import CfbReader

        r = CfbReader(whole)
        info = r.read_stream("EncryptionInfo")[:cut]
        pkg = r.read_stream("EncryptedPackage")
        p = extract_document(
            write_cfb([("EncryptionInfo", info), ("EncryptedPackage", pkg)]),
            None,
        )[0]
        assert p.status == "ERROR"

    def test_xls_xor_obfuscation_clear_error(self):
        import struct

        from zerox_spark.extract.cfb import CfbReader, write_cfb
        from zerox_spark.synth import render_xls

        wb = CfbReader(render_xls(2)).read_stream("Workbook")
        op, ln = struct.unpack_from("<HH", wb, 0)
        fp = struct.pack("<HH", 0x2F, 6) + struct.pack("<HHH", 0, 0, 0)
        enc = wb[: 4 + ln] + fp + wb[4 + ln :]
        p = extract_document(write_cfb([("Workbook", enc)]), None)[0]
        assert p.status == "ERROR"
        assert "XOR obfuscation" in (p.error or "")

    @settings(
        max_examples=40,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        pos=st.integers(min_value=0, max_value=100_000),
        bit=st.integers(0, 7),
        variant=st.integers(0, 2),
    )
    def test_encrypted_pdf_bitflip_contained(self, pos, bit, variant):
        # corrupting any byte of an encrypted PDF (trailer, /Encrypt dict,
        # IVs, ciphertext, xref) must yield SUCCESS or a contained ERROR
        base = bytearray(
            render_pdf_encrypted(2, TEXT, ("rc4", "aesv2", "aesv3")[variant])
        )
        base[pos % len(base)] ^= 1 << bit
        pages = extract_document(bytes(base), None)
        assert pages and all(p.status in ("SUCCESS", "ERROR") for p in pages)


# --------------------------------------------------------------------------
# symbolic TrueType fonts: text recovery from the embedded font program


def _build_symbol_ttf(
    chars: str, with_uni_cmap: bool, with_post: bool
) -> bytes:
    """A minimal sfnt with a (3,0) symbol cmap at 0xF020+i → glyph 3+i,
    optionally a (3,1) unicode subtable and/or post-2.0 uniXXXX names."""
    import struct as s

    # one glyph per UNIQUE char (as real fonts do); codes by position
    uniq = sorted(set(chars))
    glyph_of_char = {c: 3 + i for i, c in enumerate(uniq)}
    glyph_of = {i: glyph_of_char[chars[i]] for i in range(len(chars))}

    def fmt4(pairs):  # [(code, glyph)] single-code segments + terminator
        pairs = sorted(pairs)
        segs = [(c, c, (g - c) & 0xFFFF) for c, g in pairs]
        segs.append((0xFFFF, 0xFFFF, 1))
        n = len(segs)
        head = s.pack(
            ">HHHHHHH", 4, 16 + 8 * n, 0, 2 * n, 2, 0, 0
        )
        ends = b"".join(s.pack(">H", e) for _, e, _ in segs)
        starts = b"".join(s.pack(">H", st) for st, _, _ in segs)
        deltas = b"".join(s.pack(">H", d) for _, _, d in segs)
        roffs = b"\x00\x00" * n
        return head + ends + b"\x00\x00" + starts + deltas + roffs

    subs = [((3, 0), fmt4([(0xF020 + i, g) for i, g in glyph_of.items()]))]
    if with_uni_cmap:
        subs.append(
            ((3, 1), fmt4([(ord(c), g) for c, g in glyph_of_char.items()]))
        )
    rec_at = 4 + 8 * len(subs)
    cmap = s.pack(">HH", 0, len(subs))
    body = b""
    for (plat, enc), sub in subs:
        cmap += s.pack(">HHI", plat, enc, rec_at + len(body))
        body += sub
    cmap += body

    tables = {b"cmap": cmap}
    if with_post:
        num = 3 + len(uniq)
        idx = [0, 0, 0] + [258 + i for i in range(len(uniq))]
        pool = b"".join(
            bytes([len(f"uni{ord(c):04X}")]) + f"uni{ord(c):04X}".encode()
            for c in uniq
        )
        tables[b"post"] = (
            s.pack(">I", 0x00020000)
            + b"\x00" * 28
            + s.pack(">H", num)
            + b"".join(s.pack(">H", i) for i in idx)
            + pool
        )
    out = s.pack(">IHHHH", 0x00010000, len(tables), 16, 2, 0)
    off = 12 + 16 * len(tables)
    recs, blob = b"", b""
    for tag in sorted(tables):
        data = tables[tag]
        recs += tag + s.pack(">III", 0, off + len(blob), len(data))
        blob += data
    return out + recs + blob


class TestSymbolicTrueType:
    @staticmethod
    def _pdf_with_font(ttf: bytes, codes: bytes) -> bytes:
        from zerox_spark.synth import _assemble_pdf

        content = (
            b"BT /F1 12 Tf 72 700 Td <" + codes.hex().encode() + b"> Tj ET"
        )
        return _assemble_pdf(
            {
                1: b"<< /Type /Catalog /Pages 2 0 R >>",
                2: b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
                3: (
                    b"<< /Type /Font /Subtype /TrueType /BaseFont /SymSub"
                    b" /FontDescriptor 7 0 R >>"
                ),
                4: (
                    b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
                    b" /Resources << /Font << /F1 3 0 R >> >>"
                    b" /Contents 5 0 R >>"
                ),
                5: (
                    f"<< /Length {len(content)} >>\nstream\n".encode()
                    + content
                    + b"\nendstream"
                ),
                6: (
                    f"<< /Length {len(ttf)} >>\nstream\n".encode()
                    + ttf
                    + b"\nendstream"
                ),
                7: (
                    b"<< /Type /FontDescriptor /FontName /SymSub /Flags 4"
                    b" /FontFile2 6 0 R >>"
                ),
            }
        )

    @pytest.mark.parametrize("via", ["post", "unicmap", "both"])
    def test_symbol_font_text_recovered(self, via):
        text = "Recovered!"
        ttf = _build_symbol_ttf(
            text,
            with_uni_cmap=via in ("unicmap", "both"),
            with_post=via in ("post", "both"),
        )
        codes = bytes(0x20 + i for i in range(len(text)))
        pages = real_pdf_to_pages(self._pdf_with_font(ttf, codes))
        assert pages and text in pages[0][1]

    def test_symbol_font_program_overrides_cp1252(self):
        # when the program yields a map, it WINS over the cp1252 guess:
        # code 0x20 renders 'R' per the font, not a space
        ttf = _build_symbol_ttf("XY", with_uni_cmap=True, with_post=False)
        pages = real_pdf_to_pages(self._pdf_with_font(ttf, b"\x20\x21"))
        assert "XY" in pages[0][1]

    def test_symbolic_without_font_program_falls_back_cp1252(self):
        # recall-preserving compromise: subsetters set the symbolic flag
        # on ordinary Latin fonts, so with NO font program and no maps at
        # all the engine keeps the cp1252 reading instead of flipping the
        # document to a text-free ERROR
        pdf = self._pdf_with_font(
            b"", b"Fallback reading kept"
        ).replace(b" /FontFile2 6 0 R", b"")
        pages = real_pdf_to_pages(pdf)
        assert pages and "Fallback reading kept" in pages[0][1]

    def test_damaged_font_program_contained(self):
        ttf = _build_symbol_ttf("Ok", True, True)
        broken = ttf[:20] + b"\xff" * 10 + ttf[30:]
        pdf = self._pdf_with_font(broken, b"\x20\x21")
        pages = extract_document(pdf, None)
        assert all(p.status in ("SUCCESS", "ERROR") for p in pages)


# --------------------------------------------------------------------------
# bare-CFF (Type1C / FontFile3) fallback


def _cff_index(items):
    """CFF INDEX builder (test-side; shared by every CFF fixture)."""
    import struct as s

    if not items:
        return s.pack(">H", 0)
    offs = [1]
    for it in items:
        offs.append(offs[-1] + len(it))
    return (
        s.pack(">HB", len(items), 2)
        + b"".join(s.pack(">H", o) for o in offs)
        + b"".join(items)
    )


def _cff_op29(v, op):
    """Fixed-width (5-byte) DICT integer operand + operator."""
    import struct as s

    return b"\x1d" + s.pack(">i", v) + bytes([op])


def _build_cff(chars: str) -> bytes:
    """Minimal bare CFF: custom Encoding (code 0x20+i → glyph i+1),
    custom charset (glyph i+1 → SID 391+i), String INDEX of uniXXXX
    names, one dummy charstring per glyph."""
    import struct as s

    index = _cff_index

    uniq = list(dict.fromkeys(chars))
    names = [f"uni{ord(c):04X}".encode() for c in uniq]
    header = b"\x01\x00\x04\x02"
    name_idx = index([b"SynthCFF"])
    str_idx = index(names)
    enc = bytes([0, len(uniq)]) + bytes(0x20 + i for i in range(len(uniq)))
    charset = b"\x00" + b"".join(
        s.pack(">H", 391 + i) for i in range(len(uniq))
    )
    cs_idx = index([b"\x0e"] * (1 + len(uniq)))  # endchar per glyph

    def top_dict(enc_off, charset_off, cs_off):
        def op29(v, op):
            return b"\x1d" + s.pack(">i", v) + bytes([op])

        return index(
            [op29(charset_off, 15) + op29(enc_off, 16) + op29(cs_off, 17)]
        )

    # two passes: sizes are offset-independent (op29 is fixed width)
    td_size = len(top_dict(0, 0, 0))
    base = len(header) + len(name_idx) + td_size + len(str_idx)
    enc_off = base
    charset_off = enc_off + len(enc)
    cs_off = charset_off + len(charset)
    return (
        header
        + name_idx
        + top_dict(enc_off, charset_off, cs_off)
        + str_idx
        + enc
        + charset
        + cs_idx
    )


class TestBareCffFallback:
    def test_cff_custom_names_recovered(self):
        from zerox_spark.extract.cff import decode_map_from_cff

        text = "Type1C works"
        mapping = decode_map_from_cff(_build_cff(text))
        uniq = list(dict.fromkeys(text))
        assert mapping == {0x20 + i: c for i, c in enumerate(uniq)}

    def test_cff_in_pdf_via_fontfile3(self):
        from zerox_spark.synth import _assemble_pdf

        text = "CffRecovered"
        cff = _build_cff(text)
        uniq = list(dict.fromkeys(text))
        codes = bytes(0x20 + uniq.index(c) for c in text)
        content = (
            b"BT /F1 12 Tf 72 700 Td <" + codes.hex().encode() + b"> Tj ET"
        )
        pdf = _assemble_pdf(
            {
                1: b"<< /Type /Catalog /Pages 2 0 R >>",
                2: b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
                3: (
                    b"<< /Type /Font /Subtype /Type1 /BaseFont /SynthCFF"
                    b" /FontDescriptor 7 0 R >>"
                ),
                4: (
                    b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
                    b" /Resources << /Font << /F1 3 0 R >> >>"
                    b" /Contents 5 0 R >>"
                ),
                5: (
                    f"<< /Length {len(content)} >>\nstream\n".encode()
                    + content
                    + b"\nendstream"
                ),
                6: (
                    f"<< /Subtype /Type1C /Length {len(cff)} >>"
                    f"\nstream\n".encode()
                    + cff
                    + b"\nendstream"
                ),
                7: (
                    b"<< /Type /FontDescriptor /FontName /SynthCFF"
                    b" /Flags 4 /FontFile3 6 0 R >>"
                ),
            }
        )
        pages = real_pdf_to_pages(pdf)
        assert pages and text in pages[0][1]

    def test_damaged_cff_contained(self):
        from zerox_spark.extract.cff import decode_map_from_cff

        good = _build_cff("Ok")
        for cut in (2, 10, 30, len(good) - 3):
            try:
                m = decode_map_from_cff(good[:cut])
            except ValueError:
                continue
            assert isinstance(m, dict)
        assert decode_map_from_cff(b"\x02\x00\x04\x02") == {}  # major 2

    def test_cff_standard_charset_and_encoding(self):
        # a fully standard Type1C subset: identity charset (offset 0),
        # StandardEncoding (offset 0) — ASCII text decodes through the
        # fixed standard-string order, quote glyphs map to ’/‘
        import struct as s

        from zerox_spark.extract.cff import decode_map_from_cff

        index, op29 = _cff_index, _cff_op29
        header = b"\x01\x00\x04\x02"
        name_idx = index([b"StdCFF"])
        str_idx = s.pack(">H", 0)  # empty String INDEX
        n_glyphs = 96  # .notdef + SIDs 1..95 (identity charset)
        cs_idx = index([b"\x0e"] * n_glyphs)
        td = index([op29(0, 15) + op29(0, 16) + op29(0, 17)])
        base = len(header) + len(name_idx) + len(td) + len(str_idx)
        td = index([op29(0, 15) + op29(0, 16) + op29(base, 17)])
        cff = header + name_idx + td + str_idx + cs_idx
        m = decode_map_from_cff(cff)
        assert m[ord("A")] == "A" and m[ord("z")] == "z"
        assert m[0x20] == " " and m[ord("~")] == "~"
        assert m[39] == "’" and m[96] == "‘"  # quote glyphs

    def test_type1_cleartext_encoding_recovered(self):
        # original Type 1 (/FontFile): dup <code> /<name> put lines in the
        # cleartext header drive the decode; PFB segment headers strip
        import struct as s

        from zerox_spark.extract.cff import decode_map_from_type1
        from zerox_spark.synth import _assemble_pdf

        header = (
            b"%!PS-AdobeFont-1.0: SynthT1\n"
            b"/Encoding 256 array\n"
            b"0 1 255 {1 index exch /.notdef put} for\n"
            b"dup 40 /T put\ndup 41 /one put\ndup 42 /quoteright put\n"
            b"readonly def\n"
        )
        pfa = header + b"eexec\n" + b"\xaa" * 64
        assert decode_map_from_type1(pfa) == {40: "T", 41: "1", 42: "’"}
        pfb = b"\x80\x01" + s.pack("<I", len(pfa)) + pfa
        assert decode_map_from_type1(pfb)[40] == "T"
        # end to end: symbolic Type1 via FontFile
        content = b"BT /F1 12 Tf 72 700 Td <282A29> Tj ET"  # T ' 1
        pdf = _assemble_pdf(
            {
                1: b"<< /Type /Catalog /Pages 2 0 R >>",
                2: b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
                3: (
                    b"<< /Type /Font /Subtype /Type1 /BaseFont /SynthT1"
                    b" /FontDescriptor 7 0 R >>"
                ),
                4: (
                    b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
                    b" /Resources << /Font << /F1 3 0 R >> >>"
                    b" /Contents 5 0 R >>"
                ),
                5: (
                    f"<< /Length {len(content)} >>\nstream\n".encode()
                    + content
                    + b"\nendstream"
                ),
                6: (
                    f"<< /Length {len(pfa)} >>\nstream\n".encode()
                    + pfa
                    + b"\nendstream"
                ),
                7: (
                    b"<< /Type /FontDescriptor /FontName /SynthT1"
                    b" /Flags 4 /FontFile 6 0 R >>"
                ),
            }
        )
        pages = real_pdf_to_pages(pdf)
        assert pages and "T’1" in pages[0][1]

    @settings(max_examples=150, deadline=None)
    @given(data=st.binary(min_size=0, max_size=400))
    def test_font_readers_contained_on_arbitrary_bytes(self, data):
        # every font-program reader either returns a dict or raises one of
        # the exception types Font.__init__ contains — never anything else
        from zerox_spark.extract.cff import (
            decode_map_from_cff,
            decode_map_from_type1,
        )
        from zerox_spark.extract.truetype import decode_map_from_ttf

        for fn in (decode_map_from_ttf, decode_map_from_cff,
                   decode_map_from_type1):
            for payload in (data, b"ttcf" + data, b"\x01\x00\x04\x02" + data,
                            b"\x00\x01\x00\x00" + data):
                try:
                    out = fn(payload)
                except (ValueError, IndexError) as _:
                    continue
                except Exception as exc:  # noqa: BLE001
                    import struct as s

                    assert isinstance(exc, (s.error,)), type(exc)
                    continue
                assert isinstance(out, dict)

    def test_job_family_choices_match_registry(self):
        from zerox_spark.job import SYNTH_FAMILY_CHOICES
        from zerox_spark.synth import SYNTH_FAMILIES

        assert set(SYNTH_FAMILY_CHOICES) == set(SYNTH_FAMILIES)

    def test_cff_empty_operand_and_expert_shapes_return_empty(self):
        import struct as s

        from zerox_spark.extract.cff import decode_map_from_cff

        index, op29 = _cff_index, _cff_op29
        # Top DICT with op 17 and NO operands — documented contract is {}
        bare = (
            b"\x01\x00\x04\x02" + index([b"F"]) + index([b"\x11"])
            + s.pack(">H", 0)
        )
        assert decode_map_from_cff(bare) == {}

        # Expert encoding (offset 1): drop, never decode as Standard
        header = b"\x01\x00\x04\x02"
        name_idx = index([b"X"])
        str_idx = s.pack(">H", 0)
        cs_idx = index([b"\x0e"] * 96)
        td = index([op29(0, 15) + op29(1, 16) + op29(0, 17)])
        base = len(header) + len(name_idx) + len(td) + len(str_idx)
        td = index([op29(0, 15) + op29(1, 16) + op29(base, 17)])
        assert decode_map_from_cff(
            header + name_idx + td + str_idx + cs_idx
        ) == {}

    def test_cff_identity_charset_clamped_at_isoadobe(self):
        from zerox_spark.extract.cff import decode_map_from_cff

        index, op29 = _cff_index, _cff_op29
        # 500 glyphs with identity charset + a custom string pool: glyphs
        # past SID 228 must NOT alias into the String INDEX
        header = b"\x01\x00\x04\x02"
        name_idx = index([b"X"])
        str_idx = index([b"uni4E2D"] * 4)
        cs_idx = index([b"\x0e"] * 500)
        td = index([op29(0, 15) + op29(0, 16) + op29(0, 17)])
        base = len(header) + len(name_idx) + len(td) + len(str_idx)
        td = index([op29(0, 15) + op29(0, 16) + op29(base, 17)])
        m = decode_map_from_cff(header + name_idx + td + str_idx + cs_idx)
        assert "中" not in m.values()
        assert m.get(ord("A")) == "A"  # standard slice still resolves
