"""Unit tests: CFB container + BIFF8 (.xls) + Word97 (.doc) extraction —
record types and encodings the synthesized driver corpus doesn't exercise."""

from __future__ import annotations

import hashlib
import struct

import pytest

from zerox_spark.extract import office_crypto as oc
from zerox_spark.extract.cfb import CfbReader, write_cfb
from zerox_spark.extract.core import ExtractConfig, extract_document
from zerox_spark.extract.legacy_office import (
    cfb_to_pages,
    doc_to_text,
    xls_to_grids,
)
from zerox_spark.extract.pdf import _rc4
from zerox_spark.synth import (
    _det_bytes,
    _ppt_rec,
    render_doc,
    render_xls,
    sheet_cells,
)


def _rec(op: int, body: bytes) -> bytes:
    return struct.pack("<HH", op, len(body)) + body


def _bof(dt: int) -> bytes:
    return _rec(0x0809, struct.pack("<HHHHII", 0x0600, dt, 0, 0, 0, 0))


_EOF = _rec(0x000A, b"")


def _workbook(globals_extra: bytes, sheet_recs: bytes, name: str = "s1") -> bytes:
    """One-sheet workbook stream with computed BOUNDSHEET offset."""
    def glb(off: int) -> bytes:
        bs = _rec(
            0x0085,
            struct.pack("<IH", off, 0)
            + struct.pack("<BB", len(name), 0)
            + name.encode("cp1252"),
        )
        return _bof(0x0005) + globals_extra + bs + _EOF

    off = len(glb(0))
    return write_cfb(
        [("Workbook", glb(off) + _bof(0x0010) + sheet_recs + _EOF)]
    )


def test_xls_rk_variants():
    """RK encodings: 30-bit int, int*100, and truncated-double (*100)."""
    recs = (
        _rec(0x027E, struct.pack("<HHHI", 0, 0, 0, (42 << 2) | 0x2))
        + _rec(0x027E, struct.pack("<HHHI", 0, 1, 0, (4250 << 2) | 0x3))
        + _rec(
            0x027E,
            struct.pack(
                "<HHHI",
                0,
                2,
                0,
                (struct.unpack("<Q", struct.pack("<d", 2.5))[0] >> 32)
                & ~0x3,
            ),
        )
    )
    assert xls_to_grids(_workbook(b"", recs)) == [
        ("s1", [["42", "42.5", "2.5"]])
    ]


def test_xls_mulrk_and_number():
    mulrk = struct.pack("<HH", 0, 1)
    for v in (7, 8):
        mulrk += struct.pack("<HI", 0, (v << 2) | 0x2)
    mulrk += struct.pack("<H", 2)
    recs = _rec(0x00BD, mulrk) + _rec(
        0x0203, struct.pack("<HHH", 1, 0, 0) + struct.pack("<d", 3.25)
    )
    assert xls_to_grids(_workbook(b"", recs)) == [
        ("s1", [["7", "8"], ["3.25"]])
    ]


def test_xls_label_inline_and_boolerr():
    label = struct.pack("<HHH", 0, 0, 0) + struct.pack("<HB", 2, 0) + b"hi"
    recs = (
        _rec(0x0204, label)
        + _rec(0x0205, struct.pack("<HHHBB", 0, 1, 0, 1, 0))
        + _rec(0x0205, struct.pack("<HHHBB", 0, 2, 0, 0x0F, 1))  # error→skip
    )
    assert xls_to_grids(_workbook(b"", recs)) == [("s1", [["hi", "true"]])]


def test_xls_sst_utf16_and_continue_spanning():
    """An SST whose string bytes continue into a CONTINUE record with its
    own compression flag ([MS-XLS] 2.5.293)."""
    # string 0: utf-16 'héllo'; string 1: 'abcdef' split 'abc'/'def' across
    # the CONTINUE boundary (flag byte repeats at the boundary)
    s0 = "héllo"
    sst_body = struct.pack("<II", 2, 2)
    sst_body += struct.pack("<HB", len(s0), 1) + s0.encode("utf-16-le")
    sst_body += struct.pack("<HB", 6, 0) + b"abc"
    cont_body = b"\x00" + b"def"
    globals_extra = _rec(0x00FC, sst_body) + _rec(0x003C, cont_body)
    recs = _rec(0x00FD, struct.pack("<HHHI", 0, 0, 0, 0)) + _rec(
        0x00FD, struct.pack("<HHHI", 0, 1, 0, 1)
    )
    assert xls_to_grids(_workbook(globals_extra, recs)) == [
        ("s1", [["héllo", "abcdef"]])
    ]


def test_xls_book_stream_name_accepted():
    data, _ = sheet_cells(4)
    payload = render_xls(4)
    wb = CfbReader(payload).read_stream("Workbook")
    renamed = write_cfb([("Book", wb)])
    assert xls_to_grids(renamed)[0] == ("data", data)


def test_doc_compressed_piece():
    """A cp1252-compressed text piece (fc bit 30 set, fc doubled)."""
    text = "compressed piece\r"
    word = bytearray(1024) + text.encode("cp1252")
    struct.pack_into("<H", word, 0, 0xA5EC)
    struct.pack_into("<H", word, 0x0A, 0x0200)
    struct.pack_into("<I", word, 0x4C, len(text))
    plc = struct.pack("<II", 0, len(text)) + struct.pack(
        "<HIH", 0, 0x40000000 | (1024 * 2), 0
    )
    clx = b"\x02" + struct.pack("<I", len(plc)) + plc
    struct.pack_into("<II", word, 0x01A2, 0, len(clx))
    payload = write_cfb([("WordDocument", bytes(word)), ("1Table", clx)])
    assert doc_to_text(payload) == text
    assert cfb_to_pages(payload)[0][1] == "compressed piece"


def test_doc_renderer_two_pages():
    pages = cfb_to_pages(render_doc(9, "w1 w2 w3"))
    assert [(n, md) for n, md, _ in pages] == [
        (1, "Document 9\n\nw1 w2 w3"),
        (2, "Section 9\n\nw1 w2 w3"),
    ]


def test_doc_control_chars_dropped_and_cell_marks_break():
    text = "a\x07b\x07\rc\x13FIELD\x14d\x15\r"
    word = bytearray(1024) + text.encode("utf-16-le")
    struct.pack_into("<H", word, 0, 0xA5EC)
    struct.pack_into("<H", word, 0x0A, 0x0200)
    struct.pack_into("<I", word, 0x4C, len(text))
    plc = struct.pack("<II", 0, len(text)) + struct.pack("<HIH", 0, 1024, 0)
    clx = b"\x02" + struct.pack("<I", len(plc)) + plc
    struct.pack_into("<II", word, 0x01A2, 0, len(clx))
    payload = write_cfb([("WordDocument", bytes(word)), ("1Table", clx)])
    md = cfb_to_pages(payload)[0][1]
    assert md == "a\n\nb\n\ncFIELDd"


def test_ppt_renderer_two_slides():
    from zerox_spark.extract.legacy_office import ppt_to_pages
    from zerox_spark.synth import render_ppt

    pages = ppt_to_pages(render_ppt(9, "w1 w2 w3"))
    assert [(n, md) for n, md, _ in pages] == [
        (1, "# Document 9\n\nw1 w2 w3"),
        (2, "# Section 9\n\nw1 w2 w3"),
    ]


def test_ppt_textbytes_cp1252_and_paragraph_split():
    """TextBytesAtom (one byte per char) with \\r-separated paragraphs."""
    from zerox_spark.extract.legacy_office import ppt_to_pages
    from zerox_spark.synth import _ppt_rec

    recs = _ppt_rec(0, 0, 0x03F3, bytes(20))
    recs += _ppt_rec(0, 0, 0x0F9F, struct.pack("<I", 1))
    recs += _ppt_rec(0, 0, 0x0FA8, "p\xe9 one\rp two".encode("cp1252"))
    doc = _ppt_rec(0xF, 0, 0x03E8, _ppt_rec(0xF, 0, 0x0FF0, recs))
    payload = write_cfb([("PowerPoint Document", doc)])
    assert ppt_to_pages(payload)[0][1] == "pé one\n\np two"


def test_ppt_truncated_record_keeps_prefix():
    """A record whose recLen runs past the stream end stops the walk at the
    last whole record — everything before it still extracts."""
    from zerox_spark.extract.legacy_office import ppt_to_pages
    from zerox_spark.synth import _ppt_rec, render_ppt
    from zerox_spark.extract.cfb import CfbReader

    stream = CfbReader(render_ppt(3, "kept words")).read_stream(
        "PowerPoint Document"
    )
    bad = stream + struct.pack("<HHI", 0, 0x0FA0, 9999) + b"xx"
    payload = write_cfb([("PowerPoint Document", bad)])
    pages = ppt_to_pages(payload)
    assert pages[0][1] == "# Document 3\n\nkept words"


def test_ppt_nesting_bomb_contained():
    """Containers nested past the depth cap raise into containment instead
    of blowing the recursion stack."""
    from zerox_spark.synth import _ppt_rec

    body = _ppt_rec(0, 0, 0x0FA0, "x".encode("utf-16-le"))
    for _ in range(30):
        body = _ppt_rec(0xF, 0, 0x03E8, body)
    payload = write_cfb([("PowerPoint Document", body)])
    pages = extract_document(payload, None, ExtractConfig(trust_text=False))
    assert pages[0].status == "ERROR"
    assert "nesting too deep" in pages[0].error


def test_unknown_cfb_contained_as_error():
    payload = write_cfb([("SomeOtherApp", b"data" * 10)])
    pages = extract_document(payload, None, ExtractConfig(trust_text=False))
    assert pages[0].status == "ERROR"
    assert "not xls/doc" in pages[0].error


def test_truncated_cfb_contained():
    payload = render_xls(2)[:700]
    pages = extract_document(payload, None, ExtractConfig(trust_text=False))
    assert pages[0].status == "ERROR"


def test_xls_xlsx_same_workbook_extract_identically():
    """The legacy and OOXML containers of the same workbook must produce
    byte-identical pages."""
    from zerox_spark.synth import render_xlsx

    xls = extract_document(render_xls(8), None, ExtractConfig(trust_text=False))
    xlsx = extract_document(
        render_xlsx(8), None, ExtractConfig(trust_text=False)
    )
    assert [(p.page_no, p.markdown) for p in xls] == [
        (p.page_no, p.markdown) for p in xlsx
    ]


def test_doc_overlapping_pieces_output_bomb_contained():
    """Pieces that all point at the SAME fc region re-emit the same bytes
    over and over (ccp_text is attacker-controlled up to ~4G chars) — the
    emitted-output cap (min(ccp_text, 8×stream, global)) contains it."""
    chunk = "x" * 4096
    word = bytearray(1024) + chunk.encode("utf-16-le")
    struct.pack_into("<H", word, 0, 0xA5EC)
    struct.pack_into("<H", word, 0x0A, 0x0200)
    n_pieces = 100  # 100 × 4096 chars ≫ 8 × len(word) ≈ 74k
    ccp = n_pieces * len(chunk)
    struct.pack_into("<I", word, 0x4C, ccp)
    cps = b"".join(
        struct.pack("<I", i * len(chunk)) for i in range(n_pieces + 1)
    )
    pcds = b"".join(
        struct.pack("<HIH", 0, 1024, 0) for _ in range(n_pieces)
    )
    plc = cps + pcds
    clx = b"\x02" + struct.pack("<I", len(plc)) + plc
    struct.pack_into("<II", word, 0x01A2, 0, len(clx))
    payload = write_cfb([("WordDocument", bytes(word)), ("1Table", clx)])
    with pytest.raises(ValueError, match="overlapping pieces"):
        doc_to_text(payload)
    pages = extract_document(payload, None, ExtractConfig(trust_text=False))
    assert pages[0].status == "ERROR"


def test_write_cfb_empty_small_stream_keeps_minifat_aligned():
    """An empty small stream must not consume a miniFAT entry — it has no
    mini sector, so an ENDOFCHAIN there would shift every later stream's
    miniFAT entries one past their sector ids."""
    data = b"y" * 200
    payload = write_cfb([("Empty", b""), ("Data", data), ("More", b"z" * 65)])
    r = CfbReader(payload)
    assert r.read_stream("Empty") == b""
    assert r.read_stream("Data") == data
    assert r.read_stream("More") == b"z" * 65


def test_doc_missing_table_stream_contained():
    word = bytearray(1024)
    struct.pack_into("<H", word, 0, 0xA5EC)
    struct.pack_into("<H", word, 0x0A, 0x0200)
    struct.pack_into("<II", word, 0x01A2, 0, 16)
    payload = write_cfb([("WordDocument", bytes(word))])
    with pytest.raises(ValueError):
        doc_to_text(payload)


def test_wpd_renderer_two_pages_and_group_skip():
    from zerox_spark.extract.legacy_office import wpd_to_pages
    from zerox_spark.synth import render_wpd

    pages = wpd_to_pages(render_wpd(9, "w1 w2 w3"))
    # the 0xD3 function group between title and body must vanish whole;
    # 0x80 soft spaces map back to spaces
    assert [(n, md) for n, md, _ in pages] == [
        (1, "Document 9\n\nw1 w2 w3"),
        (2, "Section 9\n\nw1 w2 w3"),
    ]


def test_wpd_mangled_group_degrades_and_header_contained():
    from zerox_spark.extract.legacy_office import wpd_to_pages

    # group with a size that doesn't land on a closing code: single-byte
    # skip, surrounding text survives
    body = b"ab\xd3\x01\xff\xffcd\x0a"
    payload = b"\xffWPC" + struct.pack("<I", 16) + b"\x00" * 8 + body
    assert wpd_to_pages(payload)[0][1] == "abcd"
    # document offset beyond EOF → contained
    bad = b"\xffWPC" + struct.pack("<I", 999999) + b"\x00" * 8
    pages = extract_document(bad, None, ExtractConfig(trust_text=False))
    assert pages[0].status == "ERROR"


def test_wpd_fixed_function_payload_does_not_leak():
    """0xC0-0xCF fixed multi-byte functions (e.g. extended-character
    [C0, char, charset, C0]) skip whole — their binary payload must not
    leak printable bytes into the text."""
    from zerox_spark.extract.legacy_office import wpd_to_pages

    body = b"ab" + bytes([0xC0, ord("$"), 0x24, 0xC0]) + b"cd\x0a"
    payload = b"\xffWPC" + struct.pack("<I", 16) + b"\x00" * 8 + body
    assert wpd_to_pages(payload)[0][1] == "abcd"


def test_ppt_text_type_resets_per_slide():
    """A slide whose first text atom has no TextHeaderAtom must default to
    body type, not inherit the previous slide's title type."""
    from zerox_spark.extract.legacy_office import ppt_to_pages
    from zerox_spark.synth import _ppt_rec

    s1 = _ppt_rec(0, 0, 0x03F3, bytes(20))
    s1 += _ppt_rec(0, 0, 0x0F9F, struct.pack("<I", 0))  # title
    s1 += _ppt_rec(0, 0, 0x0FA0, "T1".encode("utf-16-le"))
    s2 = _ppt_rec(0, 0, 0x03F3, bytes(20))
    s2 += _ppt_rec(0, 0, 0x0FA0, "plain".encode("utf-16-le"))  # no header
    doc = _ppt_rec(0xF, 0, 0x03E8, _ppt_rec(0xF, 0, 0x0FF0, s1 + s2))
    payload = write_cfb([("PowerPoint Document", doc)])
    pages = ppt_to_pages(payload)
    assert [md for _, md, _ in pages] == ["# T1", "plain"]


# --------------------------------------------------------------------------
# multi-edit encrypted .ppt


def _enc_ppt(doc_id: int, extra_dir_entries: bytes = b"", two_edits: bool = False) -> bytes:
    """A render_ppt_encrypted-style deck, optionally with a SECOND edit
    whose re-persisted DocumentContainer supersedes the first (both copies
    encrypted, as PowerPoint leaves them), or with adversarial extra
    persist-directory entries."""

    def slide(title: str, para: str) -> bytes:
        recs = _ppt_rec(0, 0, 0x03F3, bytes(20))
        recs += _ppt_rec(0, 0, 0x0F9F, struct.pack("<I", 0))
        recs += _ppt_rec(0, 0, 0x0FA0, title.encode("utf-16-le"))
        recs += _ppt_rec(0, 0, 0x0F9F, struct.pack("<I", 1))
        recs += _ppt_rec(0, 0, 0x0FA0, para.encode("utf-16-le"))
        return recs

    def doc_container(tag: str) -> bytes:
        sltw = _ppt_rec(0xF, 0, 0x0FF0, slide(f"Document {doc_id}", tag))
        return _ppt_rec(0xF, 0, 0x03E8, sltw)

    salt = _det_bytes(f"ppt7:{doc_id}", 16)
    base = oc._xls_capi_base(salt, oc.DEFAULT_PASSWORD)
    cs_rec = _ppt_rec(
        0xF, 0, oc.PPT_CRYPTSESSION,
        oc.build_legacy_encryption_header(salt, capi=True),
    )

    doc_v1 = doc_container("version one")
    enc_v1 = _rc4(oc._xls_block_key(base, 1, True, 16), doc_v1)
    off_v1, off_cs = 0, len(enc_v1)
    off_pd1 = off_cs + len(cs_rec)
    pd1_body = struct.pack("<III", (2 << 20) | 1, off_v1, off_cs)
    pd1 = _ppt_rec(0, 0, oc.PPT_PERSISTDIR, pd1_body + extra_dir_entries)
    off_ue1 = off_pd1 + len(pd1)
    ue1 = _ppt_rec(
        0, 0, oc.PPT_USEREDIT,
        struct.pack(
            "<IHBBIIIIHHI", 0, 0, 0, 3, 0, off_pd1, 1, 3, 0, 0, 2
        ),
    )
    stream = enc_v1 + cs_rec + pd1 + ue1
    cur_edit = off_ue1
    if two_edits:
        off_v2 = off_ue1 + len(ue1)
        doc_v2 = doc_container("version two")
        enc_v2 = _rc4(oc._xls_block_key(base, 1, True, 16), doc_v2)
        off_pd2 = off_v2 + len(enc_v2)
        pd2 = _ppt_rec(
            0, 0, oc.PPT_PERSISTDIR,
            struct.pack("<III", (2 << 20) | 1, off_v2, off_cs),
        )
        off_ue2 = off_pd2 + len(pd2)
        ue2 = _ppt_rec(
            0, 0, oc.PPT_USEREDIT,
            struct.pack(
                "<IHBBIIIIHHI", 0, 0, 0, 3, off_ue1, off_pd2, 1, 3, 0, 0, 2
            ),
        )
        stream += enc_v2 + pd2 + ue2
        cur_edit = off_ue2
    cu = _ppt_rec(
        0, 0, oc.PPT_CURRENTUSER,
        struct.pack(
            "<IIIHHBBHI",
            0x14, oc.PPT_TOKEN_ENCRYPTED, cur_edit, 0, 0x03F4, 3, 0, 0, 0,
        ),
    )
    return write_cfb([("PowerPoint Document", stream), ("Current User", cu)])


def test_ppt_multi_edit_decrypts_superseded_copies():
    payload = _enc_ppt(11, two_edits=True)
    pages = extract_document(payload, None, ExtractConfig(trust_text=False))
    assert all(p.status == "SUCCESS" for p in pages)
    md = "\n".join(p.markdown for p in pages)
    # the current edit's content extracts...
    assert "version two" in md
    # ...and nothing surfaced as mojibake: every emitted char is sane text
    assert "�" not in md


def test_ppt_single_edit_still_roundtrips():
    pages = extract_document(
        _enc_ppt(11), None, ExtractConfig(trust_text=False)
    )
    assert all(p.status == "SUCCESS" for p in pages)
    assert "version one" in "\n".join(p.markdown for p in pages)


def test_ppt_overlapping_persist_ranges_contained():
    # adversarial directory: persist 5 points INSIDE persist 1's extent —
    # decrypting both would double-RC4 the overlap after the first header
    # validated; the decryptor must refuse with the contained error
    payload = _enc_ppt(
        11, extra_dir_entries=struct.pack("<II", (1 << 20) | 5, 4)
    )
    pages = extract_document(payload, None, ExtractConfig(trust_text=False))
    assert len(pages) == 1 and pages[0].status == "ERROR"
    assert "persist" in (pages[0].error or "")


def test_ppt_duplicate_offset_under_two_ids_contained():
    # same offset listed under two persist ids: refuse, don't double-RC4
    payload = _enc_ppt(
        11, extra_dir_entries=struct.pack("<II", (1 << 20) | 5, 0)
    )
    pages = extract_document(payload, None, ExtractConfig(trust_text=False))
    assert len(pages) == 1 and pages[0].status == "ERROR"


# --------------------------------------------------------------------------
# encrypted .doc under the empty password (the second _LEGACY_PASSWORDS
# candidate)


def _doc_encrypted_under(password: str, capi: bool, doc_id: int = 9) -> bytes:
    """render_doc's streams encrypted per [MS-DOC] 2.2.6.2/.3 under
    ``password``: the EncryptionHeader and the keystream are built here
    from the key-derivation primitives, not from the module's own
    default-password header builder."""
    plain = CfbReader(render_doc(doc_id, "w1 w2 w3"))
    word = bytearray(plain.read_stream("WordDocument"))
    clx = plain.read_stream("1Table")
    salt = _det_bytes(f"docpw:{doc_id}", 16)
    derive = oc._xls_capi_base if capi else oc._xls_rc4_base
    rc4 = oc._Rc4Stream(derive(salt, password), capi, 16, oc.DOC_BLOCK_BYTES)
    verifier = b"\xa5" * 16
    vhash = (hashlib.sha1 if capi else hashlib.md5)(verifier).digest()
    enc = bytes(
        a ^ b
        for a, b in zip(
            verifier + vhash, rc4.keystream_at(0, 16 + len(vhash))
        )
    )
    if capi:
        hdr = struct.pack("<8I", 0, 0, 0x6801, 0x8004, 128, 0x18, 0, 0)
        header = (
            struct.pack("<HHII", 4, 2, 0, len(hdr))
            + hdr
            + struct.pack("<I", 16)
            + salt
            + enc[:16]
            + struct.pack("<I", 20)
            + enc[16:]
        )
    else:
        header = struct.pack("<HH", 1, 1) + salt + enc
    (flags,) = struct.unpack_from("<H", word, 0x0A)
    struct.pack_into("<H", word, 0x0A, flags | 0x0100)  # fEncrypted
    struct.pack_into("<I", word, 0x0E, len(header))  # lKey
    (fc_clx,) = struct.unpack_from("<I", word, 0x01A2)
    struct.pack_into("<I", word, 0x01A2, fc_clx + len(header))
    table = header + clx

    def encrypt_from(buf: bytes, start: int) -> bytes:
        ks = rc4.keystream_at(start, len(buf) - start)
        return buf[:start] + bytes(a ^ b for a, b in zip(buf[start:], ks))

    return write_cfb(
        [
            ("WordDocument", encrypt_from(bytes(word), 0x44)),
            ("1Table", encrypt_from(table, len(header))),
        ]
    )


@pytest.mark.parametrize("capi", [False, True])
def test_doc_encrypted_under_empty_password_extracts(capi):
    expected = [
        (p.page_no, p.markdown, p.status)
        for p in extract_document(render_doc(9, "w1 w2 w3"), None)
    ]
    pages = extract_document(_doc_encrypted_under("", capi), None)
    assert [(p.page_no, p.markdown, p.status) for p in pages] == expected
    assert expected and all(s == "SUCCESS" for _, _, s in expected)


@pytest.mark.parametrize("capi", [False, True])
def test_doc_encrypted_under_other_password_contained(capi):
    pages = extract_document(_doc_encrypted_under("hunter2", capi), None)
    assert [(p.status, p.error) for p in pages] == [
        (
            "ERROR",
            "ValueError: encrypted doc (password verifier rejected the "
            "default and empty passwords)",
        )
    ]
