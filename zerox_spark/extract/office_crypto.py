"""Encrypted Office documents (MS-OFFCRYPTO) with the DEFAULT password.

Excel writes "protected" workbooks encrypted under the hard-coded default
password ``VelvetSweatshop`` — the user never typed a password, Excel
tries the default transparently on open, and a web crawl contains plenty
of these (both legitimate protected sheets and the malware-delivery
shape). The reference opens them implicitly through libreoffice
(node-zerox/src/utils/file.ts:129-150); the deterministic engine needs
the algorithms:

- ECMA-376 **Standard Encryption** (MS-OFFCRYPTO §2.3.4.5): AES-ECB
  package, SHA-1 key derivation with 50,000 spins
- ECMA-376 **Agile Encryption** (§2.3.4.10): XML descriptor, AES-CBC in
  4096-byte segments, SHA-512 typical, spinCount from the descriptor
- BIFF8 **RC4 / RC4 CryptoAPI** (§2.3.6, §2.3.5 + MS-XLS §2.2.10): the
  legacy .xls FilePass shapes, 1024-byte rekeying blocks, exempt records

A payload encrypted under a NON-default password raises a clear
ValueError (→ contained ERROR upstream) — this module never guesses.
Key derivations are memoized per (salt, spin) so a corpus of same-salt
documents derives once per executor process (same policy as the PDF R6
hash). All primitives are stdlib hashlib + the package's FIPS-197 AES
(extract/aes.py) and RC4 (extract/pdf.py).
"""

from __future__ import annotations

import hashlib
import re
import struct
from functools import lru_cache

from zerox_spark.extract import aes

DEFAULT_PASSWORD = "VelvetSweatshop"

_SEGMENT = 4096  # agile package segment size

_HASHES = {
    "SHA1": hashlib.sha1,
    "SHA256": hashlib.sha256,
    "SHA384": hashlib.sha384,
    "SHA512": hashlib.sha512,
    "MD5": hashlib.md5,
}


def _utf16(password: str) -> bytes:
    return password.encode("utf-16-le")


# --------------------------------------------------------------------------
# ECMA-376 Standard Encryption (EncryptionInfo version 3.2 / 2.2 / 4.2)


@lru_cache(maxsize=64)
def _standard_key(salt: bytes, password: str, key_bytes: int) -> bytes:
    """§2.3.4.7: 50,000-spin SHA-1 chain + the X1/X2 HMAC-style pads."""
    h = hashlib.sha1(salt + _utf16(password)).digest()
    for i in range(50_000):
        h = hashlib.sha1(struct.pack("<I", i) + h).digest()
    h = hashlib.sha1(h + struct.pack("<I", 0)).digest()
    pad = h + b"\x00" * (64 - len(h))
    x1 = hashlib.sha1(bytes(0x36 ^ b for b in pad)).digest()
    if key_bytes <= len(x1):
        return x1[:key_bytes]
    x2 = hashlib.sha1(bytes(0x5C ^ b for b in pad)).digest()
    return (x1 + x2)[:key_bytes]


def _decrypt_standard(info: bytes, package: bytes, password: str) -> bytes:
    # EncryptionVersionInfo(4) Flags(4) HeaderSize(4) Header Verifier
    (header_size,) = struct.unpack_from("<I", info, 8)
    header = info[12 : 12 + header_size]
    alg_id, _alg_hash, key_size = struct.unpack_from("<III", header, 8)
    if alg_id not in (0x660E, 0x660F, 0x6610):  # AES-128/192/256
        raise ValueError(f"standard encryption with AlgID {alg_id:#x}")
    key_bytes = (key_size // 8) or 16
    v = 12 + header_size
    (salt_size,) = struct.unpack_from("<I", info, v)
    salt = info[v + 4 : v + 4 + salt_size]
    enc_verifier = info[v + 4 + salt_size : v + 20 + salt_size]
    (vh_size,) = struct.unpack_from("<I", info, v + 20 + salt_size)
    # same clamp as _parse_encryption_header: the digest is SHA-1 (20
    # bytes); a zero vh_size would make the verifier compare b'' == b''
    # and "validate" ANY password, decrypting the package to garbage
    # instead of the contract's clear password error
    if not 0 < vh_size <= 64:
        raise ValueError(
            f"encryption verifier hash size {vh_size} out of range"
        )
    enc_vhash = info[v + 24 + salt_size : v + 24 + salt_size + 32]
    key = _standard_key(salt, password, key_bytes)
    verifier = aes.ecb_decrypt(key, enc_verifier)
    vhash = aes.ecb_decrypt(key, enc_vhash)
    if hashlib.sha1(verifier).digest()[:vh_size] != vhash[:vh_size]:
        raise ValueError(
            "encrypted Office package (password verifier rejected the "
            "default password)"
        )
    (size,) = struct.unpack_from("<Q", package, 0)
    plain = aes.ecb_decrypt(key, package[8:])
    return plain[:size]


# --------------------------------------------------------------------------
# ECMA-376 Agile Encryption (EncryptionInfo version 4.4, XML descriptor)

_AGILE_BLOCK_VERIFIER_INPUT = bytes.fromhex("fea7d2763b4b9e79")
_AGILE_BLOCK_VERIFIER_VALUE = bytes.fromhex("d7aa0f6d3061344e")
_AGILE_BLOCK_KEY_VALUE = bytes.fromhex("146e0be7abacd0d6")


def _xml_attr(xml: str, elem: str, attr: str) -> str | None:
    m = re.search(rf"<{elem}\b[^>]*?\b{attr}=\"([^\"]*)\"", xml)
    if m is None:
        # the encryptedKey element carries p: or no prefix depending on
        # producer — retry matching the attr anywhere on the element name
        m = re.search(rf"<[\w:]*{elem}\b[^>]*?\b{attr}=\"([^\"]*)\"", xml)
    return m.group(1) if m else None


# real agile files use 100,000 spins (Office default); the descriptor is
# attacker-controlled, so an uncapped read would let one crafted row wedge
# an executor in an unbounded hash loop — same budget philosophy as
# MAX_STREAM_BYTES (a 10x-of-default ceiling, contained error above)
MAX_SPIN_COUNT = 1_000_000


@lru_cache(maxsize=64)
def _agile_password_hash(
    salt: bytes, password: str, spin: int, hash_name: str
) -> bytes:
    if spin > MAX_SPIN_COUNT:
        raise ValueError(f"agile spinCount {spin} exceeds the budget")
    hfn = _HASHES[hash_name]
    h = hfn(salt + _utf16(password)).digest()
    for i in range(spin):
        h = hfn(struct.pack("<I", i) + h).digest()
    return h


def _decrypt_agile(info: bytes, package: bytes, password: str) -> bytes:
    import base64

    xml = info[8:].decode("utf-8", errors="ignore")

    def need(elem: str, attr: str) -> str:
        val = _xml_attr(xml, elem, attr)
        if val is None:
            raise ValueError(f"agile descriptor missing {elem}@{attr}")
        return val

    # keyData — the PACKAGE cipher parameters
    kd_salt = base64.b64decode(need("keyData", "saltValue"))
    kd_hash = need("keyData", "hashAlgorithm").upper().replace("-", "")
    kd_block = int(need("keyData", "blockSize"))
    kd_keybits = int(need("keyData", "keyBits"))
    # password keyEncryptor
    pk_salt = base64.b64decode(need("encryptedKey", "saltValue"))
    pk_hash = need("encryptedKey", "hashAlgorithm").upper().replace("-", "")
    pk_keybits = int(need("encryptedKey", "keyBits"))
    spin = int(need("encryptedKey", "spinCount"))
    enc_vinput = base64.b64decode(
        need("encryptedKey", "encryptedVerifierHashInput")
    )
    enc_vvalue = base64.b64decode(
        need("encryptedKey", "encryptedVerifierHashValue")
    )
    enc_keyval = base64.b64decode(need("encryptedKey", "encryptedKeyValue"))
    if pk_hash not in _HASHES or kd_hash not in _HASHES:
        raise ValueError(f"agile hash {pk_hash}/{kd_hash} unsupported")
    hfn = _HASHES[pk_hash]
    h = _agile_password_hash(pk_salt, password, spin, pk_hash)

    def pkey(block: bytes) -> bytes:
        k = hfn(h + block).digest()
        n = pk_keybits // 8
        return (k + b"\x36" * n)[:n]

    def cbc(key: bytes, iv: bytes, data: bytes) -> bytes:
        iv = (iv + b"\x36" * 16)[:16]
        return aes.cbc_decrypt(key, iv, data, unpad=False)

    vinput = cbc(pkey(_AGILE_BLOCK_VERIFIER_INPUT), pk_salt, enc_vinput)
    vvalue = cbc(pkey(_AGILE_BLOCK_VERIFIER_VALUE), pk_salt, enc_vvalue)
    expect = hfn(vinput[: len(pk_salt)]).digest()
    if vvalue[: len(expect)] != expect:
        raise ValueError(
            "encrypted Office package (password verifier rejected the "
            "default password)"
        )
    ikey = cbc(pkey(_AGILE_BLOCK_KEY_VALUE), pk_salt, enc_keyval)[
        : kd_keybits // 8
    ]
    (size,) = struct.unpack_from("<Q", package, 0)
    body = package[8:]
    khash = _HASHES[kd_hash]
    out = bytearray()
    for seg in range((len(body) + _SEGMENT - 1) // _SEGMENT):
        iv = khash(kd_salt + struct.pack("<I", seg)).digest()[:kd_block]
        chunk = body[seg * _SEGMENT : (seg + 1) * _SEGMENT]
        out += aes.cbc_decrypt(ikey, iv, chunk, unpad=False)
    return bytes(out[:size])


def decrypt_ooxml_package(
    info: bytes, package: bytes, password: str = DEFAULT_PASSWORD
) -> bytes:
    """EncryptionInfo + EncryptedPackage streams → the plaintext zip."""
    if len(info) < 8:
        raise ValueError("EncryptionInfo too short")
    major, minor = struct.unpack_from("<HH", info, 0)
    if (major, minor) == (4, 4):
        return _decrypt_agile(info, package, password)
    if minor == 2 and major in (2, 3, 4):
        return _decrypt_standard(info, package, password)
    if minor == 3:
        raise ValueError("extensible encryption unsupported")
    raise ValueError(f"EncryptionInfo version {major}.{minor} unsupported")


# --------------------------------------------------------------------------
# fixture-synthesis encrypt direction (the decrypt paths above are the
# product surface; these exist so tests/synth produce REAL encrypted
# containers rather than mocks)

_CSP_AES = "Microsoft Enhanced RSA and AES Cryptographic Provider\x00"


def encrypt_ooxml_standard(
    zip_bytes: bytes, salt: bytes, password: str = DEFAULT_PASSWORD
) -> tuple[bytes, bytes]:
    """→ (EncryptionInfo, EncryptedPackage), ECMA-376 standard/AES-128."""
    key = _standard_key(salt, password, 16)
    verifier = hashlib.md5(salt).digest()  # any deterministic 16 bytes
    enc_verifier = aes.ecb_encrypt(key, verifier)
    vhash = hashlib.sha1(verifier).digest()
    enc_vhash = aes.ecb_encrypt(key, vhash + b"\x00" * 12)
    header = (
        struct.pack("<IIIIIIII", 0x24, 0, 0x660E, 0x8004, 128, 0x18, 0, 0)
        + _CSP_AES.encode("utf-16-le")
    )
    info = (
        struct.pack("<HH", 3, 2)
        + struct.pack("<I", 0x24)
        + struct.pack("<I", len(header))
        + header
        + struct.pack("<I", len(salt))
        + salt
        + enc_verifier
        + struct.pack("<I", 20)
        + enc_vhash
    )
    package = struct.pack("<Q", len(zip_bytes)) + aes.ecb_encrypt(
        key, zip_bytes
    )
    return info, package


def encrypt_ooxml_agile(
    zip_bytes: bytes,
    salt: bytes,
    password: str = DEFAULT_PASSWORD,
    spin: int = 1000,
) -> tuple[bytes, bytes]:
    """→ (EncryptionInfo, EncryptedPackage), agile AES-128-CBC/SHA-512.
    spin defaults low for fixture speed; the decryptor reads it from the
    descriptor, so real-world 100k-spin files work identically."""
    import base64

    hfn = _HASHES["SHA512"]
    h = _agile_password_hash(salt, password, spin, "SHA512")

    def pkey(block: bytes) -> bytes:
        return (hfn(h + block).digest() + b"\x36" * 16)[:16]

    def cbc_enc(key: bytes, iv: bytes, data: bytes) -> bytes:
        iv = (iv + b"\x36" * 16)[:16]
        if len(data) % 16:
            data += b"\x00" * (16 - len(data) % 16)
        return aes.cbc_encrypt_nopad(key, iv, data)

    vinput = hashlib.md5(salt + b"vi").digest()  # deterministic 16 bytes
    enc_vinput = cbc_enc(pkey(_AGILE_BLOCK_VERIFIER_INPUT), salt, vinput)
    vvalue = hfn(vinput).digest()
    enc_vvalue = cbc_enc(pkey(_AGILE_BLOCK_VERIFIER_VALUE), salt, vvalue)
    ikey = hashlib.sha256(salt + b"ik").digest()[:16]
    enc_keyval = cbc_enc(pkey(_AGILE_BLOCK_KEY_VALUE), salt, ikey)
    kd_salt = hashlib.md5(salt + b"kd").digest()
    b64 = lambda b: base64.b64encode(b).decode()  # noqa: E731
    xml = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<encryption xmlns="http://schemas.microsoft.com/office/2006/'
        'encryption">'
        f'<keyData saltSize="16" blockSize="16" keyBits="128" '
        f'hashSize="64" cipherAlgorithm="AES" '
        f'cipherChaining="ChainingModeCBC" hashAlgorithm="SHA512" '
        f'saltValue="{b64(kd_salt)}"/>'
        "<keyEncryptors><keyEncryptor "
        'uri="http://schemas.microsoft.com/office/2006/keyEncryptor/'
        'password">'
        f'<p:encryptedKey xmlns:p="http://schemas.microsoft.com/office/'
        f'2006/keyEncryptor/password" spinCount="{spin}" saltSize="16" '
        f'blockSize="16" keyBits="128" hashSize="64" '
        f'cipherAlgorithm="AES" cipherChaining="ChainingModeCBC" '
        f'hashAlgorithm="SHA512" saltValue="{b64(salt)}" '
        f'encryptedVerifierHashInput="{b64(enc_vinput)}" '
        f'encryptedVerifierHashValue="{b64(enc_vvalue)}" '
        f'encryptedKeyValue="{b64(enc_keyval)}"/>'
        "</keyEncryptor></keyEncryptors></encryption>"
    )
    info = struct.pack("<HHI", 4, 4, 0x40) + xml.encode()
    out = bytearray(struct.pack("<Q", len(zip_bytes)))
    for seg in range((len(zip_bytes) + _SEGMENT - 1) // _SEGMENT):
        chunk = zip_bytes[seg * _SEGMENT : (seg + 1) * _SEGMENT]
        if len(chunk) % 16:
            chunk += b"\x00" * (16 - len(chunk) % 16)
        iv = hfn(kd_salt + struct.pack("<I", seg)).digest()[:16]
        out += aes.cbc_encrypt_nopad(ikey, iv, chunk)
    return info, bytes(out)


# --------------------------------------------------------------------------
# BIFF8 FilePass (.xls): RC4 and RC4 CryptoAPI, 1024-byte rekey blocks

XLS_FILEPASS = 0x002F
_XLS_BOF = 0x0809
_XLS_BOUNDSHEET = 0x0085
_XLS_INTERFACEHDR = 0x00E1
# records whose PAYLOAD is stored in the clear (MS-XLS 2.2.10); record
# headers (4 bytes) are always clear. BoundSheet8 additionally stores its
# first 4 bytes (lbPlyPos) in the clear. The full §2.2.10 exemption list
# includes the revision/locking records (UsrExcl, FileLock, RRDInfo,
# RRDHeadEr) — the text reader ignores them, but decrypting a clear
# payload would garble it for any future consumer (ADVICE r5 #3).
_CLEAR_RECORDS = frozenset(
    {
        _XLS_BOF,
        XLS_FILEPASS,
        _XLS_INTERFACEHDR,
        0x0194,  # UsrExcl
        0x0195,  # FileLock
        0x0196,  # RRDInfo
        0x0138,  # RRDHeadEr
    }
)


@lru_cache(maxsize=64)
def _xls_rc4_base(salt: bytes, password: str) -> bytes:
    """§2.3.6.2 standard RC4: MD5 truncate-and-stretch."""
    trunc = hashlib.md5(_utf16(password)).digest()[:5]
    return hashlib.md5((trunc + salt) * 16).digest()[:5]


@lru_cache(maxsize=64)
def _xls_capi_base(salt: bytes, password: str) -> bytes:
    """§2.3.5.2 CryptoAPI RC4: SHA-1(salt + password)."""
    return hashlib.sha1(salt + _utf16(password)).digest()


def _xls_block_key(base: bytes, block: int, capi: bool, klen: int) -> bytes:
    if capi:
        key = hashlib.sha1(base + struct.pack("<I", block)).digest()[:klen]
        if klen == 5:  # 40-bit CryptoAPI keys pad to 16 with zeros
            key += b"\x00" * 11
        return key
    return hashlib.md5(base + struct.pack("<I", block)).digest()[:16]


class _Rc4Stream:
    """Position-addressed RC4 keystream with per-block rekeying — the
    keystream advances over EVERY stream byte (clear bytes included), and
    the cipher re-keys at each block boundary. BIFF8 uses 1024-byte
    blocks (MS-XLS §2.2.10); Word97 uses 512-byte blocks ([MS-DOC]
    §2.2.6.2/.3)."""

    def __init__(
        self, base: bytes, capi: bool, klen: int, block_bytes: int = 1024
    ):
        from zerox_spark.extract.pdf import _rc4

        self._rc4 = _rc4
        self.base = base
        self.capi = capi
        self.klen = klen
        self.block_bytes = block_bytes
        self._block = -1
        self._ks = b""

    def keystream_at(self, pos: int, n: int) -> bytes:
        out = bytearray()
        while n:
            block, off = divmod(pos, self.block_bytes)
            if block != self._block:
                key = _xls_block_key(self.base, block, self.capi, self.klen)
                self._ks = self._rc4(key, b"\x00" * self.block_bytes)
                self._block = block
            take = min(n, self.block_bytes - off)
            out += self._ks[off : off + take]
            pos += take
            n -= take
        return bytes(out)


def _parse_encryption_header(body: bytes):
    """A VERSION-FIRST EncryptionHeader (no FilePass wEncryptionType
    prefix — the layout the Word97 Table stream ([MS-DOC] §2.2.6) and the
    PPT CryptSession10Container ([MS-PPT] §2.3.5) store) → (kind, salt,
    enc_verifier, enc_vhash, vh_size, klen). kind 'rc4' = MS-OFFCRYPTO
    §2.3.6.1 (version 1.1: salt + verifier + hash); 'capi' = §2.3.5.1
    (flags + sized header + verifier)."""
    vmajor, vminor = struct.unpack_from("<HH", body, 0)
    if vmajor == 1 and vminor == 1:
        if len(body) < 52:
            raise ValueError("RC4 encryption header truncated")
        return "rc4", body[4:20], body[20:36], body[36:52], 16, 16
    if vminor == 2 and vmajor in (2, 3, 4):
        # vMajor(2) vMinor(2) headerFlags(4) headerSize(4)
        # EncryptionHeader(headerSize) EncryptionVerifier
        (hdr_size,) = struct.unpack_from("<I", body, 8)
        hdr = body[12 : 12 + hdr_size]
        (key_size,) = struct.unpack_from("<I", hdr, 16)
        klen = (key_size // 8) or 5
        at = 12 + hdr_size
        (salt_size,) = struct.unpack_from("<I", body, at)
        at += 4
        salt = body[at : at + salt_size]
        enc_verifier = body[at + salt_size : at + salt_size + 16]
        (vh_size,) = struct.unpack_from("<I", body, at + salt_size + 16)
        # §2.3.5.1: verifierHashSize is the DIGEST length — 20 for the
        # only hash this header family uses (SHA-1). An attacker-chosen
        # huge value would drive 16+vh_size bytes of RC4 keystream PER
        # PASSWORD ATTEMPT in the verifiers below (u32 max ≈ 8 GB) —
        # clamp hard; no legitimate digest exceeds 64 bytes
        if not 0 < vh_size <= 64:
            raise ValueError(
                f"encryption verifier hash size {vh_size} out of range"
            )
        enc_vhash = body[
            at + salt_size + 20 : at + salt_size + 20 + max(vh_size, 20)
        ]
        return "capi", salt, enc_verifier, enc_vhash, vh_size, klen
    raise ValueError(
        f"encryption header version {vmajor}.{vminor} unsupported"
    )


def _try_passwords(fields, passwords, block_bytes: int = 1024):
    """Run the §2.3.5.6/§2.3.6.4 password verifier for each candidate;
    → the keystream (_Rc4Stream) of the first that validates, else None."""
    kind, salt, enc_verifier, enc_vhash, vh_size, klen = fields
    capi = kind == "capi"
    for pwd in passwords:
        base = (
            _xls_capi_base(salt, pwd) if capi else _xls_rc4_base(salt, pwd)
        )
        rc4 = _Rc4Stream(base, capi, klen, block_bytes)
        ks = rc4.keystream_at(0, 16 + vh_size)
        verifier = aes.xor_bytes(enc_verifier, ks[:16])
        vhash = aes.xor_bytes(enc_vhash, ks[16 : 16 + vh_size])
        hfn = hashlib.sha1 if capi else hashlib.md5
        if hfn(verifier).digest()[:vh_size] == vhash:
            return rc4
    return None


def _xls_transform(wb: bytes, rc4: _Rc4Stream) -> bytes:
    """Walk the workbook stream applying the RC4 keystream to every
    non-exempt payload byte. Symmetric (XOR), so the same walk encrypts
    (synth fixtures) and decrypts."""
    out = bytearray(wb)
    pos = 0
    n = len(wb)
    while pos + 4 <= n:
        op, ln = struct.unpack_from("<HH", wb, pos)
        body_at = pos + 4
        if body_at + ln > n:
            break
        if op not in _CLEAR_RECORDS and ln:
            start, length = body_at, ln
            if op == _XLS_BOUNDSHEET and ln >= 4:
                start, length = body_at + 4, ln - 4  # lbPlyPos is clear
            out[start : start + length] = aes.xor_bytes(
                wb[start : start + length], rc4.keystream_at(start, length)
            )
        pos = body_at + ln
        if op == 0x000A and pos >= n:  # trailing EOF
            break
    return bytes(out)


def decrypt_xls_stream(wb: bytes) -> bytes:
    """Workbook stream with a FilePass record → decrypted stream (the
    FilePass record itself is left in place; the BIFF reader ignores it).
    Raises ValueError when the default password fails."""
    # FilePass must appear in the workbook-globals substream, right after
    # BOF — scan the first few records for it
    pos = 0
    fp_body = None
    for _ in range(16):
        if pos + 4 > len(wb):
            break
        op, ln = struct.unpack_from("<HH", wb, pos)
        if op == XLS_FILEPASS:
            fp_body = wb[pos + 4 : pos + 4 + ln]
            break
        pos += 4 + ln
    if fp_body is None:
        return wb  # not encrypted
    (enc_type,) = struct.unpack_from("<H", fp_body, 0)
    if enc_type == 0x0000:
        raise ValueError("xls XOR obfuscation unsupported")
    rc4 = _try_passwords(
        _parse_encryption_header(fp_body[2:]), (DEFAULT_PASSWORD,)
    )
    if rc4 is None:
        raise ValueError(
            "encrypted xls (password verifier rejected the default "
            "password)"
        )
    return _xls_transform(wb, rc4)


def encrypt_xls_stream(
    wb: bytes, salt: bytes, capi: bool = False
) -> bytes:
    """Fixture-synthesis inverse: insert a FilePass after BOF and encrypt
    the stream under the default password (standard RC4 or CryptoAPI)."""
    header = build_legacy_encryption_header(salt, capi, 1024)
    body = struct.pack("<H", 1) + header  # wEncryptionType: RC4
    # insert FilePass right after the stream-leading BOF record; every
    # BoundSheet8 lbPlyPos is an ABSOLUTE stream offset, so offsets past
    # the insertion point shift by the record's size
    op, ln = struct.unpack_from("<HH", wb, 0)
    insert_at = 4 + ln if op == _XLS_BOF else 0
    fp = struct.pack("<HH", XLS_FILEPASS, len(body)) + body
    with_fp = bytearray(wb[:insert_at] + fp + wb[insert_at:])
    pos = 0
    while pos + 4 <= len(with_fp):
        rop, rln = struct.unpack_from("<HH", with_fp, pos)
        if rop == _XLS_BOUNDSHEET and rln >= 4:
            (ply,) = struct.unpack_from("<I", with_fp, pos + 4)
            if ply >= insert_at:
                struct.pack_into("<I", with_fp, pos + 4, ply + len(fp))
        pos += 4 + rln
    rc4 = _try_passwords(_parse_encryption_header(header), (DEFAULT_PASSWORD,))
    return _xls_transform(bytes(with_fp), rc4)


# --------------------------------------------------------------------------
# Word97 .doc ([MS-DOC] 2.2.6.2 Office Binary RC4 / 2.2.6.3 RC4 CryptoAPI)

DOC_BLOCK_BYTES = 512  # Word rekeys every 512 bytes (BIFF8 uses 1024)
# candidate passwords: Excel's implicit default first (mixed-producer
# crawls reuse it), then the empty password; anything else is honestly
# locked → contained error
_LEGACY_PASSWORDS = (DEFAULT_PASSWORD, "")


def build_legacy_encryption_header(
    salt: bytes, capi: bool, block_bytes: int = DOC_BLOCK_BYTES
) -> bytes:
    """Fixture-synthesis inverse: a VERSION-FIRST EncryptionHeader whose
    verifier validates under DEFAULT_PASSWORD (the layout Word97 Table
    streams and PPT CryptSession containers store — no FilePass
    wEncryptionType prefix)."""
    verifier = b"\xa5" * 16
    if capi:
        base = _xls_capi_base(salt, DEFAULT_PASSWORD)
        ks = _Rc4Stream(base, True, 16, block_bytes).keystream_at(0, 36)
        enc_verifier = aes.xor_bytes(verifier, ks[:16])
        enc_vhash = aes.xor_bytes(hashlib.sha1(verifier).digest(), ks[16:36])
        csp = "Microsoft Enhanced Cryptographic Provider v1.0\x00".encode(
            "utf-16-le"
        )
        header = (
            struct.pack("<IIIIIIII", 0, 0, 0x6801, 0x8004, 128, 0x18, 0, 0)
            + csp
        )
        return (
            struct.pack("<HH", 4, 2)
            + struct.pack("<II", 0, len(header))
            + header
            + struct.pack("<I", 16)
            + salt
            + enc_verifier
            + struct.pack("<I", 20)
            + enc_vhash
        )
    base = _xls_rc4_base(salt, DEFAULT_PASSWORD)
    ks = _Rc4Stream(base, False, 16, block_bytes).keystream_at(0, 32)
    enc_verifier = aes.xor_bytes(verifier, ks[:16])
    enc_vhash = aes.xor_bytes(hashlib.md5(verifier).digest(), ks[16:32])
    return struct.pack("<HH", 1, 1) + salt + enc_verifier + enc_vhash


def transform_doc_streams(
    word: bytes, table: bytes
) -> tuple[bytes, bytes]:
    """[MS-DOC] stream decryption (XOR-symmetric — the synth fixtures run
    the SAME transform to encrypt): FibBase.lKey (offset 0x0E) sizes the
    EncryptionHeader stored at the START of the Table stream; everything
    past the 0x44-byte FibBase in WordDocument and past the header in the
    Table stream is RC4-encrypted, keystream positions addressed by
    ABSOLUTE stream offset in 512-byte blocks ([MS-OFFCRYPTO] §2.3.6.2 —
    the clear prefixes consume keystream but are stored clear, the same
    convention BIFF8's clear records follow). Raises ValueError when no
    candidate password validates."""
    if len(word) < 0x44:
        raise ValueError("encrypted doc (WordDocument too short)")
    (lkey,) = struct.unpack_from("<I", word, 0x0E)
    if not 4 <= lkey <= len(table):
        raise ValueError(f"encrypted doc (bad lKey {lkey})")
    fields = _parse_encryption_header(table[:lkey])
    rc4 = _try_passwords(fields, _LEGACY_PASSWORDS, DOC_BLOCK_BYTES)
    if rc4 is None:
        raise ValueError(
            "encrypted doc (password verifier rejected the default and "
            "empty passwords)"
        )

    def xor_from(buf: bytes, start: int) -> bytes:
        ks = rc4.keystream_at(start, len(buf) - start)
        return buf[:start] + aes.xor_bytes(buf[start:], ks)

    return xor_from(word, 0x44), xor_from(table, lkey)


# --------------------------------------------------------------------------
# PowerPoint97 .ppt ([MS-PPT] 2.3.5 CryptSession10Container — RC4
# CryptoAPI over persist objects, block number = persist object id)

PPT_CRYPTSESSION = 0x2F14
PPT_USEREDIT = 0x0FF5
PPT_PERSISTDIR = 0x1772
PPT_CURRENTUSER = 0x0FF6
# CurrentUserAtom.headerToken ([MS-PPT] 2.3.2): the two magic values
PPT_TOKEN_CLEAR = 0xE391C05F
PPT_TOKEN_ENCRYPTED = 0xF3D1C4DF
_PPT_MAX_EDITS = 64


def _ppt_persist_map(stream: bytes, edit_off: int):
    """Chase the UserEditAtom chain (offsetLastEdit) collecting persist
    directories; the CURRENT edit's entries win in the id→offset map, but
    every (id, offset) pair across the chain is ALSO returned: in a
    multi-edit deck the superseded copies of re-persisted objects still
    sit in the stream as ciphertext, and the linear record walker would
    parse them — they must be decrypted too, not just the winners.
    → ({persist_id: current_offset}, [(persist_id, offset) …all edits],
    encrypt_session_persist_id | None)."""
    persists: dict[int, int] = {}
    pairs: list[tuple[int, int]] = []
    crypt_ref = None
    seen: set[int] = set()
    off = edit_off
    while off and off not in seen and len(seen) < _PPT_MAX_EDITS:
        seen.add(off)
        if off + 8 > len(stream):
            break
        _vi, rectype, reclen = struct.unpack_from("<HHI", stream, off)
        if rectype != PPT_USEREDIT or off + 8 + reclen > len(stream):
            break
        body = stream[off + 8 : off + 8 + reclen]
        # lastSlideIdRef(4) version(2) minor(1) major(1) offsetLastEdit(4)
        # offsetPersistDirectory(4) docPersistIdRef(4) persistIdSeed(4)
        # lastView(2) unused(2) [encryptSessionPersistIdRef(4)]
        if len(body) < 24:
            break
        (off_last,) = struct.unpack_from("<I", body, 8)
        (off_pd,) = struct.unpack_from("<I", body, 12)
        if crypt_ref is None and len(body) >= 32:
            (crypt_ref,) = struct.unpack_from("<I", body, 28)
        if off_pd + 8 <= len(stream):
            _vi2, t2, l2 = struct.unpack_from("<HHI", stream, off_pd)
            if t2 == PPT_PERSISTDIR and off_pd + 8 + l2 <= len(stream):
                p = off_pd + 8
                end = off_pd + 8 + l2
                while p + 4 <= end:
                    (ent,) = struct.unpack_from("<I", stream, p)
                    pid, count = ent & 0xFFFFF, ent >> 20
                    p += 4
                    for k in range(count):
                        if p + 4 > end:
                            break
                        (o,) = struct.unpack_from("<I", stream, p)
                        p += 4
                        # earlier edits must not clobber the current one
                        persists.setdefault(pid + k, o)
                        pairs.append((pid + k, o))
        off = off_last
    return persists, pairs, crypt_ref


def decrypt_ppt_document(stream: bytes, current_user: bytes) -> bytes:
    """Decrypt an RC4-CryptoAPI-encrypted ``PowerPoint Document`` stream
    in place ([MS-PPT] 2.3.5): the CurrentUserAtom's headerToken flags
    encryption; UserEditAtom/PersistDirectoryAtom (stored CLEAR) locate
    every persist object and the CryptSession10Container, whose payload
    is a CryptoAPI EncryptionHeader. Each persist object EXCEPT the crypt
    session is one RC4 unit keyed with block number = its persist id.
    Every decrypted record header is bounds-validated — a structural
    mismatch raises a contained error, never garbled SUCCESS text. A
    clear-token stream passes through untouched."""
    if len(current_user) < 20:
        return stream
    (token,) = struct.unpack_from("<I", current_user, 12)
    if token != PPT_TOKEN_ENCRYPTED:
        return stream
    (edit_off,) = struct.unpack_from("<I", current_user, 16)
    persists, pairs, crypt_ref = _ppt_persist_map(stream, edit_off)
    if crypt_ref is None or crypt_ref not in persists:
        raise ValueError("encrypted ppt (no crypt session persist)")
    cs_off = persists[crypt_ref]
    if cs_off + 8 > len(stream):
        raise ValueError("encrypted ppt (crypt session out of range)")
    _vi, cs_type, cs_len = struct.unpack_from("<HHI", stream, cs_off)
    if cs_type != PPT_CRYPTSESSION or cs_off + 8 + cs_len > len(stream):
        raise ValueError("encrypted ppt (bad crypt session record)")
    fields = _parse_encryption_header(
        stream[cs_off + 8 : cs_off + 8 + cs_len]
    )
    rc4 = _try_passwords(fields, _LEGACY_PASSWORDS)
    if rc4 is None:
        raise ValueError(
            "encrypted ppt (password verifier rejected the default and "
            "empty passwords)"
        )
    from zerox_spark.extract.pdf import _rc4

    out = bytearray(stream)
    # Decrypt EVERY (id, offset) pair seen across the edit chain, not just
    # the current-edit winners: superseded copies of re-persisted objects
    # remain in the stream and the linear walker parses them — leaving
    # them ciphertext would truncate the walk on a random reclen or emit
    # mojibake as SUCCESS text. Offsets are processed in order with each
    # decrypted extent tracked: an adversarial directory listing
    # overlapping persist ranges would otherwise RC4 the overlap twice
    # after its first header already validated — garbled bytes instead of
    # a contained error.
    todo = sorted(
        {(o, pid) for pid, o in pairs if pid != crypt_ref and o + 8 <= len(stream)}
    )
    prev_end = -1
    prev_off = -1
    for off, pid in todo:
        if off == prev_off:
            raise ValueError(
                "encrypted ppt (one persist offset listed under two "
                "persist ids — refusing to double-decrypt)"
            )
        if off < prev_end:
            raise ValueError(
                "encrypted ppt (overlapping persist ranges in the "
                "directory — structure mismatch, refusing to emit garbage)"
            )
        key = _xls_block_key(rc4.base, pid, True, rc4.klen)
        head = _rc4(key, bytes(out[off : off + 8]))
        _vi, rectype, reclen = struct.unpack("<HHI", head)
        if off + 8 + reclen > len(stream):
            raise ValueError(
                "encrypted ppt (decrypted persist header fails bounds "
                "check — structure mismatch, refusing to emit garbage)"
            )
        dec = _rc4(key, bytes(out[off : off + 8 + reclen]))
        out[off : off + 8 + reclen] = dec
        prev_end = off + 8 + reclen
        prev_off = off
    # neutralize the crypt-session record so the plain walker (which
    # treats 0x2F14 as "encrypted, contained error") skips it as an
    # unknown atom; its length stays intact for the linear walk. Earlier
    # edits' superseded crypt-session copies (stored clear, like the
    # current one) get the same treatment.
    for off in {o for pid, o in pairs if pid == crypt_ref}:
        if off + 8 <= len(out):
            _vo, t_o, l_o = struct.unpack_from("<HHI", out, off)
            if t_o == PPT_CRYPTSESSION and off + 8 + l_o <= len(out):
                struct.pack_into("<H", out, off + 2, 0x0000)
    struct.pack_into("<H", out, cs_off + 2, 0x0000)
    return bytes(out)
