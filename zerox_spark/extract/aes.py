"""Pure-Python AES (FIPS-197) + ECB/CBC helpers for PDF standard security
and encrypted Office documents (MS-OFFCRYPTO, extract/office_crypto.py).

Why hand-rolled: the container bans third-party installs and the stdlib has
no AES, yet AES is how every post-2005 "owner-locked" PDF in a crawl is
encrypted (Acrobat defaults to /AESV2 since PDF 1.6, /AESV3 since 1.7ext3).
The reference consumes these transparently because its raster path shells
out to poppler/ghostscript (node-zerox/src/utils/file.ts:153-207); the
deterministic text-layer engine needs the cipher itself.

Scale shape: CBC *decryption* is data-parallel — P_i = D(C_i) XOR C_{i-1}
— so the hot path (decrypting every stream of every PDF in a partition)
runs as one numpy-vectorized ECB pass over all blocks at once plus one
shifted XOR. CBC *encryption* is inherently sequential; it only runs in
fixture synthesis and in the R6 password hash (Algorithm 2.B), which is
memoized per (password, salt, udata) so a corpus sharing an /Encrypt dict
pays it once per executor process.

Everything here derives from the public FIPS-197 spec and ISO 32000-1/2
§7.6; no reference code exists for this (the reference has no cipher).
"""

from __future__ import annotations

import hashlib
import struct
from functools import lru_cache

import numpy as np

# -- tables (computed from the spec's GF(2^8) algebra, not pasted) ---------


def _xtime(a: int) -> int:
    a <<= 1
    return (a ^ 0x1B) & 0xFF if a & 0x100 else a


def _gmul(a: int, b: int) -> int:
    p = 0
    while b:
        if b & 1:
            p ^= a
        a = _xtime(a)
        b >>= 1
    return p


def _build_sbox() -> tuple[list[int], list[int]]:
    # multiplicative inverse via 3 as generator, then the affine transform
    sbox = [0] * 256
    inv = [0] * 256
    p = q = 1
    while True:
        p = p ^ _xtime(p)  # p *= 3
        q ^= q << 1
        q ^= q << 2
        q ^= q << 4
        q &= 0xFF
        if q & 0x80:
            q ^= 0x09
        # q = p^-1; affine: q ^ rotl(q,1..4) ^ 0x63
        x = q ^ ((q << 1) | (q >> 7)) ^ ((q << 2) | (q >> 6)) \
            ^ ((q << 3) | (q >> 5)) ^ ((q << 4) | (q >> 4))
        s = (x ^ 0x63) & 0xFF
        sbox[p] = s
        inv[s] = p
        if p == 1:
            break
    sbox[0] = 0x63
    inv[0x63] = 0
    return sbox, inv


_SBOX, _INV_SBOX = _build_sbox()
_X2 = [_gmul(i, 2) for i in range(256)]
_X3 = [_gmul(i, 3) for i in range(256)]
_X9 = [_gmul(i, 9) for i in range(256)]
_XB = [_gmul(i, 11) for i in range(256)]
_XD = [_gmul(i, 13) for i in range(256)]
_XE = [_gmul(i, 14) for i in range(256)]
_RCON = [0x01]
for _ in range(13):
    _RCON.append(_xtime(_RCON[-1]))
_RCON.insert(0, 0)  # 1-indexed in the spec

# state layout: flat 16 bytes in FIPS input order (column-major: index i
# holds row i%4 of column i//4). Encryption runs through the T-tables
# below (ShiftRows is baked into their gather pattern); only decryption
# needs the explicit permutation.
_INV_SHIFT = [(4 * ((i // 4 - i % 4) % 4) + i % 4) for i in range(16)]


def expand_key(key: bytes) -> list[int]:
    """Round keys as one flat byte list (4*(Nr+1) words)."""
    nk = len(key) // 4
    if nk not in (4, 6, 8) or len(key) % 4:
        raise ValueError(f"bad AES key length {len(key)}")
    nr = nk + 6
    w = [list(key[4 * i : 4 * i + 4]) for i in range(nk)]
    for i in range(nk, 4 * (nr + 1)):
        t = list(w[i - 1])
        if i % nk == 0:
            t = t[1:] + t[:1]
            t = [_SBOX[b] for b in t]
            t[0] ^= _RCON[i // nk]
        elif nk > 6 and i % nk == 4:
            t = [_SBOX[b] for b in t]
        w.append([a ^ b for a, b in zip(w[i - nk], t)])
    return [b for word in w for b in word]


# encryption T-tables (the classic 4x256-word formulation): one round =
# 16 table gathers + 16 XORs on machine ints instead of per-byte GF math.
# The sequential paths (CBC encrypt in fixture synthesis, the R6 password
# hash's 64-block chains) are ~3x faster through these; decryption's hot
# path is the numpy bulk pass and keeps the byte-table form.
_T0 = [
    (_X2[s] << 24) | (s << 16) | (s << 8) | _X3[s]
    for s in (_SBOX[x] for x in range(256))
]
_T1 = [((t >> 8) | ((t & 0xFF) << 24)) & 0xFFFFFFFF for t in _T0]
_T2 = [((t >> 8) | ((t & 0xFF) << 24)) & 0xFFFFFFFF for t in _T1]
_T3 = [((t >> 8) | ((t & 0xFF) << 24)) & 0xFFFFFFFF for t in _T2]


def _expand_key_words_uncached(key: bytes) -> tuple[tuple[int, ...], int]:
    rk = expand_key(key)
    words = tuple(
        (rk[i] << 24) | (rk[i + 1] << 16) | (rk[i + 2] << 8) | rk[i + 3]
        for i in range(0, len(rk), 4)
    )
    return words, len(rk) // 16 - 1


@lru_cache(maxsize=64)
def _expand_key_words(key: bytes) -> tuple[tuple[int, ...], int]:
    """Round keys as big-endian u32 words (cached per key — the same key
    encrypts many blocks in every caller). hash_r6 uses the uncached form
    because its per-iteration keys are single-use and would churn this."""
    return _expand_key_words_uncached(key)


def _encrypt_words(words, nr: int, c0: int, c1: int, c2: int, c3: int):
    """Core cipher on four u32 column words (key whitening applied here);
    returns the four output column words — callers chain in int space."""
    t0, t1, t2, t3, sbox = _T0, _T1, _T2, _T3, _SBOX
    c0 ^= words[0]
    c1 ^= words[1]
    c2 ^= words[2]
    c3 ^= words[3]
    for rnd in range(1, nr):
        w = 4 * rnd
        n0 = (
            t0[c0 >> 24] ^ t1[(c1 >> 16) & 255]
            ^ t2[(c2 >> 8) & 255] ^ t3[c3 & 255] ^ words[w]
        )
        n1 = (
            t0[c1 >> 24] ^ t1[(c2 >> 16) & 255]
            ^ t2[(c3 >> 8) & 255] ^ t3[c0 & 255] ^ words[w + 1]
        )
        n2 = (
            t0[c2 >> 24] ^ t1[(c3 >> 16) & 255]
            ^ t2[(c0 >> 8) & 255] ^ t3[c1 & 255] ^ words[w + 2]
        )
        n3 = (
            t0[c3 >> 24] ^ t1[(c0 >> 16) & 255]
            ^ t2[(c1 >> 8) & 255] ^ t3[c2 & 255] ^ words[w + 3]
        )
        c0, c1, c2, c3 = n0, n1, n2, n3
    w = 4 * nr
    o0 = (
        (sbox[c0 >> 24] << 24) | (sbox[(c1 >> 16) & 255] << 16)
        | (sbox[(c2 >> 8) & 255] << 8) | sbox[c3 & 255]
    ) ^ words[w]
    o1 = (
        (sbox[c1 >> 24] << 24) | (sbox[(c2 >> 16) & 255] << 16)
        | (sbox[(c3 >> 8) & 255] << 8) | sbox[c0 & 255]
    ) ^ words[w + 1]
    o2 = (
        (sbox[c2 >> 24] << 24) | (sbox[(c3 >> 16) & 255] << 16)
        | (sbox[(c0 >> 8) & 255] << 8) | sbox[c1 & 255]
    ) ^ words[w + 2]
    o3 = (
        (sbox[c3 >> 24] << 24) | (sbox[(c0 >> 16) & 255] << 16)
        | (sbox[(c1 >> 8) & 255] << 8) | sbox[c2 & 255]
    ) ^ words[w + 3]
    return o0, o1, o2, o3


def decrypt_block(rk: list[int], block: bytes) -> bytes:
    nr = len(rk) // 16 - 1
    s = [b ^ k for b, k in zip(block, rk[16 * nr :])]
    for rnd in range(nr - 1, 0, -1):
        s = [_INV_SBOX[s[i]] for i in _INV_SHIFT]
        k = rk[16 * rnd : 16 * rnd + 16]
        s = [b ^ k[j] for j, b in enumerate(s)]
        ns = [0] * 16
        for c in range(0, 16, 4):
            a0, a1, a2, a3 = s[c : c + 4]
            ns[c] = _XE[a0] ^ _XB[a1] ^ _XD[a2] ^ _X9[a3]
            ns[c + 1] = _X9[a0] ^ _XE[a1] ^ _XB[a2] ^ _XD[a3]
            ns[c + 2] = _XD[a0] ^ _X9[a1] ^ _XE[a2] ^ _XB[a3]
            ns[c + 3] = _XB[a0] ^ _XD[a1] ^ _X9[a2] ^ _XE[a3]
        s = ns
    k = rk[:16]
    return bytes(_INV_SBOX[s[i]] ^ k[j] for j, i in enumerate(_INV_SHIFT))


# -- numpy bulk ECB decrypt (the stream-decryption hot path) ---------------

_NP_TABLES = None


def _np_tables():
    global _NP_TABLES
    if _NP_TABLES is None:
        _NP_TABLES = {
            "inv_sbox": np.array(_INV_SBOX, dtype=np.uint8),
            "x9": np.array(_X9, dtype=np.uint8),
            "xb": np.array(_XB, dtype=np.uint8),
            "xd": np.array(_XD, dtype=np.uint8),
            "xe": np.array(_XE, dtype=np.uint8),
            "inv_shift": np.array(_INV_SHIFT, dtype=np.intp),
        }
    return _NP_TABLES


def _ecb_decrypt_bulk(rk: list[int], data: bytes) -> bytes:
    """Decrypt len(data)/16 blocks at once: every round transform is an
    elementwise table gather / XOR over an (n_blocks, 16) array."""
    t = _np_tables()
    nr = len(rk) // 16 - 1
    keys = np.array(rk, dtype=np.uint8).reshape(nr + 1, 16)
    s = np.frombuffer(data, dtype=np.uint8).reshape(-1, 16) ^ keys[nr]
    inv_shift, inv_sbox = t["inv_shift"], t["inv_sbox"]
    x9, xb, xd, xe = t["x9"], t["xb"], t["xd"], t["xe"]
    for rnd in range(nr - 1, 0, -1):
        s = inv_sbox[s[:, inv_shift]] ^ keys[rnd]
        cols = s.reshape(-1, 4, 4)  # (n, column, row)
        a0, a1 = cols[:, :, 0], cols[:, :, 1]
        a2, a3 = cols[:, :, 2], cols[:, :, 3]
        ns = np.empty_like(cols)
        ns[:, :, 0] = xe[a0] ^ xb[a1] ^ xd[a2] ^ x9[a3]
        ns[:, :, 1] = x9[a0] ^ xe[a1] ^ xb[a2] ^ xd[a3]
        ns[:, :, 2] = xd[a0] ^ x9[a1] ^ xe[a2] ^ xb[a3]
        ns[:, :, 3] = xb[a0] ^ xd[a1] ^ x9[a2] ^ xe[a3]
        s = ns.reshape(-1, 16)
    s = inv_sbox[s[:, inv_shift]] ^ keys[0]
    return s.tobytes()


# -- CBC + padding (ISO 32000-1 §7.6.2: 16-byte blocks, PKCS#7-style) ------


def xor_bytes(a: bytes, b: bytes) -> bytes:
    """a XOR b over the shorter length (zip's truncation), as one big-int
    XOR instead of a per-byte loop."""
    n = min(len(a), len(b))
    return (
        int.from_bytes(a[:n], "big") ^ int.from_bytes(b[:n], "big")
    ).to_bytes(n, "big")


def _cbc_encrypt_core(words, nr: int, iv: bytes, data: bytes) -> bytes:
    """The CBC chain over whole blocks, in u32 column-word space."""
    frombytes = int.from_bytes
    p0 = frombytes(iv[0:4], "big")
    p1 = frombytes(iv[4:8], "big")
    p2 = frombytes(iv[8:12], "big")
    p3 = frombytes(iv[12:16], "big")
    out = bytearray()
    for i in range(0, len(data), 16):
        p0, p1, p2, p3 = _encrypt_words(
            words,
            nr,
            p0 ^ frombytes(data[i : i + 4], "big"),
            p1 ^ frombytes(data[i + 4 : i + 8], "big"),
            p2 ^ frombytes(data[i + 8 : i + 12], "big"),
            p3 ^ frombytes(data[i + 12 : i + 16], "big"),
        )
        out += ((p0 << 96) | (p1 << 64) | (p2 << 32) | p3).to_bytes(
            16, "big"
        )
    return bytes(out)


def cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """Pad (always, per spec) then chain. Sequential by construction —
    fixture-synthesis / key-derivation use only, never the extract path."""
    pad = 16 - len(data) % 16
    return _cbc_encrypt_core(
        *_expand_key_words(key), iv, data + bytes([pad]) * pad
    )


def cbc_encrypt_nopad(key: bytes, iv: bytes, data: bytes) -> bytes:
    """Exact-multiple CBC without padding (the /UE //OE wrapping mode)."""
    if len(data) % 16:
        raise ValueError("nopad CBC needs a block multiple")
    return _cbc_encrypt_core(*_expand_key_words(key), iv, data)


def cbc_decrypt(key: bytes, iv: bytes, data: bytes, unpad: bool = True) -> bytes:
    """Bulk CBC decrypt: one ECB pass + one shifted XOR with the previous
    ciphertext blocks. Tolerant unpadding — a malformed final block keeps
    its bytes rather than failing the document."""
    if len(iv) != 16:
        raise ValueError(f"AES-CBC IV of {len(iv)} bytes")
    # tolerate ragged tails the way the rest of the parser tolerates
    # damage: decrypt the whole blocks, drop the fragment
    data = data[: len(data) - len(data) % 16]
    out = xor_bytes(ecb_decrypt(key, data), iv + data[:-16])
    if unpad and out:
        pad = out[-1]
        if 1 <= pad <= 16 and out.endswith(bytes([pad]) * pad):
            out = out[:-pad]
    return out


def ecb_decrypt(key: bytes, data: bytes) -> bytes:
    """ECB decrypt (the ECMA-376 standard-encryption package mode and the
    first pass of cbc_decrypt): one vectorized pass over all blocks from
    64 bytes up, the scalar block loop below that. Trailing non-block
    fragment is dropped."""
    data = data[: len(data) - len(data) % 16]
    if not data:
        return b""
    rk = expand_key(key)
    if len(data) >= 64:
        return _ecb_decrypt_bulk(rk, data)
    return b"".join(
        decrypt_block(rk, data[i : i + 16]) for i in range(0, len(data), 16)
    )


def ecb_encrypt(key: bytes, data: bytes) -> bytes:
    """ECB encrypt, zero-padding a ragged tail (the /Perms field, the
    ECMA-376 standard-encryption fixtures)."""
    if len(data) % 16:
        data += b"\x00" * (16 - len(data) % 16)
    words, nr = _expand_key_words(key)
    out = bytearray()
    for i in range(0, len(data), 16):
        o0, o1, o2, o3 = _encrypt_words(
            words, nr, *struct.unpack_from(">4I", data, i)
        )
        out += struct.pack(">4I", o0, o1, o2, o3)
    return bytes(out)


# -- ISO 32000-2 Algorithm 2.B (the R6 password hash) ----------------------


@lru_cache(maxsize=64)
def hash_r6(password: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """SHA-256 → iterated AES-128-CBC/SHA-{256,384,512} KDF. Memoized: a
    corpus whose documents share an /Encrypt dictionary derives once per
    executor process instead of per document."""
    k = hashlib.sha256(password + salt + udata).digest()
    i = 0
    while True:
        e = _cbc_encrypt_core(
            *_expand_key_words_uncached(k[:16]),
            k[16:32],
            (password + k + udata) * 64,
        )
        # first 16 bytes of E as a big-endian integer mod 3 == digit-sum
        # mod 3 (256 ≡ 1 mod 3), picks the next hash
        mod = sum(e[:16]) % 3
        k = (
            hashlib.sha256(e).digest()
            if mod == 0
            else hashlib.sha384(e).digest()
            if mod == 1
            else hashlib.sha512(e).digest()
        )
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]
