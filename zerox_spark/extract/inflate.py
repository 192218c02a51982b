"""One bounded decompression loop for untrusted bytes.

Both the payload unwrap (``core._unwrap_payload``: gzip, bzip2 and xz
crawl bodies) and PDF FlateDecode (``pdf._flate``: zlib and raw deflate
streams) inflate through ``inflate``. Output is produced a bounded call at
a time and checked against the cap between calls, so a bomb dies at the
cap instead of after it has materialized (``zlib.decompress`` has no
output cap, and a decompressor's ``max_length`` bounds only one call).
Each caller keeps its own policy: the cap, and how the errors read.
"""

from __future__ import annotations

import bz2
import lzma
import zlib

_STEP = 1 << 20  # output bytes per decompress call
_MAX_MEMBERS = 64

# kind → (decompressor factory, member magic, name of the member cap).
# A payload is a sequence of members (RFC 1952 §2.2: gzip -c a b > ab.gz;
# pbzip2 and xz -c a b emit stream sequences). zlib and raw deflate carry no
# magic, so they are always one stream.
_CODECS = {
    "gzip": (lambda: zlib.decompressobj(31), b"\x1f\x8b", "member"),
    "bzip2": (bz2.BZ2Decompressor, b"BZh", "stream"),
    "xz": (lzma.LZMADecompressor, b"\xfd7zXZ\x00", "stream"),
    "zlib": (zlib.decompressobj, None, None),
    "deflate": (lambda: zlib.decompressobj(-15), None, None),
}
# what a decompressor raises on corrupt input
CODEC_ERRORS = (zlib.error, OSError, EOFError, lzma.LZMAError)


def inflate(data: bytes, kind: str, cap: int) -> bytes:
    """Decode every member of ``data``; raise ``ValueError`` the moment the
    output passes ``cap`` bytes, or when more than 64 members follow one
    another. Bytes after the last member that do not start another are
    ignored (padding, trailing garbage). A corrupt member keeps
    the output decoded before it (a download cut off mid-member still
    yields its prefix); the codec's error is re-raised only when nothing
    decoded."""
    make, magic, noun = _CODECS[kind]
    out: list[bytes] = []
    total = 0
    members = 0
    try:
        while data and members < _MAX_MEMBERS:
            members += 1
            d = make()
            for chunk in _member_chunks(d, data):
                total += len(chunk)
                if total > cap:
                    raise ValueError(f"{kind} payload expands past the budget")
                out.append(chunk)
            data = d.unused_data if d.eof else b""
            if magic is None or not data.startswith(magic):
                break
        if magic is not None and data.startswith(magic):
            raise ValueError(f"{kind} payload exceeds the {noun} cap")
    except CODEC_ERRORS:
        if not total:
            raise
    return b"".join(out)


def _member_chunks(d, data: bytes):
    """One member's output, at most ``_STEP`` bytes per decompress call.
    zlib hands unread input back in ``unconsumed_tail`` and holds back the
    output the last call could not fit until ``flush``; bz2 and lzma keep
    unread input themselves and say when they need more."""
    yield d.decompress(data, _STEP)
    while True:
        data = getattr(d, "unconsumed_tail", b"")
        if not data and (d.eof or getattr(d, "needs_input", True)):
            break
        yield d.decompress(data, _STEP)
    if hasattr(d, "flush"):
        yield d.flush()
