"""Contract of the one bounded decompression loop (extract/inflate.py) over
its five codecs, and of its two callers' error wording."""

from __future__ import annotations

import bz2
import gzip
import lzma
import zlib

import pytest

from zerox_spark.extract import pdf
from zerox_spark.extract.core import (
    ExtractConfig,
    _unwrap_payload,
    extract_document,
)
from zerox_spark.extract.inflate import CODEC_ERRORS, inflate

TEXT = b"<p>bounded inflate contract body</p>" * 40


def _raw_deflate(data: bytes) -> bytes:
    co = zlib.compressobj(9, zlib.DEFLATED, -15)
    return co.compress(data) + co.flush()


COMPRESS = {
    "gzip": lambda b: gzip.compress(b, mtime=0),
    "bzip2": bz2.compress,
    "xz": lzma.compress,
    "zlib": zlib.compress,
    "deflate": _raw_deflate,
}
MAGIC = {"gzip": b"\x1f\x8b", "bzip2": b"BZh91A", "xz": b"\xfd7zXZ\x00"}


@pytest.mark.parametrize("kind", sorted(COMPRESS))
def test_output_at_the_cap_passes_one_byte_over_raises(kind):
    blob = COMPRESS[kind](TEXT)
    assert inflate(blob, kind, len(TEXT)) == TEXT
    with pytest.raises(ValueError, match=f"^{kind} payload expands past"):
        inflate(blob, kind, len(TEXT) - 1)


@pytest.mark.parametrize("kind", sorted(COMPRESS))
def test_output_of_many_calls_decodes_whole(kind):
    # 2.5 MiB of output takes three decompress calls of at most 1 MiB
    big = b"a" * (5 << 19)
    blob = COMPRESS[kind](big)
    assert inflate(blob, kind, len(big)) == big
    with pytest.raises(ValueError, match=f"^{kind} payload expands past"):
        inflate(blob, kind, len(big) - 1)


def test_output_held_back_by_the_last_call_is_flushed():
    # raw deflate of 1 MiB + 8 bytes: the last call fills its 1 MiB while
    # 8 bytes of the final match are still to copy
    data = b"a" * ((1 << 20) + 8)
    assert inflate(_raw_deflate(data), "deflate", len(data)) == data
    with pytest.raises(ValueError, match="^deflate payload expands past"):
        inflate(_raw_deflate(data), "deflate", len(data) - 1)


@pytest.mark.parametrize("kind", sorted(MAGIC))
def test_corrupt_later_member_keeps_the_decoded_prefix(kind):
    corrupt = MAGIC[kind] + b"\x00" * 32
    second = COMPRESS[kind](b"<p>second</p>")
    assert inflate(COMPRESS[kind](TEXT) + corrupt, kind, 1 << 20) == TEXT
    assert inflate(
        COMPRESS[kind](TEXT) + second + corrupt, kind, 1 << 20
    ) == TEXT + b"<p>second</p>"


@pytest.mark.parametrize("kind", sorted(COMPRESS))
def test_nothing_decoded_reraises_the_codec_error(kind):
    junk = MAGIC.get(kind, b"") + b"\x00" * 32
    with pytest.raises(CODEC_ERRORS):
        inflate(junk, kind, 1 << 20)


def test_truncated_stream_keeps_its_prefix():
    # a download cut off mid-member: no error, the prefix that decoded
    big = bytes(range(256)) * 40_000
    for kind in ("gzip", "zlib"):
        blob = COMPRESS[kind](big)
        out = inflate(blob[: len(blob) // 2], kind, len(big))
        assert out and big.startswith(out)


@pytest.mark.parametrize(
    "kind,noun", [("gzip", "member"), ("bzip2", "stream"), ("xz", "stream")]
)
def test_member_cap(kind, noun):
    members = [COMPRESS[kind](b"<p>m%d</p>" % i) for i in range(65)]
    out = inflate(b"".join(members[:64]), kind, 1 << 20)
    assert out == b"".join(b"<p>m%d</p>" % i for i in range(64))
    with pytest.raises(ValueError, match=f"^{kind} payload exceeds the {noun} cap$"):
        inflate(b"".join(members), kind, 1 << 20)
    # trailing bytes that start no member are ignored, not counted
    assert inflate(b"".join(members[:64]) + b"pad", kind, 1 << 20) == out


def test_zlib_and_deflate_are_one_stream():
    blob = zlib.compress(TEXT)
    assert inflate(blob + blob, "zlib", 1 << 20) == TEXT


@pytest.mark.parametrize("kind", sorted(MAGIC))
def test_unwrap_errors_keep_their_wording(kind):
    cfg = ExtractConfig(trust_text=False, max_payload_bytes=len(TEXT) // 8)
    # the error column of an ERROR row is "<class>: <message>"
    row = extract_document(COMPRESS[kind](TEXT), None, cfg)[0]
    assert row.error == f"ValueError: {kind} payload expands past the budget"
    row = extract_document(MAGIC[kind] + b"\x00" * 32, None, cfg)[0]
    assert row.error.startswith(f"ValueError: corrupt {kind} payload: ")
    with pytest.raises(ValueError, match=f"^{kind} payload decompressed to nothing$"):
        _unwrap_payload(kind, COMPRESS[kind](b""), cfg)
    with pytest.raises(ValueError, match=f"^nested {kind} payload$"):
        _unwrap_payload(kind, COMPRESS[kind](COMPRESS[kind](TEXT)), ExtractConfig())


def test_flate_raw_deflate_fallback_and_errors(monkeypatch):
    assert pdf._flate(zlib.compress(TEXT)) == TEXT
    # no zlib header: the zlib attempt decodes nothing, raw deflate runs
    assert pdf._flate(_raw_deflate(TEXT)) == TEXT
    with pytest.raises(pdf.PdfError, match="^flate: "):
        pdf._flate(b"\xff" * 32)
    monkeypatch.setattr(pdf, "MAX_STREAM_BYTES", len(TEXT) - 1)
    for blob in (zlib.compress(TEXT), _raw_deflate(TEXT)):
        with pytest.raises(
            pdf.PdfError, match="^stream decompression budget exceeded$"
        ):
            pdf._flate(blob)
