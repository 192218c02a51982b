"""Multimodal column plumbing: opaque binary media + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns with a
typed metadata struct. The Spark-side machinery — schema, Arrow batch shape,
mapInArrow signature, partition behavior — is real and tested; the actual
codec work is stubbed behind ``_decode_image`` because this container ships
no image/audio libraries: with PIL/ffmpeg present, only that function body
changes (drop-in), nothing in the plan does.

Decode stub contract: deterministic pseudo-features derived from the bytes
(magic sniff, length, xxhash-based fake dimensions) so tests can assert
exact values end-to-end.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("media_kind", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)

_MAGIC = [
    (b"%PDF", "pdf"),
    (b"%SHEET", "sheet"),
    (b"<!DO", "html"),
    (b"<htm", "html"),
]

HAVE_PIL = False
try:  # pragma: no cover - not present in this container
    import PIL.Image  # noqa: F401

    HAVE_PIL = True
except ImportError:
    pass


def sniff_kind(payload: bytes) -> str:
    """Content-kind sniff: document prefixes first, then the shared
    binary/media magic table (extract/sniff.py — incl. offset-based
    ISO-BMFF ``ftyp`` brands, so HEIC/AVIF/MP4 actually route; the C2
    convertHeicToJpeg analog's named format, file.ts:101-126)."""
    for magic, kind in _MAGIC:
        if payload[: len(magic)] == magic:
            return kind
    from zerox_spark.extract.sniff import sniff_binary

    riff_legacy = {"wav": "riff", "avi": "riff"}
    b = sniff_binary(payload)
    if b is not None:
        return riff_legacy.get(b, b)
    return "bin"


def _decode_image(payload: bytes) -> tuple[int, int, list[float]]:
    """Image decode: real PIL branch when the library is importable
    (drop-in — nothing in the plan changes), else a deterministic stub.

    Stub contract (this container ships no image libs): dimensions + an
    8-dim feature derived from a sha256 of the payload, so plumbing tests
    have exact expected values. An undecodable payload under PIL degrades
    to the stub rather than failing the task (row-level containment)."""
    if HAVE_PIL:  # pragma: no cover - not present in this container
        import io

        try:
            img = PIL.Image.open(io.BytesIO(payload))
            width, height = img.size
            # 8-dim feature: mean pixel intensity of an 8-slice column split
            # on the greyscale thumbnail (deterministic, resampling fixed)
            thumb = img.convert("L").resize((8, 8), PIL.Image.BILINEAR)
            cols = list(thumb.getdata())
            feature = [
                round(sum(cols[i::8]) / (8 * 255.0), 6) for i in range(8)
            ]
            return width, height, feature
        except Exception:
            pass  # malformed image → deterministic stub below
    digest = hashlib.sha256(payload).digest()
    width = 64 + digest[0]
    height = 64 + digest[1]
    feature = [round(b / 255.0, 6) for b in digest[2:10]]
    return width, height, feature


def _media_iter(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    schema = to_arrow_schema(MEDIA_META_SCHEMA)
    for batch in batches:
        rows = []
        for url, data in zip(
            batch["url"].to_pylist(), batch["html"].to_pylist()
        ):
            data = data or b""
            kind = sniff_kind(data)
            width = height = feature = None
            if kind in ("png", "jpeg", "gif"):
                width, height, feature = _decode_image(data)
            rows.append(dict(
                url=url, n_bytes=len(data), media_kind=kind,
                width=width, height=height, feature=feature,
            ))
        yield pa.RecordBatch.from_pylist(rows, schema=schema)


def media_metadata(pages: DataFrame) -> DataFrame:
    """pages(url, html, …) → typed media metadata. One mapInArrow pass;
    binary stays in Arrow buffers end to end (no base64 round-trips — the
    reference's encodeImageToBase64 exists only to feed HTTP APIs,
    node-zerox/src/utils/image.ts:13-15; a columnar engine never needs it)."""
    return pages.select("url", "html").mapInArrow(
        _media_iter, schema=MEDIA_META_SCHEMA
    )


# ---------------------------------------------------------------------------
# frame-sample plumbing (decode / feature-extract / resize / frame-sample
# as vectorized UDFs: Arrow in, Arrow out over mapInArrow). The codec work
# rides the same stub contract as _decode_image: deterministic byte-derived
# fakes without ffmpeg; the Spark-side shape — schema, Arrow batching,
# per-input fan-out — is real and tested either way.

FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("frame_no", T.IntegerType(), False),
        T.StructField("ts_ms", T.LongType(), False),
        T.StructField("frame", T.BinaryType(), False),
    ]
)

# deterministic fake-frame rule (mirrored by the media_frames oracle):
# a payload yields 1 + n_bytes % FRAME_MOD frames
FRAME_MOD = 5
FRAME_INTERVAL_MS = 1000


def sample_frames(pages, interval_ms: int = FRAME_INTERVAL_MS):
    """pages(url, html, …) → one row per sampled frame: the video
    frame-sampling shape (per-input FAN-OUT inside the Arrow UDF — output
    batches are longer than input batches, like the PDF page explode).
    No ffmpeg in this container → deterministic fake frames: n_frames =
    1 + n_bytes % FRAME_MOD, frame bytes = sha256(payload, frame_no)."""

    schema = to_arrow_schema(FRAMES_SCHEMA)

    def it(batches):
        for batch in batches:
            rows = []
            for url, data in zip(
                batch["url"].to_pylist(), batch["html"].to_pylist()
            ):
                data = data or b""
                rows += [
                    dict(
                        url=url, frame_no=i + 1, ts_ms=i * interval_ms,
                        frame=hashlib.sha256(
                            data + i.to_bytes(4, "little")
                        ).digest(),
                    )
                    for i in range(1 + len(data) % FRAME_MOD)
                ]
            yield pa.RecordBatch.from_pylist(rows, schema=schema)

    return pages.select("url", "html").mapInArrow(it, schema=FRAMES_SCHEMA)
