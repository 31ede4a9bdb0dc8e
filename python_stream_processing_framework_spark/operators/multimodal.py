"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Beyond-reference capability (SURVEY §2.7). The pattern for image/
audio/video at 100 TB: the payload is an opaque ``binary`` column
(or a URI into object storage) plus typed metadata columns; decode /
feature-extraction runs as Arrow-batched ``mapInPandas`` so bytes move
driver-free, batch-at-a-time, with full column pruning upstream.

The actual codec step is STUBBED (image/audio libs are not in this
container): ``decode_stub='fake'`` produces deterministic pseudo
features derived from the payload's md5 so the full Spark plumbing —
schema, partitioning, UDF signature, Arrow batch shape — is real and
testable; ``decode_stub='raise'`` marks where a real decoder
(PIL/ffmpeg/torchaudio) plugs in.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from typing import Literal

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

#: Output schema of the (stub) image decoder — what a real decoder
#: would emit: intrinsic dims + channel count + a content digest.
DECODED_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("channels", LongType()),
        StructField("content_md5", StringType()),
    ]
)


def binarize(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Materialize a binary payload column (UTF-8 bytes of the text).

    Stand-in for reading real media bytes; gives every downstream
    operator a true BinaryType column to exercise.
    """
    return df.select(
        F.col(id_col),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
    )


def binary_meta(df: DataFrame, id_col: str, payload_col: str = "payload") -> DataFrame:
    """Cheap metadata that never needs a decoder: byte length, digest,
    storage chunk count (1000-byte chunks). Pure JVM expressions."""
    return df.select(
        F.col(id_col),
        F.octet_length(F.col(payload_col)).cast("bigint").alias("n_bytes"),
        F.md5(F.col(payload_col)).alias("content_md5"),
        F.expr(f"(octet_length({payload_col}) + 999) DIV 1000").alias("n_chunks"),
    )


def decode_images(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    *,
    decode_stub: Literal["fake", "raise", "pil"] = "fake",
) -> DataFrame:
    """Decode binary payloads to typed image metadata via mapInPandas.

    Arrow-batched: each partition streams in as pandas DataFrames; the
    decoder touches bytes column-wise, never the driver.

    ``decode_stub`` picks the codec: ``"pil"`` is the real decoder
    (optional-import Pillow — checked eagerly on the driver so a
    missing codec fails at plan time, not per-task; width/height/
    channels from the actual image header, decode errors surface as
    the task failure they are). ``"fake"`` (default — this container
    ships no image libs) derives the metadata deterministically from
    the payload md5, keeping every Spark-side contract (schema,
    batching, partitioning) production-shaped. ``"raise"`` documents
    the hole loudly.
    """
    if decode_stub == "pil":
        try:
            from PIL import Image  # noqa: F401
        except ImportError as exc:  # pragma: no cover - env-dependent
            raise ImportError(
                "decode_stub='pil' needs Pillow installed on driver and "
                "executors (pip install Pillow); use decode_stub='fake' "
                "for codec-free environments"
            ) from exc

    def _decode_one(payload: bytes) -> tuple[int, int, int, str]:
        if decode_stub == "raise":
            raise NotImplementedError(
                "real image codec not available in this environment; "
                "plug PIL/cv2 here"
            )
        digest = hashlib.md5(payload).hexdigest()
        if decode_stub == "pil":
            import io

            from PIL import Image

            with Image.open(io.BytesIO(payload)) as im:
                return im.width, im.height, len(im.getbands()), digest
        width = 64 + int(digest[:4], 16) % 1920
        height = 64 + int(digest[4:8], 16) % 1080
        channels = 1 + int(digest[8], 16) % 4
        return width, height, channels, digest

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [_decode_one(p) for p in pdf[payload_col]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_bytes": pdf[payload_col].map(len).astype("int64"),
                    "width": pd.Series([d[0] for d in decoded], dtype="int64"),
                    "height": pd.Series([d[1] for d in decoded], dtype="int64"),
                    "channels": pd.Series([d[2] for d in decoded], dtype="int64"),
                    "content_md5": [d[3] for d in decoded],
                }
            )

    return df.select(id_col, payload_col).mapInPandas(decode, DECODED_META_SCHEMA)

AUDIO_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("format", StringType()),
        StructField("channels", LongType()),
        StructField("sample_rate", LongType()),
        StructField("bits_per_sample", LongType()),
        StructField("duration_ms", LongType()),
    ]
)


def audio_meta(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Typed audio metadata from binary payloads — NOT a stub: parses
    the RIFF/WAVE header (fmt chunk: channels, sample rate, bit
    depth; data chunk size -> duration) directly from the bytes, no
    codec library needed. Non-WAV payloads come back with format
    'unknown' and NULL fields rather than erroring — a crawl's media
    column is never clean. Arrow mapInPandas, map-only."""
    import struct

    def _parse_one(p: bytes):
        if len(p) < 12 or p[:4] != b"RIFF" or p[8:12] != b"WAVE":
            return ("unknown", None, None, None, None)
        pos, ch, rate, bits, data_len = 12, None, None, None, None
        while pos + 8 <= len(p):
            cid = p[pos : pos + 4]
            (clen,) = struct.unpack("<I", p[pos + 4 : pos + 8])
            body = p[pos + 8 : pos + 8 + clen]
            if cid == b"fmt " and len(body) >= 16:
                _, ch, rate, _, _, bits = struct.unpack("<HHIIHH", body[:16])
            elif cid == b"data":
                data_len = clen
            pos += 8 + clen + (clen & 1)  # chunks are word-aligned
        if ch and rate and bits and data_len is not None:
            bytes_per_ms = ch * rate * (bits // 8) / 1000.0
            dur = int(data_len / bytes_per_ms) if bytes_per_ms else None
            return ("wav", ch, rate, bits, dur)
        return ("unknown", None, None, None, None)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            parsed = [_parse_one(bytes(p)) for p in pdf[payload_col]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_bytes": pdf[payload_col].map(len).astype("int64"),
                    "format": [r[0] for r in parsed],
                    "channels": pd.array([r[1] for r in parsed], dtype="Int64"),
                    "sample_rate": pd.array([r[2] for r in parsed], dtype="Int64"),
                    "bits_per_sample": pd.array([r[3] for r in parsed], dtype="Int64"),
                    "duration_ms": pd.array([r[4] for r in parsed], dtype="Int64"),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(parse, AUDIO_META_SCHEMA)


IMAGE_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("format", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("bit_depth", LongType()),
        StructField("channels", LongType()),
    ]
)

#: PNG color type -> channel count (spec: greyscale, RGB, palette,
#: greyscale+alpha, RGBA)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

#: JPEG SOF markers carrying frame dimensions: C0-CF minus C4 (DHT),
#: C8 (JPG extension), CC (DAC)
_JPEG_SOF = {
    m for m in range(0xC0, 0xD0) if m not in (0xC4, 0xC8, 0xCC)
}


def image_meta(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Typed image metadata from binary payloads — NOT a stub, the
    codec-free sibling of ``audio_meta``: parses the PNG IHDR chunk
    (width, height, bit depth, color type -> channels) and the JPEG
    SOF frame header (marker scan past APPn/COM segments; precision,
    height, width, component count) directly from the bytes. No
    image library needed: dimensions live in the container header,
    not the compressed stream. Non-image payloads come back format
    'unknown' with NULL fields — a crawl's media column is never
    clean. Arrow mapInPandas, map-only, no shuffle; at 100 TB this
    is a header-only scan (column-pruned to id + payload) that never
    decodes pixel data."""
    import struct

    def _parse_one(p: bytes):
        if len(p) >= 8 and p[:8] == b"\x89PNG\r\n\x1a\n":
            # IHDR must be first: length(4) 'IHDR'(4) w(4) h(4)
            # bit_depth(1) color_type(1) — 26 bytes total; payloads
            # truncated inside the chunk degrade to 'unknown'
            if len(p) >= 26 and p[12:16] == b"IHDR":
                w, h, depth, color = struct.unpack(">II2B", p[16:26])
                return ("png", w, h, depth, _PNG_CHANNELS.get(color))
            return ("unknown", None, None, None, None)
        if len(p) >= 4 and p[:2] == b"\xff\xd8":
            pos = 2
            while pos + 4 <= len(p):
                if p[pos] != 0xFF:
                    break
                # any number of 0xFF fill bytes may pad before the
                # marker byte (JPEG B.1.1.2) — skip to the last one
                while pos + 1 < len(p) and p[pos + 1] == 0xFF:
                    pos += 1
                if pos + 4 > len(p):
                    break
                marker = p[pos + 1]
                if marker in _JPEG_SOF:
                    if pos + 10 > len(p):
                        break
                    depth = p[pos + 4]
                    h, w = struct.unpack(">HH", p[pos + 5 : pos + 9])
                    ncomp = p[pos + 9]
                    return ("jpeg", w, h, depth, ncomp)
                if marker in (0xD8, 0xD9, 0x01) or 0xD0 <= marker <= 0xD7:
                    pos += 2  # standalone markers carry no length
                    continue
                (seg_len,) = struct.unpack(">H", p[pos + 2 : pos + 4])
                pos += 2 + seg_len
            return ("unknown", None, None, None, None)
        return ("unknown", None, None, None, None)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            parsed = [_parse_one(bytes(p)) for p in pdf[payload_col]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_bytes": pdf[payload_col].map(len).astype("int64"),
                    "format": [r[0] for r in parsed],
                    "width": pd.array([r[1] for r in parsed], dtype="Int64"),
                    "height": pd.array([r[2] for r in parsed], dtype="Int64"),
                    "bit_depth": pd.array([r[3] for r in parsed], dtype="Int64"),
                    "channels": pd.array([r[4] for r in parsed], dtype="Int64"),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(parse, IMAGE_META_SCHEMA)
