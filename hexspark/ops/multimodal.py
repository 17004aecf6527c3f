"""Multimodal column plumbing: image/audio/video payloads as opaque binary
columns with typed metadata, processed through Arrow-batched mapInPandas.

Decode support is real for the two container formats parseable with zero
codec dependencies — uncompressed 24-bit BMP and PCM WAV — implemented as
byte-level header parsing + numpy payload stats inside the mapInPandas
kernel. Compressed formats (JPEG/MP3/H.264 ...) still raise
NotImplementedError: this container has no codec libraries, and a fake
decoder would only hide that. The deterministic byte-histogram feature
extractor stands in for the model-forward step in all cases.

At 100 TB the important properties are:
- binary payloads never pass through Python row-at-a-time as a *plan*
  construct: mapInPandas streams Arrow record batches, and
  maxRecordsPerBatch bounds worker memory against multi-MB payloads (the
  per-file header parse inside a batch is how any real decoder works);
- metadata (width/height/duration/codec) lives in plain columns so filters
  on it push down to the parquet scan without touching payload bytes;
- feature extraction emits fixed-width vectors (array<float>) that feed the
  ANN operators in hexspark.ops.ann.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, mime string, width int, height int, duration_ms long"
)
FEATURE_SCHEMA = (
    "media_id long, kind string, n_bytes long, width int, height int, "
    "duration_ms long, feature array<float>"
)

_FEATURE_DIM = 16
_BMP_HEADER = 54


# ---------------------------------------------------------------------------
# encoders (test/fixture side): minimal valid uncompressed containers
# ---------------------------------------------------------------------------


def encode_bmp(width: int, height: int, pixel_source: np.ndarray) -> bytes:
    """Minimal valid 24-bit uncompressed BMP (BITMAPINFOHEADER). Rows are
    4-byte aligned per the format; pixel bytes are tiled from pixel_source."""
    row = ((width * 3 + 3) // 4) * 4
    data_size = row * height
    if len(pixel_source):
        reps = -(-data_size // len(pixel_source))
        px = np.tile(pixel_source.astype(np.uint8), reps)[:data_size]
    else:
        px = np.zeros(data_size, dtype=np.uint8)
    header = struct.pack("<2sIHHI", b"BM", _BMP_HEADER + data_size, 0, 0, _BMP_HEADER)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, data_size, 2835, 2835, 0, 0
    )
    return header + info + px.tobytes()


def encode_wav(sample_rate: int, samples_i16: np.ndarray) -> bytes:
    """Minimal valid mono 16-bit PCM WAV (RIFF/WAVE, fmt + data chunks)."""
    data = samples_i16.astype("<i2").tobytes()
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


# ---------------------------------------------------------------------------
# decoders
# ---------------------------------------------------------------------------


def decode_media(payload: bytes) -> tuple[int, int, int]:
    """Parse (width, height, duration_ms) out of a binary payload.

    Real parsing for uncompressed BMP (dims from BITMAPINFOHEADER) and PCM
    WAV (duration from the data-chunk size / byte rate, walking RIFF
    chunks). Unknown magics raise NotImplementedError — decoding compressed
    media needs codec libraries this container doesn't ship."""
    if payload[:2] == b"BM" and len(payload) >= _BMP_HEADER:
        width = int.from_bytes(payload[18:22], "little", signed=True)
        height = abs(int.from_bytes(payload[22:26], "little", signed=True))
        return width, height, 0
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        pos, byte_rate, data_len = 12, 0, 0
        while pos + 8 <= len(payload):
            cid = payload[pos : pos + 4]
            sz = int.from_bytes(payload[pos + 4 : pos + 8], "little")
            if cid == b"fmt ":
                byte_rate = int.from_bytes(payload[pos + 16 : pos + 20], "little")
            elif cid == b"data":
                data_len = sz
            pos += 8 + sz + (sz & 1)
        duration_ms = (data_len * 1000) // byte_rate if byte_rate else 0
        return 0, 0, duration_ms
    raise NotImplementedError(
        "only uncompressed BMP and PCM WAV are decodable without codec "
        "libraries; compressed formats need Pillow/ffmpeg, absent in this "
        "container"
    )


def _fake_features(payloads: pd.Series) -> np.ndarray:
    """Deterministic stand-in feature extractor: byte-histogram moments of
    the payload, reduced to _FEATURE_DIM floats. Replaces the model-forward
    step while keeping identical batch shapes."""
    n = len(payloads)
    out = np.zeros((n, _FEATURE_DIM), dtype=np.float32)
    if n == 0:
        return out
    lens = payloads.str.len().to_numpy()
    w = int(lens.max()) if len(lens) else 0
    if w == 0:
        return out
    mat = np.frombuffer(b"".join(p.ljust(w, b"\x00") for p in payloads), dtype=np.uint8).reshape(n, w)
    valid = np.arange(w)[None, :] < lens[:, None]  # ignore padding bytes
    nib = mat >> 4
    for k in range(_FEATURE_DIM):
        out[:, k] = ((nib == k) & valid).sum(axis=1) / np.maximum(lens, 1)
    return out


def extract_features(media: DataFrame, fake_decode: bool = False) -> DataFrame:
    """media(MEDIA_SCHEMA) → features(FEATURE_SCHEMA) via mapInPandas.

    BMP/WAV payloads are really decoded (header parse per file inside the
    Arrow batch); unknown formats raise NotImplementedError unless
    fake_decode=True, in which case metadata columns pass through so the
    Spark-side plumbing stays exercisable for opaque codecs."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            widths, heights, durations = [], [], []
            for payload, mw, mh, md in zip(
                pdf["payload"], pdf["width"], pdf["height"], pdf["duration_ms"]
            ):
                try:
                    w, h, d = decode_media(payload)
                except NotImplementedError:
                    if not fake_decode:
                        raise
                    w, h, d = int(mw or 0), int(mh or 0), int(md or 0)
                widths.append(w)
                heights.append(h)
                durations.append(d)
            feats = _fake_features(pdf["payload"])
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].str.len().astype("int64"),
                    "width": pd.Series(widths, dtype="int32", index=pdf.index),
                    "height": pd.Series(heights, dtype="int32", index=pdf.index),
                    "duration_ms": pd.Series(durations, dtype="int64", index=pdf.index),
                    "feature": list(feats),
                }
            )

    return media.mapInPandas(run, FEATURE_SCHEMA)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic media table derived from documents(doc_id, text):
    even doc_ids become 24-bit BMPs (dims from text length, pixels from the
    text bytes), odd doc_ids become 8 kHz PCM WAVs (samples from the text
    bytes). Every field a decoder recovers is a pure function of
    (doc_id, length(text)), so a SQL oracle can verify the real decode
    round-trip without parsing binaries."""
    src = docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("image")).otherwise(F.lit("audio")).alias("kind"),
        "text",
        (F.lit(8) + F.length("text") % 32).cast("int").alias("gen_w"),
        (F.lit(4) + F.length("text") % 16).cast("int").alias("gen_h"),
        (F.lit(64) + F.length("text") % 1000).cast("int").alias("gen_samples"),
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for kind, text, w, h, ns in zip(
                pdf["kind"], pdf["text"], pdf["gen_w"], pdf["gen_h"], pdf["gen_samples"]
            ):
                raw = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
                if kind == "image":
                    payloads.append(encode_bmp(int(w), int(h), raw))
                else:
                    reps = -(-int(ns) // max(len(raw), 1))
                    samples = (
                        np.tile(raw, reps)[: int(ns)].astype(np.int16) - 64
                        if len(raw)
                        else np.zeros(int(ns), dtype=np.int16)
                    )
                    payloads.append(encode_wav(8000, samples))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload": payloads,
                    "mime": [
                        "image/bmp" if k == "image" else "audio/wav" for k in pdf["kind"]
                    ],
                    "width": pdf["gen_w"].astype("int32"),
                    "height": pdf["gen_h"].astype("int32"),
                    "duration_ms": (pdf["gen_samples"].astype("int64") * 2 * 1000) // 16000,
                }
            )

    return src.mapInPandas(build, MEDIA_SCHEMA)
