"""Multimodal column operators: image/audio/video as opaque binary columns
with typed metadata.

The Spark-side contract is real and tested — schema, Arrow batch shape,
partitioning, UDF signatures; the codec layer is pluggable:

* ``FAKEMEDIA`` container — deterministic synthetic payloads (seeded pixel/
  sample streams) that exercise the decode and feature paths
  hermetically (no image/audio libs ship in this container).
* Real image codecs (PIL) — import-gated; raise a clearly
  labelled NotImplementedError when absent so the stub boundary is explicit
  (per round-1 instructions: plumbing real, decode stubbed).

Media table schema::

    media_ref STRING, kind STRING (image|audio|video), data BINARY,
    meta STRUCT<width INT, height INT, channels INT, sample_rate INT,
                duration_ms INT, format STRING>

Everything runs through ``mapInPandas`` over binary columns — Arrow moves
bytes zero-copy; batches are size-bounded by maxRecordsPerBatch.
"""

from __future__ import annotations

import json
import struct as _struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

MEDIA_DDL = (
    "media_ref string, kind string, data binary, "
    "meta struct<width:int,height:int,channels:int,sample_rate:int,"
    "duration_ms:int,format:string>"
)

FAKE_MAGIC = b"FAKEMEDIA"

try:  # pragma: no cover
    from PIL import Image as _PIL_Image  # type: ignore
except ImportError:
    _PIL_Image = None


# ---------------------------------------------------------------------------
# deterministic fake payloads
# ---------------------------------------------------------------------------


def _pixel_stream(seed: int, n: int) -> np.ndarray:
    """Deterministic uint8 stream: splitmix64 of a counter, fully
    vectorized (the counter states seed + i*golden are independent, so no
    sequential loop is needed; little-endian uint64 view reproduces the
    per-word to_bytes(8, 'little') layout bit-for-bit — pinned by test)."""
    n_words = (n + 7) // 8
    with np.errstate(over="ignore"):
        x = np.uint64(seed & 0xFFFFFFFFFFFFFFFF) + np.arange(
            1, n_words + 1, dtype=np.uint64
        ) * np.uint64(0x9E3779B97F4A7C15)
        z = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
    return z.astype("<u8").view(np.uint8)[:n].copy()


def make_fake_image(seed: int, width: int = 32, height: int = 32, channels: int = 3) -> bytes:
    header = json.dumps(
        {"w": width, "h": height, "c": channels, "kind": "image"}
    ).encode()
    body = _pixel_stream(seed, width * height * channels).tobytes()
    return FAKE_MAGIC + _struct.pack("<I", len(header)) + header + body


def make_fake_audio(seed: int, n_samples: int = 16000, sample_rate: int = 16000) -> bytes:
    header = json.dumps(
        {"n": n_samples, "sr": sample_rate, "kind": "audio"}
    ).encode()
    body = _pixel_stream(seed, n_samples * 2).tobytes()  # int16 stream
    return FAKE_MAGIC + _struct.pack("<I", len(header)) + header + body


def make_fake_video(seed: int, n_frames: int = 30, width: int = 16, height: int = 16) -> bytes:
    header = json.dumps(
        {"w": width, "h": height, "frames": n_frames, "kind": "video"}
    ).encode()
    body = _pixel_stream(seed, n_frames * width * height * 3).tobytes()
    return FAKE_MAGIC + _struct.pack("<I", len(header)) + header + body


def _parse_fake(data: bytes) -> tuple[dict, np.ndarray]:
    if data[: len(FAKE_MAGIC)] != FAKE_MAGIC:
        # Container-format error, not the codec-availability boundary: the
        # input may simply be corrupt, and the real libs may even be
        # importable. The import-gated NotImplementedError lives at the
        # decoder's dispatch layer (decode_image).
        # Never a bare assert (python -O would strip it, silently slicing
        # garbage out of non-FAKEMEDIA bytes).
        raise ValueError("not a FAKEMEDIA container")
    hlen = _struct.unpack("<I", data[len(FAKE_MAGIC) : len(FAKE_MAGIC) + 4])[0]
    off = len(FAKE_MAGIC) + 4
    header = json.loads(data[off : off + hlen].decode())
    payload = np.frombuffer(data[off + hlen :], dtype=np.uint8)
    return header, payload


def decode_image(data: bytes) -> np.ndarray:
    """bytes -> HxWxC uint8 array. Fake container decoded natively; real
    formats require PIL (import-gated stub)."""
    if data[: len(FAKE_MAGIC)] == FAKE_MAGIC:
        h, payload = _parse_fake(data)
        return payload.reshape(h["h"], h["w"], h["c"])
    if _PIL_Image is None:
        raise NotImplementedError(
            "real image decoding requires PIL, not present in this container; "
            "ship it via --py-files/conda env on a real cluster"
        )
    import io  # pragma: no cover

    return np.asarray(_PIL_Image.open(io.BytesIO(data)))  # pragma: no cover


# ---------------------------------------------------------------------------
# distributed operators
# ---------------------------------------------------------------------------

FEATURES_DDL = (
    "media_ref string, kind string, width int, height int, channels int, "
    "mean_0 double, mean_1 double, mean_2 double, std_0 double, "
    "n_bytes bigint"
)


def image_features(media: DataFrame) -> DataFrame:
    """Decode + per-channel stats (the feature-extraction leg). One
    mapInPandas pass; numpy does the per-image math."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, kind, data in zip(pdf["media_ref"], pdf["kind"], pdf["data"]):
                if kind != "image":
                    continue
                img = decode_image(bytes(data))
                means = img.reshape(-1, img.shape[2]).mean(axis=0)
                rows.append(
                    {
                        "media_ref": ref,
                        "kind": kind,
                        "width": img.shape[1],
                        "height": img.shape[0],
                        "channels": img.shape[2],
                        "mean_0": round(float(means[0]), 4),
                        "mean_1": round(float(means[1]), 4) if img.shape[2] > 1 else None,
                        "mean_2": round(float(means[2]), 4) if img.shape[2] > 2 else None,
                        "std_0": round(float(img[..., 0].std()), 4),
                        "n_bytes": len(data),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_ref", "kind", "width", "height", "channels",
                    "mean_0", "mean_1", "mean_2", "std_0", "n_bytes",
                ],
            )

    return media.mapInPandas(run, schema=FEATURES_DDL)


def synthetic_media_df(spark, count: int, partitions: int = 4) -> DataFrame:
    """Distributed deterministic media table (images/audio/video mix)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                kind = ["image", "audio", "video"][i % 3]
                if kind == "image":
                    data = make_fake_image(i, 32, 24)
                    meta = {"width": 32, "height": 24, "channels": 3,
                            "sample_rate": None, "duration_ms": None,
                            "format": "fake"}
                elif kind == "audio":
                    data = make_fake_audio(i)
                    meta = {"width": None, "height": None, "channels": 1,
                            "sample_rate": 16000, "duration_ms": 1000,
                            "format": "fake"}
                else:
                    data = make_fake_video(i, n_frames=30)
                    meta = {"width": 16, "height": 16, "channels": 3,
                            "sample_rate": None, "duration_ms": 1000,
                            "format": "fake"}
                rows.append(
                    {
                        "media_ref": f"media://synth/{i}",
                        "kind": kind,
                        "data": data,
                        "meta": meta,
                    }
                )
            yield pd.DataFrame(rows)

    return spark.range(0, count, 1, partitions).mapInPandas(gen, schema=MEDIA_DDL)
