"""Multimodal (image/audio/video) columns as opaque binary + typed metadata.

The Spark-side plumbing is REAL — binary schemas, Arrow batch shapes,
``mapInPandas`` decode/feature/resize/frame-sample operators, partitioning
— while the codec layer is a deterministic fake format (no image/audio
codec library is a dependency).

Fake formats (all big-endian headers, payload bytes are pure arithmetic in
``doc_id`` so a SQL oracle can recompute every derived stat):

* image  = b"IMG1" | u16 width | u16 height | payload[w*h*3],
  payload[i] = (doc_id + i) % 256, w = 16 + doc_id % 48,
  h = 16 + (doc_id * 7) % 48
* video  = b"VID1" | u16 n_frames | u16 fps, n_frames = 10 + doc_id % 90,
  fps = 24 (metadata-only payload — frame sampling is index arithmetic)

Scale notes: binaries ride in the row (Parquet binary column); decode is
map-only (no shuffle) and batch-vectorized via numpy ``frombuffer``; stats
aggregate map-side.  At 100 TB, payloads live in object storage and the
column holds (uri, offset, nbytes) — the decode UDF shape is unchanged.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..session import widen

IMG_MAGIC = b"IMG1"
VID_MAGIC = b"VID1"


# ---------------------------------------------------------------------------
# deterministic synthesizers (numpy-vectorized payload assembly)
# ---------------------------------------------------------------------------


def img_dims(doc_id: int) -> tuple:
    return 16 + doc_id % 48, 16 + (doc_id * 7) % 48


def fake_image_bytes(doc_id: int) -> bytes:
    w, h = img_dims(doc_id)
    n = w * h * 3
    payload = ((doc_id + np.arange(n, dtype=np.int64)) % 256).astype(np.uint8)
    return IMG_MAGIC + struct.pack(">HH", w, h) + payload.tobytes()


def fake_video_bytes(doc_id: int) -> bytes:
    return VID_MAGIC + struct.pack(">HH", 10 + doc_id % 90, 24)


AUD_MAGIC = b"AUD1"


def fake_audio_bytes(doc_id: int) -> bytes:
    """header | u16 sample_rate | u16 n_samples, payload = signed 16-bit LE
    samples s[i] = ((doc_id * 31 + i * 17) % 2048) - 1024 (pure arithmetic
    so channel stats are SQL-recomputable)."""
    sr = 8000
    n = 256 + doc_id % 256
    i = np.arange(n, dtype=np.int64)
    samples = ((doc_id * 31 + i * 17) % 2048 - 1024).astype("<i2")
    return AUD_MAGIC + struct.pack(">HH", sr, n) + samples.tobytes()


def attach_fake_media(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """+ (image, video, audio) binary columns derived from the id."""
    # synthesis (and every decode downstream) is CPU-bound per row
    docs = widen(docs)
    fields = [f for f in docs.schema.fields]
    out_schema = StructType(
        fields
        + [
            StructField("image", BinaryType()),
            StructField("video", BinaryType()),
            StructField("audio", BinaryType()),
        ]
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-ROW numpy payload assembly is the right granularity here:
        # a whole-batch flat concatenation (arange/repeat over ~10^8 int64)
        # was measured 110× SLOWER on this host — first-touch page faults on
        # multi-100MB allocations run at ~30 MB/s, so keep working sets at
        # payload size (KBs, allocator-pooled) and let the loop be Python
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            pdf = pdf.copy()
            pdf["image"] = [fake_image_bytes(int(i)) for i in ids]
            pdf["video"] = [fake_video_bytes(int(i)) for i in ids]
            pdf["audio"] = [fake_audio_bytes(int(i)) for i in ids]
            yield pdf

    return docs.mapInPandas(synth, schema=out_schema)


# ---------------------------------------------------------------------------
# decode / feature-extract / resize / frame-sample operators
# ---------------------------------------------------------------------------

IMAGE_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_pixels", LongType()),
        StructField("mean_r", DoubleType()),
        StructField("mean_g", DoubleType()),
        StructField("mean_b", DoubleType()),
    ]
)


def _parse_image(blob: bytes):
    if blob[:4] != IMG_MAGIC:
        raise ValueError("not an IMG1 blob")
    w, h = struct.unpack(">HH", blob[4:8])
    px = np.frombuffer(blob, dtype=np.uint8, offset=8).reshape(h, w, 3)
    return w, h, px


def decode_images(df: DataFrame, id_col: str = "doc_id", bin_col: str = "image") -> DataFrame:
    """image binary → (doc_id, width, height, n_pixels, mean_r/g/b).
    Channel means are exact-integer sums divided once (bit-stable)."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "width", "height", "n_pixels", "mean_r", "mean_g", "mean_b")}
            for did, blob in zip(pdf[id_col], pdf[bin_col]):
                w, h, px = _parse_image(bytes(blob))
                sums = px.reshape(-1, 3).sum(axis=0, dtype=np.int64)
                n = w * h
                rows["doc_id"].append(int(did))
                rows["width"].append(w)
                rows["height"].append(h)
                rows["n_pixels"].append(n)
                rows["mean_r"].append(int(sums[0]) / n)
                rows["mean_g"].append(int(sums[1]) / n)
                rows["mean_b"].append(int(sums[2]) / n)
            yield pd.DataFrame(rows)

    return df.select(id_col, bin_col).mapInPandas(decode, schema=IMAGE_STATS_SCHEMA)


RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("out_w", IntegerType()),
        StructField("out_h", IntegerType()),
        StructField("mean_r", DoubleType()),
    ]
)


def resize_images(df: DataFrame, id_col: str = "doc_id", bin_col: str = "image") -> DataFrame:
    """Nearest-neighbor 2× downsample (stride-2 sampling): real pixel math
    over the decoded array; emits new dims + red-channel mean of the
    sampled pixels."""

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "out_w", "out_h", "mean_r")}
            for did, blob in zip(pdf[id_col], pdf[bin_col]):
                w, h, px = _parse_image(bytes(blob))
                small = px[::2, ::2, :]
                oh, ow = small.shape[0], small.shape[1]
                s = int(small[:, :, 0].sum(dtype=np.int64))
                rows["doc_id"].append(int(did))
                rows["out_w"].append(ow)
                rows["out_h"].append(oh)
                rows["mean_r"].append(s / (ow * oh))
            yield pd.DataFrame(rows)

    return df.select(id_col, bin_col).mapInPandas(resize, schema=RESIZE_SCHEMA)


VIDEO_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_frames", IntegerType()),
        StructField("fps", IntegerType()),
    ]
)


def decode_videos(df: DataFrame, id_col: str = "doc_id", bin_col: str = "video") -> DataFrame:
    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "n_frames": [], "fps": []}
            for did, blob in zip(pdf[id_col], pdf[bin_col]):
                blob = bytes(blob)
                if blob[:4] != VID_MAGIC:
                    raise ValueError("not a VID1 blob")
                nf, fps = struct.unpack(">HH", blob[4:8])
                out["doc_id"].append(int(did))
                out["n_frames"].append(nf)
                out["fps"].append(fps)
            yield pd.DataFrame(out)

    return df.select(id_col, bin_col).mapInPandas(decode, schema=VIDEO_META_SCHEMA)


AUDIO_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", IntegerType()),
        StructField("sum_abs", LongType()),
        StructField("mean_abs", DoubleType()),
    ]
)


def decode_audio(df: DataFrame, id_col: str = "doc_id", bin_col: str = "audio") -> DataFrame:
    """AUD1 binary → (sample_rate, n_samples, sum|s|, mean|s|): real numpy
    frombuffer parsing of the fake format."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "sample_rate", "n_samples", "sum_abs", "mean_abs")}
            for did, blob in zip(pdf[id_col], pdf[bin_col]):
                blob = bytes(blob)
                if blob[:4] != AUD_MAGIC:
                    raise ValueError("not an AUD1 blob")
                sr, n = struct.unpack(">HH", blob[4:8])
                samples = np.frombuffer(blob, dtype="<i2", offset=8, count=n).astype(np.int64)
                s = int(np.abs(samples).sum())
                out["doc_id"].append(int(did))
                out["sample_rate"].append(sr)
                out["n_samples"].append(n)
                out["sum_abs"].append(s)
                out["mean_abs"].append(s / n)
            yield pd.DataFrame(out)

    return df.select(id_col, bin_col).mapInPandas(decode, schema=AUDIO_STATS_SCHEMA)


def sample_frames(videos_meta: DataFrame, max_frames: int = 8) -> DataFrame:
    """Frame sampling as index arithmetic over the decoded metadata:
    every ceil(n/max)-th frame — one exploded row per sampled frame."""
    step = F.greatest(F.lit(1), F.ceil(F.col("n_frames") / F.lit(max_frames)).cast("int"))
    return videos_meta.select(
        "doc_id",
        "n_frames",
        F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1, step)).alias("frame_idx"),
    )
