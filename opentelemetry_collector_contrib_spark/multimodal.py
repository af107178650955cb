"""Multimodal columns: image/audio/video as opaque BINARY + typed metadata.

A training-data pipeline at 100 TB carries media alongside text. The
engine treats payloads as opaque ``binary`` columns with a fixed metadata
envelope (media_type, width, height, sample_rate, duration_ms, n_frames)
and runs feature-extract / frame-sample as Arrow-batched ``mapInPandas``
stages — the same vectorized-UDF discipline as the parse stage (no
per-row Python round trips; one pandas batch in, one out).

There is no decode step: the package depends on no image or audio codec
library (PIL, ffmpeg, librosa), so every stage works on the payload bytes
(size, content hash, mean byte, fixed-size frame slices). A real decoder
would be one more ``mapInPandas`` stage over the same pruned projection.

Scale notes: payloads dominate row size, so stages select ONLY the columns
they need before mapInPandas (column pruning stops at the Python
boundary — prune manually ahead of it), and feature outputs drop the
payload so downstream shuffles move kilobytes, not media bytes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "media_id string, media_type string, n_bytes bigint, "
    "payload_hash string, mean_byte double"
)

FRAME_SCHEMA = (
    "media_id string, frame_no int, byte_offset bigint, frame_len bigint, "
    "frame_bytes binary"
)


def media_features(df: DataFrame) -> DataFrame:
    """Byte-level feature extraction (deterministic, decoder-free):
    size, content hash, mean byte value. The hash is md5 over the
    lowercase hex encoding so a SQL engine reproduces it exactly
    (md5(lower(hex(payload))))."""
    pruned = df.select("media_id", "media_type", "payload")

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            payloads = b["payload"]
            n_bytes, hashes, means = [], [], []
            for p in payloads:
                buf = bytes(p)
                n_bytes.append(len(buf))
                hashes.append(hashlib.md5(buf.hex().encode()).hexdigest())
                a = np.frombuffer(buf, dtype=np.uint8)
                means.append(float(a.mean()) if a.size else 0.0)
            yield pd.DataFrame(
                {
                    "media_id": b["media_id"],
                    "media_type": b["media_type"],
                    "n_bytes": pd.Series(n_bytes, dtype="int64"),
                    "payload_hash": hashes,
                    "mean_byte": pd.Series(means, dtype="float64"),
                }
            )

    return pruned.mapInPandas(extract, FEATURE_SCHEMA)


def frame_offsets(df: DataFrame, k: int = 4) -> DataFrame:
    """Video frame sampling plan — pure column math, no Python: pick k
    evenly spaced frame indices per video and the byte range each frame
    would occupy under a fixed-size-frame model (payload split evenly
    across n_frames). This is the JVM-side planning half of frame
    sampling; byte extraction happens in :func:`frame_sample`."""
    v = df.filter(
        (F.col("media_type") == "video") & (F.col("n_frames") >= 1)
    ).select("media_id", "n_frames", F.length("payload").alias("n_bytes"))
    idx = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("i")
    v = v.select("*", idx)
    frame_no = F.floor(F.col("i") * F.col("n_frames") / k).cast("int")
    frame_len = F.floor(F.col("n_bytes") / F.col("n_frames")).cast("long")
    return (
        v.select(
            "media_id",
            frame_no.alias("frame_no"),
            (frame_no.cast("long") * frame_len).alias("byte_offset"),
            frame_len.alias("frame_len"),
        )
        .distinct()  # k indices can collide when n_frames < k
    )


def frame_sample(df: DataFrame, k: int = 4) -> DataFrame:
    """Materialize sampled frame bytes via mapInPandas (binary slicing is
    Python-side; the *plan* — which offsets — is the JVM-side
    :func:`frame_offsets` math, duplicated here batch-locally to avoid
    shipping payloads through a join)."""
    pruned = df.filter(
        (F.col("media_type") == "video") & (F.col("n_frames") >= 1)
    ).select("media_id", "n_frames", "payload")

    def slice_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = {c: [] for c in
                   ("media_id", "frame_no", "byte_offset", "frame_len",
                    "frame_bytes")}
            for mid, nf, p in zip(b["media_id"], b["n_frames"], b["payload"]):
                buf = bytes(p)
                nf = int(nf)
                flen = len(buf) // nf
                seen = set()
                for i in range(k):
                    fno = (i * nf) // k
                    if fno in seen:
                        continue
                    seen.add(fno)
                    off = fno * flen
                    out["media_id"].append(mid)
                    out["frame_no"].append(fno)
                    out["byte_offset"].append(off)
                    out["frame_len"].append(flen)
                    out["frame_bytes"].append(buf[off : off + flen])
            yield pd.DataFrame(
                {
                    "media_id": out["media_id"],
                    "frame_no": pd.Series(out["frame_no"], dtype="int32"),
                    "byte_offset": pd.Series(out["byte_offset"], dtype="int64"),
                    "frame_len": pd.Series(out["frame_len"], dtype="int64"),
                    "frame_bytes": out["frame_bytes"],
                }
            )

    return pruned.mapInPandas(slice_frames, FRAME_SCHEMA)
