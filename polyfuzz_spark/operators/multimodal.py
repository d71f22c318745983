"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video decode libraries are not available in this environment,
so the DECODE step is stubbed (deterministic fake features or
NotImplementedError), but the Spark-side plumbing — schema, Arrow batch
shape, ``mapInPandas`` signature, partitioning — is real and tested. A
production deployment swaps ``_decode_stub`` for a real decoder (PIL /
torchaudio / ffmpeg) without touching the plan.

Schema contract:
    media(doc_id long, payload binary, media_type string,
          meta struct<n_bytes: long, source: string>)
    → features(doc_id long, n_bytes long, payload_xxh64 long,
               feature float[FEATURE_DIM])
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..partitioning import ensure_min_partitions

FEATURE_DIM = 16

FEATURES_SCHEMA = (
    "doc_id long, n_bytes long, payload_sha256 string, "
    f"feature array<float>"
)


def to_media(df: DataFrame, id_col: str, payload_col: str,
             media_type: str = "blob", source: str = "synthetic") -> DataFrame:
    """Wrap any string/bytes column as the media contract (the encode side
    of the plumbing; real pipelines read payloads from object storage)."""
    payload = F.col(payload_col).cast("binary")
    return df.select(
        F.col(id_col).alias("doc_id"),
        payload.alias("payload"),
        F.lit(media_type).alias("media_type"),
        F.struct(
            F.octet_length(payload).cast("long").alias("n_bytes"),
            F.lit(source).alias("source"),
        ).alias("meta"),
    )


def _decode_stub(payload: bytes) -> np.ndarray:
    """Deterministic fake feature vector derived from the payload digest.
    REAL decode (image resize / audio frame-sample) is not implementable in
    this sandbox — replace this function in production."""
    digest = hashlib.sha256(payload).digest()
    raw = np.frombuffer(digest[: FEATURE_DIM * 2], dtype=np.uint16)
    return (raw.astype(np.float32) / 65535.0)[:FEATURE_DIM]


def extract_features(media: DataFrame, batch_check: bool = False) -> DataFrame:
    """mapInPandas decode/feature stage — one Arrow batch in, one out.

    ``batch_check`` asserts the batch contract (payload dtype is bytes,
    no partial rows) — used by tests to pin the UDF batch shape."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if batch_check:
                assert {"doc_id", "payload"} <= set(pdf.columns)
                assert all(isinstance(p, (bytes, bytearray)) for p in pdf["payload"])
            feats = [_decode_stub(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [len(bytes(p)) for p in pdf["payload"]],
                    "payload_sha256": [
                        hashlib.sha256(bytes(p)).hexdigest() for p in pdf["payload"]
                    ],
                    "feature": feats,
                }
            )

    return ensure_min_partitions(media.select("doc_id", "payload")).mapInPandas(
        run, schema=FEATURES_SCHEMA
    )


FRAMES_SCHEMA = "doc_id long, frame_idx int, frame binary, frame_sha256 string"


def sample_frames(media: DataFrame, frame_size: int = 64,
                  stride: int | None = None) -> DataFrame:
    """Frame-sampling plumbing (video/audio shape): split each payload into
    fixed-size frames at ``stride`` offsets inside ``mapInPandas`` — the
    real pipeline decodes frames here; the chunking, batch shape, and
    per-frame digests are the tested contract. One input batch yields one
    exploded output batch (no JVM explode of large binaries)."""
    stride = stride or frame_size

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames, digests = [], [], [], []
            for did, p in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(p)
                for k, off in enumerate(range(0, max(len(raw), 1), stride)):
                    chunk = raw[off : off + frame_size]
                    if not chunk:
                        break
                    ids.append(did)
                    idxs.append(k)
                    frames.append(chunk)
                    digests.append(hashlib.sha256(chunk).hexdigest())
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame": frames,
                 "frame_sha256": digests}
            )

    return ensure_min_partitions(media.select("doc_id", "payload")).mapInPandas(
        run, schema=FRAMES_SCHEMA
    )


def resize_features(features: DataFrame, out_dim: int = 8) -> DataFrame:
    """Resize plumbing (image shape): linear-resample each feature vector to
    ``out_dim`` in an Arrow batch — stands in for image resize, which needs
    the same per-row array→array kernel signature."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for f in pdf["feature"]:
                v = np.asarray(f, dtype=np.float32)
                x_new = np.linspace(0, len(v) - 1, out_dim)
                out.append(
                    np.interp(x_new, np.arange(len(v)), v).astype(np.float32)
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "feature": out})

    return ensure_min_partitions(features.select("doc_id", "feature")).mapInPandas(
        run, schema="doc_id long, feature array<float>"
    )
