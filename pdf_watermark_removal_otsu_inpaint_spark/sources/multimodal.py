"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video travel as `binary` columns with a metadata struct; decode /
feature-extract run as Arrow-batched mapInPandas over bounded batches. The
actual codecs are NOT in this container, so `decode_real` raises
NotImplementedError and the default path uses a deterministic fake decoder —
the Spark-side plumbing (schema, batching, partitioning, UDF signature) is
real and tested; only the codec call is stubbed.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = ("doc_id long, kind string, byte_len long, "
                  "feature array<double>, frames int")


def to_media_df(docs: DataFrame) -> DataFrame:
    """documents -> opaque media rows: payload = utf-8 bytes of text (a
    deterministic stand-in for an encoded image/audio blob)."""
    payload = F.encode("text", "utf-8")
    meta = F.struct(
        F.when(F.col("doc_id") % 3 == 0, "image")
         .when(F.col("doc_id") % 3 == 1, "audio")
         .otherwise("video").alias("kind"),
        F.length(payload).cast("long").alias("byte_len"),
        F.lit("fake/v1").alias("codec"))
    return docs.select("doc_id", payload.alias("payload"), meta.alias("meta"))


def decode_real(payload: bytes, codec: str) -> np.ndarray:
    """Real decode would use PIL/libav here — not available in this image."""
    raise NotImplementedError(
        "media codecs are not installed in this environment; "
        "use extract_features (deterministic fake decode) instead")


def _fake_decode(payload: bytes) -> np.ndarray:
    """Deterministic stand-in: interpret bytes as uint8 samples."""
    return np.frombuffer(payload, dtype=np.uint8).astype(np.float64)


def extract_features(media: DataFrame, n_feat: int = 8,
                     frame_stride: int = 100) -> DataFrame:
    """mapInPandas feature extraction: per-batch vectorized decode ->
    fixed-width feature vector + frame-sample count. Batch shape and schema
    are the real contract; the decode is the deterministic fake. A NULL
    payload keeps its row with a NULL feature vector and frame count."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            null = pdf["payload"].isna().to_numpy()
            payloads = [b"" if n else bytes(p)
                        for p, n in zip(pdf["payload"], null)]
            B = len(payloads)
            lengths = np.fromiter((len(p) for p in payloads), dtype=np.int64,
                                  count=B)
            offsets = np.zeros(B + 1, dtype=np.int64)
            np.cumsum(lengths, out=offsets[1:])
            flat = (np.frombuffer(b"".join(payloads), dtype=np.uint8)
                    .astype(np.float64))
            # whole-batch bucket means: sample j of row i belongs to bucket
            # (j*n_feat)//n_i, so bucket k starts at ceil(k*n_i/n_feat) —
            # one reduceat over all (row, bucket) boundary positions
            k = np.arange(n_feat, dtype=np.int64)
            bounds = (offsets[:-1, None]
                      + (k[None, :] * lengths[:, None] + n_feat - 1)
                      // n_feat).ravel()
            cnts = np.diff(np.append(bounds, flat.size))
            if flat.size and not (cnts <= 0).any():
                sums = np.add.reduceat(flat, bounds)
                feats = (sums / cnts).reshape(B, n_feat)
            else:
                # short rows (n_i < n_feat) create empty reduceat segments —
                # fall back per row only then (never for real payloads)
                feats = np.zeros((B, n_feat))
                for i, p in enumerate(payloads):
                    s = _fake_decode(p)
                    if s.size == 0:
                        continue
                    idx = (np.arange(s.size) * n_feat) // s.size
                    su = np.bincount(idx, weights=s, minlength=n_feat)
                    ct = np.maximum(np.bincount(idx, minlength=n_feat), 1)
                    feats[i] = su / ct
            frames = pd.array(np.ceil(lengths / frame_stride), dtype="Int32")
            frames[null] = pd.NA
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "kind": [m["kind"] for m in pdf["meta"]],
                "byte_len": [m["byte_len"] for m in pdf["meta"]],
                "feature": [None if null[i] else feats[i] for i in range(B)],
                "frames": frames,
            })

    return media.mapInPandas(extract, FEATURE_SCHEMA)
