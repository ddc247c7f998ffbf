"""Multimodal column plumbing (training-data-pipeline surface).

Opaque media payloads are ``binary`` columns with typed metadata. The
Spark side — schema declaration, Arrow batch shape, mapInPandas
signature, partition-parallel execution — is real and tested; the
actual media decode is a deterministic STUB because no image/audio
libraries exist in this container: ``_feature_batches`` derives fake
but stable "features" straight from the payload bytes. On a
production cluster, swap the per-batch feature computation inside
``_feature_batches`` for a real decoder (PIL/torchaudio/ffmpeg);
nothing else — schema, batching, call sites — changes.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

FEATURE_SCHEMA = ("doc_id bigint, n_bytes int, kind string, "
                  "feat_mean double, feat_dim int")


def _round6(x: float) -> float:
    """x rounded to 6 decimals the way SQL engines (DuckDB's
    ``round(x, 6)``) do it: scale by 1e6, round half up, unscale.
    Python's ``round`` rounds the exact binary value instead, so the
    two disagree when x·1e6 lands on .5 but x sits just below it
    (24174 / 65280 → 0.370312 vs 0.370313)."""
    y = x * 1e6
    f = math.floor(y)
    return (f + (y - f >= 0.5)) / 1e6


def _feature_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    # THE REAL-DECODER SWAP POINT. The stub features below are an
    # EXACT integer byte sum over the first 256 payload bytes, then
    # one double divide: sum(bytes)/(n·255) is bit-identical to any
    # other engine doing the same integer sum (a float .mean() would
    # differ in the last ulp between summation orders, breaking the
    # external hash-verification the driver-oracle pairing relies on).
    for pdf in it:
        raw = [p[:256] for p in pdf["payload"]]
        yield pd.DataFrame({
            "doc_id": pdf["doc_id"].astype("int64"),
            "n_bytes": [len(p) for p in pdf["payload"]],
            "kind": "bytes-stub",
            "feat_mean": [_round6(sum(b) / (max(len(b), 1) * 255.0))
                          for b in raw],
            "feat_dim": [max(len(b), 1) for b in raw],
        })


def extract_binary_features(df: DataFrame) -> DataFrame:
    """(doc_id, payload:binary) → typed feature metadata via Arrow
    batches. Partition-parallel; no shuffle."""
    return df.mapInPandas(_feature_batches, schema=FEATURE_SCHEMA)
