"""Partitioned bloom-filter URL-seen prefilter: the per-bucket numpy
kernels (bit array, double hashing) plugged into the shared frame of
operators/seenfilter.py, which owns bucketing, hash lanes, the
cogrouped probe and the exact anti-join confirm.

Blobs built with a fixed capacity share (m, k), so per-wave deltas
merge by bitwise OR — the incremental path the crawl loop uses.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from news_please_spark.operators import seenfilter


def _bloom_set(n_items: int, fpp: float = 0.01) -> tuple[int, int]:
    n = max(n_items, 16)
    m = int(-n * math.log(fpp) / (math.log(2) ** 2))
    m = max(128, (m + 7) // 8 * 8)  # byte-aligned bit count
    k = max(1, int(round(m / n * math.log(2))))
    return m, min(k, 8)


_BLOB_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("m", T.LongType(), False),
        T.StructField("k", T.IntegerType(), False),
        T.StructField("blob", T.BinaryType(), False),
    ]
)


def _bit_index(h1: np.ndarray, h2: np.ndarray, j: int, m: int) -> tuple[np.ndarray, np.ndarray]:
    """(byte, bit) of double-hash probe j for every lane pair."""
    idx = (h1 + np.uint64(j) * h2) % np.uint64(m)
    return (idx // 8).astype(np.int64), (idx % 8).astype(np.uint8)


def _or_blobs(pdf: pd.DataFrame) -> tuple[int, int, np.ndarray]:
    """(m, k, bits) of one bucket's blob rows OR-ed together."""
    if pdf["m"].nunique() != 1 or pdf["k"].nunique() != 1:
        raise ValueError(
            f"bloom blobs in bucket {pdf['bucket'].iloc[0]} have mixed "
            "(m, k) — build deltas with the same fixed capacity"
        )
    m, k = int(pdf["m"].iloc[0]), int(pdf["k"].iloc[0])
    bits = np.zeros(m // 8, dtype=np.uint8)
    for blob in pdf["blob"]:
        bits |= np.frombuffer(blob, dtype=np.uint8)
    return m, k, bits


def _merge(pdf: pd.DataFrame) -> dict:
    m, k, bits = _or_blobs(pdf)
    return {"m": m, "k": k, "blob": bits.tobytes()}


def _contains(pdf: pd.DataFrame, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
    m, k, bits = _or_blobs(pdf)
    hit = np.ones(len(h1), dtype=bool)
    for j in range(k):  # k ≤ 8 vectorized passes, no per-row work
        byte, bit = _bit_index(h1, h2, j, m)
        hit &= ((bits[byte] >> bit) & 1) == 1
    return hit


def build_bloom_blobs(
    seen: DataFrame, n_buckets: int, fpp: float = 0.01, capacity: int | None = None
) -> DataFrame:
    """seen(url) → blobs(bucket, m, k, blob) — one bloom per hash bucket.

    capacity=None sizes each blob to its bucket's actual row count
    (tightest for a one-shot build). With capacity=N the (m, k) pair is
    FIXED for the expected per-bucket capacity, which makes blobs from
    different deltas bitwise OR-mergeable — the incremental path the
    crawl loop uses so each wave hashes only its delta, never the whole
    seen set. Overfilling past capacity only raises the false-positive
    rate; the exact anti-join confirm keeps results bit-exact."""
    fixed = _bloom_set(capacity, fpp) if capacity else None

    def build(h1: np.ndarray, h2: np.ndarray) -> dict:
        m, k = fixed if fixed else _bloom_set(len(h1), fpp)
        bits = np.zeros(m // 8, dtype=np.uint8)
        for j in range(k):
            byte, bit = _bit_index(h1, h2, j, m)
            np.bitwise_or.at(bits, byte, (1 << bit).astype(np.uint8))
        return {"m": m, "k": k, "blob": bits.tobytes()}

    return seenfilter.build_blobs(seen, n_buckets, build, _BLOB_SCHEMA)


def merge_bloom_blobs(a: DataFrame, b: DataFrame) -> DataFrame:
    """Bitwise-OR per-bucket blobs built with the SAME fixed capacity
    (m, k must match within a bucket; checked)."""
    return seenfilter.merge_blobs(a, b, _merge, _BLOB_SCHEMA)


def bloom_prefilter(
    candidates: DataFrame,
    seen: DataFrame,
    n_buckets: int,
    fpp: float = 0.01,
    blobs: DataFrame | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Split candidates by bloom verdict; return
    definitely-new ∪ (maybe-seen exact-anti-join seen) — see
    seenfilter.prefilter. Pass prebuilt `blobs` (incrementally merged
    across waves) to avoid rehashing the whole seen set per call."""
    if blobs is None:
        blobs = build_bloom_blobs(seen, n_buckets, fpp)
    return seenfilter.prefilter(
        candidates, seen, n_buckets, blobs, _contains, materialize
    )
