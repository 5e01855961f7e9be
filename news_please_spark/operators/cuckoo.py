"""Partitioned cuckoo-filter URL-seen prefilter (north_rule: "partitioned
bloom/cuckoo URL-seen filter"; reference analogue: scrapy RFPDupeFilter
persisted per crawler JOBDIR, reference newsplease/single_crawler.py:170-187).

The per-bucket numpy kernels (build, merge, contains) plugged into the
frame shared with the bloom variant (operators/seenfilter.py), which
owns bucketing, hash lanes, the cogrouped probe and the exact anti-join
confirm — false positives can never drop URLs.

What cuckoo buys over bloom (Fan et al. 2014, "Cuckoo Filter:
Practically Better Than Bloom"):

- DELETION: a URL can be retracted from the filter (bloom bits are
  shared; cuckoo stores discrete fingerprints). At the 10^10 design
  point this is what lets the seen filter follow a versioned store
  that *removes* documents (GDPR erasure, recrawl-forced refetch)
  without a full rebuild.
- Lower false-positive rate per byte at high load: 16-bit fingerprints
  in 4-slot buckets give ~2*s/2^f ≈ 5e-4 FPR at ~3 bytes/item, vs the
  1% the bloom is sized for.

Layout per blob: a (b, s) uint16 table flattened little-endian;
fingerprints are 16-bit, 0 = empty slot (a zero fingerprint maps to 1).
Bucket count b is a power of two so the partial-key alternate index
  i2 = i1 XOR (fp * 0x5bd1e995 mod b)
is an involution — from ANY current slot the other candidate bucket is
recomputable, which is what makes eviction and fingerprint-level delta
merging possible without the original keys.

The build is vectorized two-pass greedy (rank-within-bucket placement
at i1, then i2) and only the residual tail — a few % at the default 0.8
load — walks the classic eviction loop per item, bounded at MAX_KICKS.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from news_please_spark.operators import seenfilter

SLOTS = 4           # fingerprints per cuckoo bucket (Fan et al. sweet spot)
LOAD = 0.8          # target table load; two-pass greedy leaves a small tail
MAX_KICKS = 500     # eviction walk bound (standard)
_FP_MULT = np.uint64(0x5BD1E995)  # fingerprint splash for the alt index


def _geometry(n_items: int) -> int:
    """Cuckoo bucket count b (power of two) for n_items at LOAD."""
    need = max(int(n_items / (SLOTS * LOAD)), 1)
    return 1 << max(3, (need - 1).bit_length())


def _fp_i1_i2(h1: np.ndarray, h2: np.ndarray, b: int) -> tuple[np.ndarray, ...]:
    """(fingerprint, index1, index2) for 64-bit lane arrays; b is pow2."""
    mask = np.uint64(b - 1)
    fp = ((h2 >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
    fp[fp == 0] = 1  # 0 marks an empty slot
    i1 = (h1 & mask).astype(np.int64)
    alt = ((fp.astype(np.uint64) * _FP_MULT) & mask).astype(np.int64)
    return fp, i1, i1 ^ alt


def _alt_index(index: np.ndarray, fp: np.ndarray, b: int) -> np.ndarray:
    mask = np.uint64(b - 1)
    alt = ((fp.astype(np.uint64) * _FP_MULT) & mask).astype(np.int64)
    return index ^ alt


def _greedy_fill(
    table: np.ndarray, occ: np.ndarray, idx: np.ndarray, fp: np.ndarray
) -> np.ndarray:
    """Place each (idx, fp) into the first free slot of bucket idx,
    vectorized via rank-within-bucket; returns the boolean mask of
    items that did NOT fit."""
    order = np.argsort(idx, kind="stable")
    sidx = idx[order]
    if len(sidx) == 0:
        return np.zeros(0, dtype=bool)
    change = np.concatenate(([True], sidx[1:] != sidx[:-1]))
    group_start = np.flatnonzero(change)
    group_len = np.diff(np.append(group_start, len(sidx)))
    ranks = np.arange(len(sidx)) - np.repeat(group_start, group_len)
    slot = occ[sidx] + ranks
    ok = slot < SLOTS
    table[sidx[ok], slot[ok]] = fp[order][ok]
    np.add.at(occ, sidx[ok], 1)
    unplaced = np.zeros(len(idx), dtype=bool)
    unplaced[order[~ok]] = True
    return unplaced


def _insert_all(table: np.ndarray, fp: np.ndarray, i1: np.ndarray, i2: np.ndarray) -> None:
    """Two-pass vectorized greedy insert, then a deterministic eviction
    walk for the residual tail. Raises if a walk exceeds MAX_KICKS
    (table overfilled past its geometry — size capacity up)."""
    b = table.shape[0]
    # compact each bucket's fingerprints to the left first: deletions
    # leave holes, and the greedy fill places at slot occupancy+rank,
    # which assumes occupied slots are contiguous from slot 0
    order = np.argsort(table == 0, axis=1, kind="stable")
    table[:] = np.take_along_axis(table, order, axis=1)
    occ = np.count_nonzero(table, axis=1).astype(np.int64)
    left = _greedy_fill(table, occ, i1, fp)
    if left.any():
        left2 = _greedy_fill(table, occ, i2[left], fp[left])
        rest_fp = fp[left][left2]
        rest_i1 = i1[left][left2]
        for j in range(len(rest_fp)):  # residual tail only (few % at LOAD)
            cur_fp = rest_fp[j]
            cur_i = int(rest_i1[j])
            placed = False
            for kick in range(MAX_KICKS):
                row = table[cur_i]
                free = np.flatnonzero(row == 0)
                if len(free):
                    row[free[0]] = cur_fp
                    placed = True
                    break
                victim = kick % SLOTS  # deterministic walk (reproducible builds)
                cur_fp, row[victim] = row[victim], cur_fp
                cur_i = int(
                    _alt_index(np.int64(cur_i), np.array([cur_fp], dtype=np.uint16), b)[0]
                )
            if not placed:
                raise ValueError(
                    f"cuckoo eviction walk exceeded {MAX_KICKS} kicks at "
                    f"b={b} — table overfilled; raise capacity"
                )


_BLOB_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("b", T.LongType(), False),
        T.StructField("s", T.IntegerType(), False),
        T.StructField("blob", T.BinaryType(), False),
    ]
)


def _tables(pdf: pd.DataFrame) -> tuple[int, list[np.ndarray]]:
    """(b, read-only (b, SLOTS) table views) of one bucket's blob rows."""
    if pdf["b"].nunique() != 1 or pdf["s"].nunique() != 1:
        raise ValueError(
            f"cuckoo blobs in bucket {pdf['bucket'].iloc[0]} have mixed "
            "geometry — build deltas with the same fixed capacity"
        )
    bb = int(pdf["b"].iloc[0])
    return bb, [
        np.frombuffer(blob, dtype=np.uint16).reshape(bb, SLOTS)
        for blob in pdf["blob"]
    ]


def _merge(pdf: pd.DataFrame) -> dict:
    """The smaller tables' occupied fingerprints re-insert into the
    fullest one. Partial-key indexing makes this possible WITHOUT the
    original URLs — a stored (slot index, fp) pair regenerates its
    alternate bucket as index XOR h(fp)."""
    bb, tables = _tables(pdf)
    tables.sort(key=lambda t: np.count_nonzero(t), reverse=True)
    acc = tables[0].copy()
    for t in tables[1:]:
        idx, slot = np.nonzero(t)
        fp = t[idx, slot]
        _insert_all(acc, fp, idx, _alt_index(idx, fp, bb))
    return {"b": bb, "s": SLOTS, "blob": acc.tobytes()}


def _contains(pdf: pd.DataFrame, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
    bb, tables = _tables(pdf)
    fp, i1, i2 = _fp_i1_i2(h1, h2, bb)
    hit = np.zeros(len(h1), dtype=bool)
    for table in tables:  # unmerged deltas: a hit in any table counts
        hit |= (table[i1] == fp[:, None]).any(axis=1) | (
            table[i2] == fp[:, None]
        ).any(axis=1)
    return hit


def build_cuckoo_blobs(
    seen: DataFrame, n_buckets: int, capacity: int | None = None
) -> DataFrame:
    """seen(url) → blobs(bucket, b, s, blob) — one cuckoo table per hash
    bucket. capacity=None sizes each table to its bucket's row count;
    a fixed capacity makes delta blobs geometry-compatible for
    merge_cuckoo_blobs (the incremental crawl path, same contract as
    the bloom's fixed (m, k))."""
    fixed_b = _geometry(capacity) if capacity else None

    def build(h1: np.ndarray, h2: np.ndarray) -> dict:
        b = fixed_b if fixed_b else _geometry(len(h1))
        table = np.zeros((b, SLOTS), dtype=np.uint16)
        _insert_all(table, *_fp_i1_i2(h1, h2, b))
        return {"b": b, "s": SLOTS, "blob": table.tobytes()}

    return seenfilter.build_blobs(seen, n_buckets, build, _BLOB_SCHEMA)


def merge_cuckoo_blobs(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge per-bucket cuckoo tables of identical geometry (checked)."""
    return seenfilter.merge_blobs(a, b, _merge, _BLOB_SCHEMA)


def delete_from_cuckoo_blobs(
    blobs: DataFrame, urls: DataFrame, n_buckets: int
) -> DataFrame:
    """Remove each url's fingerprint from its blob (one matching slot
    per occurrence — multiset semantics, the cuckoo property bloom
    can't offer). URLs whose fingerprint is absent are ignored: the
    caller deletes what it previously inserted. Cogrouped on bucket so
    each task edits exactly one blob."""
    keyed = seenfilter.keyed(urls, n_buckets).select("bucket", "h1", "h2")

    def drop(blob_pdf: pd.DataFrame, del_pdf: pd.DataFrame) -> pd.DataFrame:
        if blob_pdf.empty:
            return pd.DataFrame(columns=_BLOB_SCHEMA.names)
        if len(blob_pdf) > 1:
            raise ValueError(
                f"bucket {int(blob_pdf['bucket'].iloc[0])} has "
                f"{len(blob_pdf)} blobs — merge deltas before deleting"
            )
        bb, (table,) = _tables(blob_pdf)
        table = table.copy()
        if not del_pdf.empty:
            fp, i1, i2 = _fp_i1_i2(
                seenfilter.as_u64(del_pdf["h1"]), seenfilter.as_u64(del_pdf["h2"]), bb
            )
            for j in range(len(fp)):  # delete batches are small by contract
                for cand in (int(i1[j]), int(i2[j])):
                    hit = np.flatnonzero(table[cand] == fp[j])
                    if len(hit):
                        table[cand, hit[0]] = 0
                        break
        return pd.DataFrame(
            [{"bucket": int(blob_pdf["bucket"].iloc[0]), "b": bb,
              "s": SLOTS, "blob": table.tobytes()}]
        )

    return (
        blobs.groupBy("bucket")
        .cogroup(keyed.groupBy("bucket"))
        .applyInPandas(drop, _BLOB_SCHEMA)
    )


def cuckoo_prefilter(
    candidates: DataFrame,
    seen: DataFrame,
    n_buckets: int,
    blobs: DataFrame | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Split candidates by cuckoo verdict; return
    definitely-new ∪ (maybe-seen exact-anti-join seen). Drop-in for
    bloom_prefilter — same call contract, same exactness (the filter
    only shrinks the anti-join's probe side)."""
    if blobs is None:
        blobs = build_cuckoo_blobs(seen, n_buckets)
    return seenfilter.prefilter(
        candidates, seen, n_buckets, blobs, _contains, materialize
    )
