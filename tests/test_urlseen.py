"""Partitioned-bloom URL-seen unit tests: fixed-capacity blob builds,
OR-merge of wave deltas, and the exactness guarantee of the prefilter
(false positives can never drop URLs)."""

from __future__ import annotations

import pytest

from news_please_spark.operators.urlseen import (
    bloom_prefilter,
    build_bloom_blobs,
    merge_bloom_blobs,
)

BUCKETS = 8


def _urls(spark, prefix, n):
    return spark.range(n).selectExpr(f"concat('https://{prefix}/', id) AS url")


def test_merged_blobs_cover_both_deltas(spark):
    a = _urls(spark, "wave-a", 400)
    b = _urls(spark, "wave-b", 300)
    blobs_a = build_bloom_blobs(a, BUCKETS, capacity=1024)
    blobs_b = build_bloom_blobs(b, BUCKETS, capacity=1024)
    merged = merge_bloom_blobs(blobs_a, blobs_b)

    seen = a.unionByName(b)
    fresh = _urls(spark, "unseen", 200)
    out = bloom_prefilter(fresh.unionByName(seen), seen, BUCKETS, blobs=merged)
    got = {r.url for r in out.collect()}
    # exactness: every unseen url survives, every seen url is removed
    assert got == {r.url for r in fresh.collect()}


def test_copartition_probe_tolerates_unmerged_deltas(spark):
    """The cogroup probe answers against every delta blob of a bucket,
    so the caller may pass the raw per-wave union without a merge pass:
    none of 1000 seen candidates may pass as new (a probe that read only
    one blob per bucket would let half of them through)."""
    a = _urls(spark, "wave-a", 500)
    b = _urls(spark, "wave-b", 500)
    deltas = build_bloom_blobs(a, BUCKETS, capacity=1024).unionByName(
        build_bloom_blobs(b, BUCKETS, capacity=1024)
    )
    seen = a.unionByName(b)
    assert bloom_prefilter(seen, seen, BUCKETS, blobs=deltas).count() == 0
    fresh = _urls(spark, "unseen", 100)
    out = bloom_prefilter(fresh.unionByName(seen), seen, BUCKETS, blobs=deltas)
    assert {r.url for r in out.collect()} == {r.url for r in fresh.collect()}


def test_mixed_capacity_blobs_refuse_to_merge(spark):
    a = build_bloom_blobs(_urls(spark, "a", 50), BUCKETS, capacity=1024)
    b = build_bloom_blobs(_urls(spark, "b", 50), BUCKETS, capacity=4096)
    with pytest.raises(Exception, match="mixed"):
        merge_bloom_blobs(a, b).collect()


def test_overfilled_blob_stays_exact(spark):
    # 4× past capacity: false-positive rate rises, exactness must not
    seen = _urls(spark, "big", 4096)
    blobs = build_bloom_blobs(seen, 1, capacity=1024)
    fresh = _urls(spark, "new", 500)
    out = bloom_prefilter(fresh.unionByName(seen), seen, 1, blobs=blobs)
    assert {r.url for r in out.collect()} == {r.url for r in fresh.collect()}
