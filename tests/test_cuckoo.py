"""Partitioned-cuckoo URL-seen unit tests: fixed-geometry blob builds,
fingerprint-level delta merge, DELETION (the property bloom can't
offer), high-load eviction builds, and the exactness guarantee of the
prefilter (false positives can never drop URLs). Numpy-level geometry
properties are covered without Spark where possible."""

from __future__ import annotations

import numpy as np
import pytest

from news_please_spark.operators.cuckoo import (
    SLOTS,
    _alt_index,
    _fp_i1_i2,
    _geometry,
    _insert_all,
    build_cuckoo_blobs,
    cuckoo_prefilter,
    delete_from_cuckoo_blobs,
    merge_cuckoo_blobs,
)

BUCKETS = 8


def _urls(spark, prefix, n):
    return spark.range(n).selectExpr(f"concat('https://{prefix}/', id) AS url")


# -- numpy-level properties -------------------------------------------------


def test_alt_index_is_involution():
    b = 1 << 10
    rng = np.random.default_rng(7)
    h1 = rng.integers(0, 2**63, 5000, dtype=np.int64).view(np.uint64)
    h2 = rng.integers(0, 2**63, 5000, dtype=np.int64).view(np.uint64)
    fp, i1, i2 = _fp_i1_i2(h1, h2, b)
    assert (_alt_index(i2, fp, b) == i1).all()
    assert (_alt_index(i1, fp, b) == i2).all()
    assert (fp != 0).all()  # 0 is the empty-slot marker


def test_insert_all_places_every_item_at_design_load():
    n = 4000
    b = _geometry(n)  # pow2, sized for LOAD
    rng = np.random.default_rng(11)
    h1 = rng.integers(0, 2**63, n, dtype=np.int64).view(np.uint64)
    h2 = rng.integers(0, 2**63, n, dtype=np.int64).view(np.uint64)
    fp, i1, i2 = _fp_i1_i2(h1, h2, b)
    table = np.zeros((b, SLOTS), dtype=np.uint16)
    _insert_all(table, fp, i1, i2)
    assert np.count_nonzero(table) == n  # no silent drops
    # every inserted fingerprint is findable at i1 or i2
    hit = ((table[i1] == fp[:, None]).any(1)) | ((table[i2] == fp[:, None]).any(1))
    assert hit.all()


def test_insert_overfill_raises():
    b = 8  # 32 slots
    rng = np.random.default_rng(3)
    n = 64  # 2x the total slot count — must fail loudly, not drop
    h1 = rng.integers(0, 2**63, n, dtype=np.int64).view(np.uint64)
    h2 = rng.integers(0, 2**63, n, dtype=np.int64).view(np.uint64)
    fp, i1, i2 = _fp_i1_i2(h1, h2, b)
    with pytest.raises(ValueError, match="overfilled"):
        _insert_all(np.zeros((b, SLOTS), dtype=np.uint16), fp, i1, i2)


def test_insert_compacts_deletion_holes_before_fill():
    """A deletion leaves a mid-bucket hole; a later insert must reuse
    the hole, not overwrite the last occupied slot."""
    b = 8
    table = np.zeros((b, SLOTS), dtype=np.uint16)
    table[0] = [5, 0, 7, 9]  # hole at slot 1
    _insert_all(
        table,
        np.array([11], dtype=np.uint16),
        np.array([0], dtype=np.int64),
        np.array([3], dtype=np.int64),
    )
    assert sorted(table[0].tolist()) == [5, 7, 9, 11]


# -- Spark-level contract ---------------------------------------------------


def test_merged_blobs_cover_both_deltas(spark):
    a = _urls(spark, "wave-a", 400)
    b = _urls(spark, "wave-b", 300)
    blobs_a = build_cuckoo_blobs(a, BUCKETS, capacity=1024)
    blobs_b = build_cuckoo_blobs(b, BUCKETS, capacity=1024)
    merged = merge_cuckoo_blobs(blobs_a, blobs_b)

    seen = a.unionByName(b)
    fresh = _urls(spark, "unseen", 200)
    out = cuckoo_prefilter(fresh.unionByName(seen), seen, BUCKETS, blobs=merged)
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
    deltas = build_cuckoo_blobs(a, BUCKETS, capacity=1024).unionByName(
        build_cuckoo_blobs(b, BUCKETS, capacity=1024)
    )
    seen = a.unionByName(b)
    assert cuckoo_prefilter(seen, seen, BUCKETS, blobs=deltas).count() == 0
    fresh = _urls(spark, "unseen", 100)
    out = cuckoo_prefilter(fresh.unionByName(seen), seen, BUCKETS, blobs=deltas)
    assert {r.url for r in out.collect()} == {r.url for r in fresh.collect()}


def test_mixed_geometry_blobs_refuse_to_merge(spark):
    a = build_cuckoo_blobs(_urls(spark, "a", 50), BUCKETS, capacity=1024)
    b = build_cuckoo_blobs(_urls(spark, "b", 50), BUCKETS, capacity=65536)
    with pytest.raises(Exception, match="mixed"):
        merge_cuckoo_blobs(a, b).collect()


def test_delete_reopens_urls(spark):
    """THE cuckoo property: retract 150 of 500 seen URLs from the blobs
    and the filter stops claiming them — no rebuild, no effect on the
    remaining 350 (deterministic fingerprints: a deleted URL cannot
    shadow a survivor's fingerprint unless they collide, in which case
    the exact confirm still keeps results correct)."""
    seen = _urls(spark, "seen", 500)
    blobs = build_cuckoo_blobs(seen, BUCKETS, capacity=1024)
    gone = _urls(spark, "seen", 150)  # ids 0-149, deterministic subset
    kept = seen.join(gone, "url", "left_anti")

    blobs2 = delete_from_cuckoo_blobs(blobs, gone, BUCKETS)
    # the filter's own verdict: deleted urls no longer "maybe-seen".
    # Probing via prefilter against the post-delete truth (kept) — the
    # deleted urls must come out the filter as definitely-new.
    out = cuckoo_prefilter(seen, kept, BUCKETS, blobs=blobs2)
    assert {r.url for r in out.collect()} == {r.url for r in gone.collect()}


def test_engine_bit_exact_with_cuckoo_filter(spark):
    """Full crawl with seen_filter='cuckoo' equals the bloom run and the
    no-filter run row for row (the filter only prunes the anti-join's
    probe side — any verdict differences must be invisible)."""
    from news_please_spark.operators.frontier import (
        FrontierConfig,
        FrontierEngine,
    )
    from news_please_spark.world import World

    world = World(n_pages=400)
    orders = {}
    for name, extra in (
        ("off", {}),
        ("bloom", {"seen_filter": "bloom"}),
        ("cuckoo", {"seen_filter": "cuckoo"}),
    ):
        cfg = FrontierConfig(
            budget_per_host=8, max_depth=3, seen_buckets=4,
            bloom_capacity=4096, **extra,
        )
        eng = FrontierEngine(
            spark, world.webgraph_df(spark), robots=world.robots_df(spark),
            cfg=cfg,
        )
        res = eng.run(world.seed_urls())
        orders[name] = [tuple(r) for r in res.order.orderBy("seq").collect()]
        res.release()
        eng.close()
    assert orders["cuckoo"] == orders["off"]
    assert orders["bloom"] == orders["off"]
