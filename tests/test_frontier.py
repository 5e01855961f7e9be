"""Crawl-ordering + URL-seen exact-match vs the pure-Python oracle —
the BASELINE.json headline metric."""

from __future__ import annotations

import pytest

from news_please_spark.operators.frontier import FrontierConfig, FrontierEngine
from news_please_spark.oracle import CrawlConfig, CrawlOracle
from news_please_spark.world import World


def run_both(spark, n_pages, budget, max_depth, seen_filter=None, n_seeds=8,
             salt_buckets=1):
    world = World(n_pages=n_pages, n_seeds=n_seeds)
    oracle = CrawlOracle(world, CrawlConfig(budget_per_host=budget, max_depth=max_depth))
    o_order, o_seen = oracle.run()

    engine = FrontierEngine(
        spark,
        world.webgraph_df(spark),
        robots=world.robots_df(spark),
        cfg=FrontierConfig(
            budget_per_host=budget,
            max_depth=max_depth,
            seen_filter=seen_filter,
            salt_buckets=salt_buckets,
        ),
    )
    res = engine.run(world.seed_urls())
    e_rows = res.order.select("url", "depth", "seq", "wave").collect()
    e_order = sorted(((r.url, r.depth, r.seq, r.wave) for r in e_rows), key=lambda t: t[2])
    e_seen = {r.url for r in res.seen.collect()}
    return o_order, o_seen, e_order, e_seen, res


@pytest.mark.parametrize(
    "n_pages,budget,max_depth",
    [(300, 8, 4), (500, 8, 3), (150, 2, 5)],
)
def test_order_and_seen_match_oracle(spark, n_pages, budget, max_depth):
    o_order, o_seen, e_order, e_seen, res = run_both(
        spark, n_pages, budget, max_depth
    )
    assert len(o_order) > 20, "oracle crawl unexpectedly tiny"
    assert e_seen == o_seen
    assert e_order == o_order
    assert res.fetched == len(o_order)


def test_bloom_and_salted_topk_are_exact(spark):
    """The scale paths (bloom URL-seen prefilter, skew-salted politeness
    top-k) must not change results by one bit."""
    o_order, o_seen, e_order, e_seen, _ = run_both(
        spark, 400, 8, 3, seen_filter="bloom", salt_buckets=8
    )
    assert e_seen == o_seen
    assert e_order == o_order


def test_seq_guard_is_byte_keyed(spark):
    """The single-task fetch-order window must be gated on estimated
    BYTES, not just rows — a wave of fat rows (multi-KB URLs) takes the
    scalable two-phase numbering even at a tiny row count, and the
    resulting order is still 0..n-1 in (depth, disc_key, url) order."""
    from news_please_spark.operators.frontier import FrontierConfig, FrontierEngine

    # 400 URLs × ~180 KB ≈ 72 MB of fetch rows > SMALL_SEQ_BYTES (64 MB)
    fat_seeds = spark.range(400).selectExpr(
        "concat('https://h', CAST(id % 50 AS STRING), '.example.com/p/',"
        " repeat('x', 180000), CAST(id AS STRING)) AS url"
    )
    edges = spark.createDataFrame(
        [], "src_url string, dst_url string, link_index long"
    )
    engine = FrontierEngine(
        spark, edges, cfg=FrontierConfig(budget_per_host=100, max_depth=1)
    )
    res = engine.run(fat_seeds)
    assert res.metrics[0]["seq_path"] == "two_phase"
    assert res.fetched == 400
    rows = res.order.select("url", "seq").collect()
    by_seq = sorted((r.seq, r.url) for r in rows)
    assert [s for s, _ in by_seq] == list(range(400))
    assert [u for _, u in by_seq] == sorted(r.url for r in rows)

    # control: thin seeds on the same engine shape stay on the window path
    thin_seeds = spark.range(400).selectExpr(
        "concat('https://h', CAST(id % 50 AS STRING), '.example.com/p/',"
        " CAST(id AS STRING)) AS url"
    )
    res2 = FrontierEngine(
        spark, edges, cfg=FrontierConfig(budget_per_host=100, max_depth=1)
    ).run(thin_seeds)
    # ...and with the predictor satisfied, mark+seq fuse into one job
    assert res2.metrics[0]["seq_path"] == "fused_window"
    assert res2.fetched == 400


def test_fused_seq_matches_unfused(spark, monkeypatch):
    """The fused mark+seq checkpoint (one job per wave) must be
    bit-exact vs the oracle AND vs the unfused two-job window path; the
    default config actually takes the fused path on small waves. The
    window path is reached when the size predictor (2× last wave's
    fetch count) declines fusion but the actual fetch set still fits
    the one-task window: with SMALL_SEQ_LIMIT at the largest wave's
    fetch count, the wave after it takes that path."""
    import news_please_spark.operators.frontier as fr

    o_order, o_seen, e_order, e_seen, res = run_both(spark, 300, 8, 4)
    assert {m["seq_path"] for m in res.metrics} == {"fused_window"}
    assert e_order == o_order and e_seen == o_seen
    monkeypatch.setattr(
        fr, "SMALL_SEQ_LIMIT", max(m["fetched"] for m in res.metrics)
    )
    _, _, u_order, u_seen, res2 = run_both(spark, 300, 8, 4)
    assert "window" in {m["seq_path"] for m in res2.metrics}
    assert u_order == o_order and u_seen == o_seen


def test_bloom_copartition_probe_is_exact(spark):
    """The bucket-cogrouped (one-bucket-per-task) bloom probe — the
    10^10-URL design point where blobs exceed any single JVM — must be
    bit-exact on the unsalted politeness path too."""
    o_order, o_seen, e_order, e_seen, _ = run_both(
        spark, 400, 8, 3, seen_filter="bloom"
    )
    assert e_seen == o_seen
    assert e_order == o_order


@pytest.mark.parametrize("salt_buckets", [1, 8])
def test_cuckoo_filter_is_exact(spark, salt_buckets):
    o_order, o_seen, e_order, e_seen, _ = run_both(
        spark, 400, 8, 3, seen_filter="cuckoo", salt_buckets=salt_buckets
    )
    assert e_seen == o_seen
    assert e_order == o_order


def test_filtered_url_seen_runs_one_anti_join_per_wave(spark, monkeypatch):
    """The filter's result (definitely-new ∪ maybe-seen ⋉̸ seen) is
    already exact, so a filtered wave runs ONE left_anti against `seen`
    — on the maybe-seen rows only — not a second one over the filter's
    whole output."""
    cls = type(spark.range(1))
    join = cls.join
    anti = []

    def counting_join(self, other, on=None, how=None):
        if how == "left_anti":
            anti.append(how)
        return join(self, other, on, how)

    monkeypatch.setattr(cls, "join", counting_join)
    o_order, o_seen, e_order, e_seen, res = run_both(
        spark, 400, 8, 3, seen_filter="bloom"
    )
    assert e_seen == o_seen
    assert e_order == o_order
    assert len(anti) == res.waves


@pytest.mark.parametrize(
    "bad",
    [pytest.param({"seen_filter": v}, id=str(v)) for v in ["", "none", "Bloom", "broadcast", True]]
    + [
        pytest.param({k: v}, id=f"{k}={v}")
        for k, v in [("budget_per_host", 0), ("budget_per_host", -1), ("max_depth", -1),
                     ("seen_buckets", 0)]
    ],
)
def test_unknown_seen_filter_is_rejected_at_config(bad):
    """An unknown seen_filter, and a budget below 1, a negative depth or
    no seen bucket, raise at construction, naming the field."""
    (name,) = bad
    with pytest.raises(ValueError, match=name):
        FrontierConfig(**bad)


@pytest.mark.parametrize(
    "n_pages,budget",
    [
        (250, 8),
        # budget < seeds-per-host: waves where deferred seeds and
        # children coexist in the frontier — the regression case for
        # disc_key collisions (child keys start at DISC_STRIDE, so a
        # deferred seed never ties with a child inside a host)
        (300, 2),
    ],
)
def test_salted_window_politeness_is_exact(spark, n_pages, budget):
    """The skew-salted two-phase politeness window must match the
    oracle exactly."""
    o_order, o_seen, e_order, e_seen, _ = run_both(
        spark, n_pages, budget, 3, salt_buckets=8
    )
    assert e_seen == o_seen
    assert e_order == o_order


def test_shuffle_hash_expansion_is_exact(spark, monkeypatch):
    """Big waves use a shuffle-hash join on src_url-co-partitioned edges
    instead of broadcasting the fetch side (the driver-serial broadcast
    build was every wave's scaling floor). Force that path and require
    bit-exact results."""
    import news_please_spark.operators.frontier as fr

    monkeypatch.setattr(fr, "BROADCAST_FETCH_LIMIT", 0)
    o_order, o_seen, e_order, e_seen, _ = run_both(spark, 300, 8, 3)
    assert e_seen == o_seen
    assert e_order == o_order


def test_politeness_and_filters(spark):
    world = World(n_pages=500)
    engine = FrontierEngine(
        spark,
        world.webgraph_df(spark),
        robots=world.robots_df(spark),
        cfg=FrontierConfig(budget_per_host=3, max_depth=3),
    )
    res = engine.run(world.seed_urls())
    per = (
        res.order.groupBy("wave", "host")
        .count()
        .agg({"count": "max"})
        .collect()[0][0]
    )
    assert per <= 3  # politeness budget respected in every wave

    urls = [r.url for r in res.order.select("url").collect()]
    assert urls
    for u in urls:
        assert not u.startswith("mailto:")   # F3
        assert not u.endswith(".pdf")        # F2
        assert ".other.net" not in u          # F4
        host = u.split("/")[2]
        h = int(host.split(".")[0][1:])
        if h % 3 == 0:                        # F11 robots
            assert "/private/" not in u


def _persistent_rdd_count(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_storage_released_across_consecutive_runs(spark, monkeypatch):
    """Two consecutive crawls on one session must not accrete storage:
    engine.close() + result.release() return the persistent-RDD set to
    its pre-run level (VERDICT r3 wrong #3 — cache lifecycle). Order
    parts compact every 2 waves, so the compaction releases run too."""
    import news_please_spark.operators.frontier as frontier_mod

    monkeypatch.setattr(frontier_mod, "CHECKPOINT_EVERY", 2)
    world = World(n_pages=400, n_seeds=8)

    def one_run() -> int:
        engine = FrontierEngine(
            spark,
            world.webgraph_df(spark),
            robots=world.robots_df(spark),
            cfg=FrontierConfig(budget_per_host=8, max_depth=3),
        )
        res = engine.run(world.seed_urls())
        n = res.order.count()
        res.release()
        engine.close()
        return n

    base = _persistent_rdd_count(spark)
    n1 = one_run()
    after1 = _persistent_rdd_count(spark)
    n2 = one_run()
    after2 = _persistent_rdd_count(spark)
    assert n1 == n2 > 0
    # everything the run persisted or checkpointed is released again
    assert after1 <= base
    assert after2 <= base


def test_global_seq_on_empty_input_releases_its_cache(spark):
    """An empty input leaves nothing persisted behind, with or without
    materialize: the range-partitioned intermediate is released and
    not handed to `caches`."""
    from news_please_spark.operators.ordering import with_global_seq

    empty = spark.createDataFrame([], "url string")
    base = _persistent_rdd_count(spark)
    for materialize in (True, False):
        caches = []
        res, nxt = with_global_seq(
            empty, ["url"], 7, materialize=materialize, caches=caches
        )
        assert nxt == 7 and res.count() == 0 and caches == []
        assert res.columns == ["url", "seq"]
        assert _persistent_rdd_count(spark) == base


class _RepeatedSeedWorld(World):
    """World whose seed list names its first three seeds twice."""

    def seed_urls(self) -> list[str]:
        seeds = super().seed_urls()
        return seeds + seeds[:3]


def test_duplicate_seed_urls_match_oracle(spark):
    """A repeated seed URL is one frontier row: fetched once, in the
    oracle's order."""
    world = _RepeatedSeedWorld(n_pages=300)
    assert len(world.seed_urls()) > len(set(world.seed_urls()))
    o_order, o_seen = CrawlOracle(
        world, CrawlConfig(budget_per_host=8, max_depth=3)
    ).run()
    engine = FrontierEngine(
        spark,
        world.webgraph_df(spark),
        robots=world.robots_df(spark),
        cfg=FrontierConfig(budget_per_host=8, max_depth=3),
    )
    res = engine.run(world.seed_urls())
    rows = res.order.select("url", "depth", "seq", "wave").collect()
    e_order = sorted(((r.url, r.depth, r.seq, r.wave) for r in rows), key=lambda t: t[2])
    assert e_order == o_order
    assert {r.url for r in res.seen.collect()} == o_seen
    res.release()
    engine.close()


def test_expansion_edges_are_gated_once(spark):
    """The cached edge table is the raw webgraph through filters
    F2/F3/F4 and robots F11 (the oracle's Python gate, computed
    independently), with dst_host == url_host(dst_url) on every row."""
    from pyspark.sql import functions as F

    from news_please_spark.functions.urls import url_host
    from news_please_spark.oracle import host_of

    world = World(n_pages=400)
    webgraph = world.webgraph_df(spark)
    engine = FrontierEngine(
        spark, webgraph, robots=world.robots_df(spark), cfg=FrontierConfig()
    )
    allowed = CrawlOracle(world)._allowed
    raw = webgraph.select("src_url", "dst_url", "link_index").collect()
    expected = sorted(
        (r.src_url, r.dst_url, r.link_index) for r in raw if allowed(r.dst_url)
    )
    assert 0 < len(expected) < len(raw)  # the gate drops some edges

    edges = engine._expansion_edges()
    got = edges.select("src_url", "dst_url", "link_index", "dst_host").collect()
    assert sorted((r.src_url, r.dst_url, r.link_index) for r in got) == expected
    assert all(r.dst_host == host_of(r.dst_url) for r in got)
    assert edges.filter(
        ~F.col("dst_host").eqNullSafe(url_host(F.col("dst_url")))
    ).count() == 0
    engine.close()


def test_prologue_submits_at_most_three_jobs(spark):
    """Starting a crawl (max_waves=0, no state_dir) is one seed
    checkpoint plus the robots broadcast — no seed numbering jobs."""
    world = World(n_pages=300)
    engine = FrontierEngine(
        spark,
        world.webgraph_df(spark),
        robots=world.robots_df(spark),
        cfg=FrontierConfig(budget_per_host=8, max_depth=3, max_waves=0),
    )
    sc = spark.sparkContext
    group = "frontier-prologue-jobs"
    sc.setJobGroup(group, "prologue job count")
    try:
        res = engine.run(world.seed_urls())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert res.waves == 0 and res.fetched == 0
    assert 1 <= n_jobs <= 3, n_jobs
    res.release()
    engine.close()
