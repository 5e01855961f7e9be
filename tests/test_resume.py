"""Kill-and-resume: a crawl restarted from the wave checkpoints must
produce exactly the fetch order and URL-seen set of an uninterrupted
run (mirrors --resume, reference newsplease/single_crawler.py:273-286)."""

from __future__ import annotations

from news_please_spark.operators.frontier import FrontierConfig, FrontierEngine
from news_please_spark.world import World


def collect_order(df):
    return sorted(
        ((r.url, r.depth, r.seq, r.wave) for r in df.collect()), key=lambda t: t[2]
    )


def test_resume_matches_uninterrupted(spark, tmp_path):
    world = World(n_pages=300)
    edges = world.webgraph_df(spark)
    robots = world.robots_df(spark)
    seeds = world.seed_urls()

    full = FrontierEngine(
        spark, edges, robots,
        cfg=FrontierConfig(budget_per_host=8, max_depth=3),
    ).run(seeds)
    full_order = collect_order(full.order)
    full_seen = {r.url for r in full.seen.collect()}

    state = str(tmp_path / "crawlstate")
    # phase 1: stop after 3 waves (simulated kill)
    FrontierEngine(
        spark, edges, robots,
        cfg=FrontierConfig(budget_per_host=8, max_depth=3, max_waves=3,
                           state_dir=state),
    ).run(seeds)
    # phase 2: resume to completion
    resumed = FrontierEngine(
        spark, edges, robots,
        cfg=FrontierConfig(budget_per_host=8, max_depth=3, state_dir=state),
    ).run(seeds, resume=True)

    # stitched order: waves 0-2 from the state dir, rest from the resume run
    pre = spark.read.parquet(f"{state}/wave=0000[012]/order")
    stitched = collect_order(pre.unionByName(resumed.order))
    assert stitched == full_order
    resumed_seen = {r.url for r in resumed.seen.collect()}
    assert resumed_seen == full_seen


def test_resume_ignores_partial_tmp_wave(spark, tmp_path):
    """A kill mid _save_wave leaves wave=NNNNN.tmp with a (possibly
    partial) seen delta. Resume must neither read that seen delta (it
    would silently anti-join away the re-run wave's URLs) nor trip over
    truncated files — the stale tmp dir is discarded."""
    import shutil

    world = World(n_pages=300)
    edges = world.webgraph_df(spark)
    robots = world.robots_df(spark)
    seeds = world.seed_urls()

    full = FrontierEngine(
        spark, edges, robots,
        cfg=FrontierConfig(budget_per_host=8, max_depth=3),
    ).run(seeds)
    full_order = collect_order(full.order)
    full_seen = {r.url for r in full.seen.collect()}

    state = str(tmp_path / "crashstate")
    FrontierEngine(
        spark, edges, robots,
        cfg=FrontierConfig(budget_per_host=8, max_depth=3, max_waves=3,
                           state_dir=state),
    ).run(seeds)
    # simulate the crash: wave 3 died mid-save, leaving its seen delta
    # (URLs NOT in any complete wave — the worst case: reading it would
    # mark wave-3 discoveries as already seen) under .tmp
    longer = str(tmp_path / "longerstate")
    FrontierEngine(
        spark, edges, robots,
        cfg=FrontierConfig(budget_per_host=8, max_depth=3, max_waves=4,
                           state_dir=longer),
    ).run(seeds)
    shutil.copytree(f"{longer}/wave=00003", f"{state}/wave=00003.tmp")

    resumed = FrontierEngine(
        spark, edges, robots,
        cfg=FrontierConfig(budget_per_host=8, max_depth=3, state_dir=state),
    ).run(seeds, resume=True)
    pre = spark.read.parquet(f"{state}/wave=0000[012]/order")
    stitched = collect_order(pre.unionByName(resumed.order))
    assert stitched == full_order
    assert {r.url for r in resumed.seen.collect()} == full_seen


def test_retention_expires_waves_and_resume_still_exact(spark, tmp_path):
    """retain_waves=2: a long crawl keeps only the newest 2 wave
    snapshots (frontier copies don't accrete), the expired waves' seen
    DELTAS fold into base/ (no data rewrite), and a resume from the
    pruned state dir still reproduces the uninterrupted run exactly."""
    import os

    world = World(n_pages=300)
    edges = world.webgraph_df(spark)
    robots = world.robots_df(spark)
    seeds = world.seed_urls()

    full = FrontierEngine(
        spark, edges, robots,
        cfg=FrontierConfig(budget_per_host=8, max_depth=3),
    ).run(seeds)
    full_order = collect_order(full.order)
    full_seen = {r.url for r in full.seen.collect()}

    state = str(tmp_path / "prunedstate")
    FrontierEngine(
        spark, edges, robots,
        cfg=FrontierConfig(budget_per_host=8, max_depth=3, max_waves=5,
                           state_dir=state, retain_waves=2),
    ).run(seeds)
    waves = sorted(n for n in os.listdir(state) if n.startswith("wave="))
    assert waves == ["wave=00003", "wave=00004"]
    folded = sorted(os.listdir(os.path.join(state, "base")))
    assert folded == [f"seen-w{w:05d}" for w in range(3)]

    resumed = FrontierEngine(
        spark, edges, robots,
        cfg=FrontierConfig(budget_per_host=8, max_depth=3, state_dir=state,
                           retain_waves=2),
    ).run(seeds, resume=True)
    # waves 0-4 ran pre-kill; their order is in the full run's prefix
    pre = [t for t in full_order if t[3] <= 4]
    stitched = sorted(pre + collect_order(resumed.order), key=lambda t: t[2])
    assert stitched == full_order
    assert {r.url for r in resumed.seen.collect()} == full_seen


def test_expire_waves_rejects_keep_last_below_one(spark, tmp_path):
    """keep_last < 1 raises BEFORE touching disk: 0 would expire
    nothing (retain_waves=0 would keep every wave) and -1 would fold
    wave 0's seen delta into base/ before the catalog refused it."""
    import os

    import pytest

    world = World(n_pages=300)
    state = str(tmp_path / "state")
    engine = FrontierEngine(
        spark, world.webgraph_df(spark), world.robots_df(spark),
        cfg=FrontierConfig(budget_per_host=8, max_depth=3, max_waves=3,
                           state_dir=state),
    )
    engine.run(world.seed_urls())

    def listing():
        return sorted(
            os.path.relpath(os.path.join(d, n), state)
            for d, dirs, files in os.walk(state)
            for n in dirs + files
        )

    before = listing()
    assert "wave=00000/seen" in before
    for keep_last in (0, -1):
        with pytest.raises(ValueError, match="keep_last"):
            engine.expire_waves(keep_last)
        assert listing() == before
    with pytest.raises(ValueError, match="retain_waves"):
        FrontierConfig(retain_waves=0)
