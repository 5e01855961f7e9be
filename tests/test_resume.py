"""Kill-and-resume: a crawl restarted from the wave checkpoints must
produce exactly the fetch order and URL-seen set of an uninterrupted
run (mirrors --resume, reference newsplease/single_crawler.py:273-286)."""

from __future__ import annotations

import os
import re

import pytest

from news_please_spark.operators.frontier import FrontierConfig, FrontierEngine
from news_please_spark.oracle import CrawlConfig, CrawlOracle
from news_please_spark.state import SnapshotCatalog, Transaction
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


@pytest.fixture(scope="module")
def uninterrupted(spark):
    """World(300), budget 8, depth 3: (world, edges, robots, order, seen)
    of the uninterrupted crawl, shared by the crash-point cases — from
    the oracle the engine is bit-exact against (test_frontier.py)."""
    world = World(n_pages=300)
    order, seen = CrawlOracle(world, CrawlConfig(budget_per_host=8, max_depth=3)).run()
    return world, world.webgraph_df(spark), world.robots_df(spark), order, seen


class Crash(Exception):
    pass


# each write of a wave's _save_wave once: wave 0's seen delta carries
# the seeds; a crash at wave 1 or 2 resumes from the frontier rebuilt
# as seen ⋉̸ order
@pytest.mark.parametrize("wave,point", [(0, "seen"), (1, "order"), (2, "commit")])
def test_crash_at_each_save_point_resumes_exactly(spark, tmp_path, monkeypatch, uninterrupted,
                                                   wave, point):
    """A crash at a write of a wave's _save_wave (its seen delta, its
    order delta, the commit rename) leaves only the waves before it
    committed; resume then finishes the crawl exactly: the stitched
    order, the resumed seen set and the state dir's own deltas equal
    the uninterrupted run."""
    world, edges, robots, full_order, full_seen = uninterrupted
    state = str(tmp_path / "state")
    armed = [True]
    write_table, commit = Transaction.write_table, Transaction.commit

    def crash_at(tx, name):
        if armed and tx.snapshot == wave and name == point:
            armed.clear()
            raise Crash(f"wave {wave} {point}")

    def crashing_write_table(self, name, df, *args, **kwargs):
        crash_at(self, name)
        return write_table(self, name, df, *args, **kwargs)

    def crashing_commit(self, meta=None):
        crash_at(self, "commit")
        return commit(self, meta)

    def engine():
        return FrontierEngine(
            spark, edges, robots,
            cfg=FrontierConfig(budget_per_host=8, max_depth=3, state_dir=state),
        )

    with monkeypatch.context() as m:
        m.setattr(Transaction, "write_table", crashing_write_table)
        m.setattr(Transaction, "commit", crashing_commit)
        with engine() as crashing, pytest.raises(Crash):
            crashing.run(world.seed_urls())
    assert not armed
    cat = SnapshotCatalog(state, prefix="wave=", width=5)
    assert cat.snapshots() == list(range(wave))
    pre = cat.read_deltas(spark, "order")
    pre_order = [] if pre is None else collect_order(pre)

    with engine() as eng:
        resumed = eng.run(world.seed_urls(), resume=True)
        stitched = sorted(pre_order + collect_order(resumed.order), key=lambda t: t[2])
        assert stitched == full_order
        assert {r.url for r in resumed.seen.collect()} == full_seen
        resumed.release()
    assert collect_order(cat.read_deltas(spark, "order")) == full_order
    assert sorted(r.url for r in cat.read_deltas(spark, "seen").collect()) == sorted(full_seen)


def test_resume_refuses_a_state_dir_of_the_older_layout(spark, tmp_path):
    """The layout before seen deltas carried the frontier columns (seeds
    in init/seen, url-only seen deltas, a frontier copy per wave) has no
    reader: resume raises ValueError naming the dir and changes no file."""
    state = tmp_path / "oldstate"
    wave0 = state / "wave=00000"
    urls = [f"http://h0.example.com/p{i}" for i in range(4)]
    spark.createDataFrame([(u,) for u in urls[:2]], "url string").write.parquet(
        str(state / "init" / "seen"))
    spark.createDataFrame([(u,) for u in urls[2:]], "url string").write.parquet(
        str(wave0 / "seen"))
    spark.createDataFrame(
        [(u, "h0.example.com", 1, 1 << 22) for u in urls[1:]],
        "url string, host string, depth int, disc_key long",
    ).write.parquet(str(wave0 / "frontier"))
    spark.createDataFrame(
        [(urls[0], "h0.example.com", 0, 0, 0)],
        "url string, host string, depth int, seq long, wave int",
    ).write.parquet(str(wave0 / "order"))
    (wave0 / "meta.json").write_text('{"seq_next": 1, "wave": 0}')
    (state / "delta-seen").touch()

    def files():
        return {str(f.relative_to(state)): f.read_bytes() for f in state.rglob("*") if f.is_file()}

    before = files()
    world = World(n_pages=150, n_seeds=4)
    with FrontierEngine(
        spark, world.webgraph_df(spark), world.robots_df(spark),
        cfg=FrontierConfig(budget_per_host=4, max_depth=2, state_dir=str(state)),
    ) as engine:
        with pytest.raises(ValueError, match=re.escape(str(state))):
            engine.run(world.seed_urls(), resume=True)
    assert files() == before


def test_state_dir_costs_two_jobs_per_wave(spark, tmp_path):
    """Checkpointing a wave is its seen and order delta writes and
    nothing else: a 3-wave crawl with state_dir submits exactly 2 jobs
    a wave more than without (counted by job group), and leaves only
    the two delta tables' markers and the 3 wave snapshots."""
    world = World(n_pages=300)
    edges, robots = world.webgraph_df(spark), world.robots_df(spark)
    sc = spark.sparkContext
    state = str(tmp_path / "state")
    jobs = {}
    for state_dir in (None, state):
        with FrontierEngine(
            spark, edges, robots,
            cfg=FrontierConfig(budget_per_host=8, max_depth=3, max_waves=3,
                               state_dir=state_dir),
        ) as engine:
            engine.prepare()
            group = f"state-dir-jobs-{state_dir is not None}"
            sc.setJobGroup(group, "crawl job count")
            try:
                res = engine.run(world.seed_urls())
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            jobs[state_dir] = len(sc.statusTracker().getJobIdsForGroup(group))
            assert res.waves == 3
            res.release()
    assert jobs[state] - jobs[None] == 2 * 3, jobs
    waves = [f"wave={w:05d}" for w in range(3)]
    assert sorted(os.listdir(state)) == ["delta-order", "delta-seen", *waves]
    for w in waves:
        assert sorted(os.listdir(os.path.join(state, w))) == ["meta.json", "order", "seen"]
