"""SnapshotCatalog: atomic commit, listing, CAS conflict — the MERGE
layer both the versioned store and the frontier checkpoints ride on."""

from __future__ import annotations

import json
import os

import pytest

from news_please_spark.state import CommitConflict, SnapshotCatalog


def test_commit_listing_and_meta(tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "t"))
    assert cat.latest() is None and cat.snapshots() == []
    tx = cat.begin()
    with open(tx.path("data.txt"), "w") as f:
        f.write("a")
    assert tx.commit({"rows": 1}) == 0
    assert cat.latest() == 0
    assert cat.read_meta(0) == {"rows": 1}
    tx2 = cat.begin()
    with open(tx2.path("data.txt"), "w") as f:
        f.write("b")
    assert tx2.commit({"rows": 2}) == 1
    assert cat.snapshots() == [0, 1]
    with open(os.path.join(cat.snapshot_dir(1), "data.txt")) as f:
        assert f.read() == "b"


def test_two_writers_one_loser(tmp_path):
    """The CAS: two transactions based on the same snapshot — exactly
    one commits, the other gets CommitConflict and can retry on top."""
    cat = SnapshotCatalog(str(tmp_path / "t"))
    base = cat.begin()
    with open(base.path("d"), "w") as f:
        f.write("base")
    base.commit()

    a = cat.begin()  # both open at expected snapshot 0
    b = cat.begin()
    with open(a.path("d"), "w") as f:
        f.write("writer-a")
    with open(b.path("d"), "w") as f:
        f.write("writer-b")
    assert a.commit({"writer": "a"}) == 1
    with pytest.raises(CommitConflict):
        b.commit({"writer": "b"})
    # the loser's staging is cleaned up; the winner's data is intact
    assert not any(".tmp" in n for n in os.listdir(cat.path))
    with open(os.path.join(cat.snapshot_dir(1), "d")) as f:
        assert f.read() == "writer-a"
    assert cat.read_meta(1) == {"writer": "a"}
    # retry path: re-begin on the new latest succeeds
    retry = cat.begin()
    with open(retry.path("d"), "w") as f:
        f.write("writer-b-retry")
    assert retry.commit() == 2
    assert cat.latest() == 2


def test_crash_staging_is_invisible_and_swept(tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "t"))
    tx = cat.begin()
    with open(tx.path("partial"), "w") as f:
        f.write("half-written")
    # "crash": transaction never commits. Listing must not see it.
    assert cat.latest() is None
    assert cat.sweep_staging() == 1
    assert os.listdir(cat.path) == []


def test_many_racers_exactly_one_winner_per_round(tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "t"))
    for rnd in range(3):
        txs = [cat.begin() for _ in range(5)]
        results = []
        for i, tx in enumerate(txs):
            with open(tx.path("d"), "w") as f:
                f.write(f"r{rnd}w{i}")
            try:
                results.append(tx.commit({"w": i}))
            except CommitConflict:
                results.append(None)
        assert len([r for r in results if r is not None]) == 1
        assert cat.latest() == rnd


def test_wave_prefix_matches_frontier_layout(tmp_path):
    """The frontier uses prefix='wave=' width=5 — the catalog must list
    and name dirs exactly as the resume format expects."""
    cat = SnapshotCatalog(str(tmp_path / "t"), prefix="wave=", width=5)
    tx = cat.begin()
    with open(tx.path("meta-extra"), "w") as f:
        f.write("x")
    tx.commit({"wave": 0})
    assert os.path.basename(cat.snapshot_dir(0)) == "wave=00000"
    assert cat.latest() == 0
    meta = json.load(open(os.path.join(cat.snapshot_dir(0), "meta.json")))
    assert meta == {"wave": 0}


def test_versioned_store_two_writers_one_loser(spark, tmp_path):
    """Store-level CAS: two writers staging snapshot 1 from the same
    base — exactly one commit lands, the loser raises CommitConflict."""
    from news_please_spark.sinks.versioned import VersionedArticleStore

    path = str(tmp_path / "store")
    st = VersionedArticleStore(spark, path, buckets=2)
    batch = spark.createDataFrame(
        [("u1", "2024-01-01", "t1")], "url string, date_download string, title string"
    )
    assert st.merge(batch) == 0

    cur, arc = st.current(), st.archive()
    st2 = VersionedArticleStore(spark, path, buckets=2)
    st._commit(cur, arc, snap=1)
    with pytest.raises(CommitConflict):
        st2._commit(cur, arc, snap=1)
    assert st.snapshot_id() == 1
    # loser can retry on the new base
    st2._commit(st2.current(), st2.archive(), snap=2)
    assert st2.snapshot_id() == 2


def test_frontier_save_wave_conflict(spark, tmp_path):
    """Two crawlers checkpointing the same wave id into one state dir:
    the second commit must fail, not silently clobber."""
    from news_please_spark.operators.frontier import FrontierConfig, FrontierEngine
    from news_please_spark.world import World

    world = World(n_pages=150, n_seeds=4)
    state = str(tmp_path / "state")
    eng = FrontierEngine(
        spark,
        world.webgraph_df(spark),
        robots=world.robots_df(spark),
        cfg=FrontierConfig(budget_per_host=4, max_depth=2, state_dir=state),
    )
    res = eng.run(world.seed_urls())
    assert res.waves >= 2
    df = spark.range(3).selectExpr(
        "cast(id as string) url", "'h' host", "0 depth", "0L disc_key"
    )
    with pytest.raises(CommitConflict):
        eng._save_wave(0, df, df.selectExpr("url", "1 seq"), {"wave": 0})
    res.release()
    eng.close()


def test_time_travel_read_table(spark, tmp_path):
    """read_table(name, snap) returns the table exactly as of that
    snapshot — snapshots are immutable versions (VERSION AS OF)."""
    cat = SnapshotCatalog(str(tmp_path / "t"))
    for v in (10, 20):
        tx = cat.begin()
        tx.write_table("rows", spark.range(v))
        tx.commit({"n": v})
    assert cat.read_table(spark, "rows", snap=0).count() == 10
    assert cat.read_table(spark, "rows", snap=1).count() == 20
    assert cat.read_table(spark, "rows").count() == 20  # default: latest
    with pytest.raises(FileNotFoundError):
        cat.read_table(spark, "nope", snap=1)


def test_expire_snapshots_retention(tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "t"))
    for v in range(5):
        tx = cat.begin()
        with open(tx.path("d"), "w") as f:
            f.write(str(v))
        tx.commit({"v": v})
    assert cat.expire_snapshots(keep_last=2) == [0, 1, 2]
    assert cat.snapshots() == [3, 4]
    assert cat.read_meta(4) == {"v": 4}
    # idempotent; never deletes below keep_last; no staging residue
    assert cat.expire_snapshots(keep_last=2) == []
    assert not any(".tmp" in n for n in os.listdir(cat.path))
    before = sorted(os.listdir(cat.path))
    for keep_last in (0, -1):
        with pytest.raises(ValueError, match="keep_last"):
            cat.expire_snapshots(keep_last=keep_last)
        assert sorted(os.listdir(cat.path)) == before


# ---------------------------------------------------------------------------
# merge_into (Iceberg MERGE at copy-on-write granularity)


def _t(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def _read(spark, cat, snap=None):
    return sorted(
        (r.k, r.v) for r in cat.read_table(spark, "t", snap=snap).collect()
    )


def test_merge_into_insert_update_delete_ignore(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "m"))
    # empty target: insert
    assert cat.merge_into(spark, "t", _t(spark, [(1, "a"), (2, "b")]), ["k"]) == 0
    assert _read(spark, cat) == [(1, "a"), (2, "b")]
    # upsert: update 2, insert 3
    cat.merge_into(spark, "t", _t(spark, [(2, "B"), (3, "c")]), ["k"])
    assert _read(spark, cat) == [(1, "a"), (2, "B"), (3, "c")]
    # matched delete + not-matched ignore: remove 1, don't add 9
    cat.merge_into(
        spark, "t", _t(spark, [(1, "x"), (9, "x")]), ["k"],
        when_matched="delete", when_not_matched="ignore",
    )
    assert _read(spark, cat) == [(2, "B"), (3, "c")]
    # update + ignore: touch only existing keys
    cat.merge_into(
        spark, "t", _t(spark, [(3, "C"), (9, "x")]), ["k"],
        when_not_matched="ignore",
    )
    assert _read(spark, cat) == [(2, "B"), (3, "C")]
    # every merge is a time-travel-readable snapshot
    assert cat.snapshots() == [0, 1, 2, 3]
    assert _read(spark, cat, snap=0) == [(1, "a"), (2, "b")]
    with pytest.raises(ValueError):
        cat.merge_into(spark, "t", _t(spark, []), ["k"], when_matched="upsert")


def test_merge_into_conflict_rereads_winner_base(spark, tmp_path):
    """A racing writer lands first; the merge must retry ON TOP of the
    winner's rows, not its own stale base."""
    cat = SnapshotCatalog(str(tmp_path / "m"))
    cat.merge_into(spark, "t", _t(spark, [(1, "a")]), ["k"])

    real_begin = cat.begin
    fired = {"n": 0}

    def racing_begin(expected=None):
        tx = real_begin(expected)
        if fired["n"] == 0:
            fired["n"] += 1
            # competing writer commits (1, "WINNER") + (5, "w") first
            rival = SnapshotCatalog(cat.path)
            rival.merge_into(spark, "t", _t(spark, [(1, "WINNER"), (5, "w")]), ["k"])
        return tx

    cat.begin = racing_begin  # type: ignore[method-assign]
    cat.merge_into(spark, "t", _t(spark, [(2, "mine")]), ["k"])
    # the retried merge saw the rival's rows
    assert _read(spark, cat) == [(1, "WINNER"), (2, "mine"), (5, "w")]
    assert fired["n"] == 1  # exactly one conflict round


def test_merge_into_gives_up_after_max_retries(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "m"))
    cat.merge_into(spark, "t", _t(spark, [(1, "a")]), ["k"])

    real_begin = cat.begin

    def always_racing_begin(expected=None):
        tx = real_begin(expected)
        SnapshotCatalog(cat.path).merge_into(
            spark, "t", _t(spark, [(1, "rival")]), ["k"]
        )
        return tx

    cat.begin = always_racing_begin  # type: ignore[method-assign]
    with pytest.raises(CommitConflict):
        cat.merge_into(spark, "t", _t(spark, [(2, "mine")]), ["k"], max_retries=2)


def test_compact_table_row_identical_fewer_files(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "c"))
    df = spark.range(0, 5000).selectExpr("id AS k", "CAST(id * 2 AS STRING) AS v")
    tx = cat.begin()
    tx.write_table("t", df, repartition=(24,))  # 24 small files
    tx.commit()

    def files_of(snap):
        d = os.path.join(cat.snapshot_dir(snap), "t")
        return [f for f in os.listdir(d) if f.endswith(".parquet")]

    assert len(files_of(0)) == 24
    snap = cat.compact_table(spark, "t", target_bytes=10**12)  # everything -> 1 file
    assert snap == 1 and len(files_of(1)) == 1
    before = sorted(map(tuple, cat.read_table(spark, "t", snap=0).collect()))
    after = sorted(map(tuple, cat.read_table(spark, "t", snap=1).collect()))
    assert before == after and len(after) == 5000
    assert cat.read_meta(1)["op"] == "compact"
    # errors: unknown table / bad target
    with pytest.raises(FileNotFoundError):
        cat.compact_table(spark, "nope")
    with pytest.raises(ValueError):
        cat.compact_table(spark, "t", target_bytes=0)


def test_partitioned_write_prunes_on_read(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "p"))
    df = spark.range(0, 1000).selectExpr(
        "id AS k", "CAST(id % 10 AS STRING) AS day", "id * 2 AS v"
    )
    tx = cat.begin()
    tx.write_table("t", df, partition_by=["day"])
    tx.commit()
    t = cat.read_table(spark, "t")
    assert t.count() == 1000
    q = t.filter(t["day"] == "3")
    assert q.count() == 100
    plan = q._jdf.queryExecution().executedPlan().toString()
    # the day filter must reach the scan as a PARTITION filter
    assert "PartitionFilters" in plan and "day" in plan.split("PartitionFilters")[1][:120]


def test_diff_table_cdc_between_snapshots(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "t"))
    tx = cat.begin()
    df0 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, None, 40)],
        "id long, name string, score long",
    )
    tx.write_table("docs", df0)
    tx.commit()
    tx2 = cat.begin()
    df1 = spark.createDataFrame(
        [
            (1, "a", 10),      # unchanged
            (2, "b", 99),      # update (value)
            (4, "d", 40),      # update (null -> value)
            (5, "e", 50),      # insert
        ],                      # 3 deleted
        "id long, name string, score long",
    )
    tx2.write_table("docs", df1)
    tx2.commit()

    diff = cat.diff_table(spark, "docs", 0, 1, key_cols=["id"])
    got = sorted(
        (r._change, r.id, r.name, r.score) for r in diff.collect()
    )
    assert got == [
        ("delete", 3, "c", 30),
        ("insert", 5, "e", 50),
        ("update", 2, "b", 99),
        ("update", 4, "d", 40),
    ]
    # self-diff is empty; schema drift raises
    assert cat.diff_table(spark, "docs", 1, 1, key_cols=["id"]).count() == 0
    tx3 = cat.begin()
    tx3.write_table("docs", df1.withColumnRenamed("score", "points"))
    tx3.commit()
    with pytest.raises(ValueError):
        cat.diff_table(spark, "docs", 1, 2, key_cols=["id"])


# ---------------------------------------------------------------------------
# write-audit-publish


def test_wap_publishes_only_after_audits_pass(spark, tmp_path):
    from news_please_spark.state import (
        audit_min_rows,
        audit_row_delta,
    )

    cat = SnapshotCatalog(str(tmp_path / "t"))
    df = spark.range(100).withColumnRenamed("id", "doc_id")
    snap = cat.write_audit_publish(
        spark,
        {"docs": df},
        [audit_min_rows("docs", 50), audit_row_delta("docs", max_drop_pct=50)],
        meta={"run": "initial"},
    )
    assert snap == 0 and cat.latest() == 0
    assert cat.read_table(spark, "docs").count() == 100
    meta = cat.read_meta(0)
    assert meta["op"] == "wap" and meta["audits_passed"] == 2


def test_wap_failed_audit_leaves_table_unchanged(spark, tmp_path):
    from news_please_spark.state import AuditFailed, audit_min_rows

    cat = SnapshotCatalog(str(tmp_path / "t"))
    cat.write_audit_publish(
        spark, {"docs": spark.range(100)}, [audit_min_rows("docs", 1)]
    )
    with pytest.raises(AuditFailed) as ei:
        cat.write_audit_publish(
            spark, {"docs": spark.range(3)}, [audit_min_rows("docs", 50)]
        )
    assert "3 rows < required minimum 50" in str(ei.value)
    # latest() still the good snapshot; the staging dir was discarded
    assert cat.latest() == 0
    assert cat.read_table(spark, "docs").count() == 100
    assert cat.sweep_staging() == 0


def test_wap_row_delta_gate_catches_gutted_table(spark, tmp_path):
    from news_please_spark.state import AuditFailed, audit_row_delta

    cat = SnapshotCatalog(str(tmp_path / "t"))
    gates = [audit_row_delta("docs", max_drop_pct=50, max_grow_pct=100)]
    cat.write_audit_publish(spark, {"docs": spark.range(1000)}, gates)
    # a 95% drop: the classic filter-bug publish, blocked
    with pytest.raises(AuditFailed):
        cat.write_audit_publish(spark, {"docs": spark.range(50)}, gates)
    # a 3x growth: the classic join-fanout publish, blocked
    with pytest.raises(AuditFailed):
        cat.write_audit_publish(spark, {"docs": spark.range(3000)}, gates)
    # a 30% drop passes and becomes the new baseline
    assert cat.write_audit_publish(spark, {"docs": spark.range(700)}, gates) == 1
    assert cat.read_table(spark, "docs").count() == 700


def test_wap_null_pct_gate(spark, tmp_path):
    from pyspark.sql import functions as F

    from news_please_spark.state import AuditFailed, audit_max_null_pct

    cat = SnapshotCatalog(str(tmp_path / "t"))
    df = spark.range(100).select(
        "id",
        F.when(F.col("id") % 4 != 0, F.col("id").cast("string")).alias("title"),
    )
    # 25% NULL: passes a 30% gate, fails a 20% gate
    cat.write_audit_publish(
        spark, {"docs": df}, [audit_max_null_pct("docs", "title", 30)]
    )
    with pytest.raises(AuditFailed) as ei:
        cat.write_audit_publish(
            spark, {"docs": df}, [audit_max_null_pct("docs", "title", 20)]
        )
    assert "25/100 NULL exceeds 20%" in str(ei.value)


def test_wap_cas_conflict_after_audits(spark, tmp_path):
    """A racer that lands between stage and publish costs a
    CommitConflict (retryable), never a silent overwrite."""
    cat = SnapshotCatalog(str(tmp_path / "t"))
    cat.write_audit_publish(spark, {"docs": spark.range(10)}, [])

    stolen = {"done": False}

    def stealing_audit(spark_, tx):
        # simulate a concurrent writer winning while audits run
        if not stolen["done"]:
            other = cat.begin()
            with open(other.path("d"), "w") as f:
                f.write("racer")
            other.commit()
            stolen["done"] = True
        return None

    with pytest.raises(CommitConflict):
        cat.write_audit_publish(spark, {"docs": spark.range(20)}, [stealing_audit])
    assert cat.latest() == 1  # the racer's snapshot
    assert cat.sweep_staging() == 0  # loser's staging removed


# ---------------------------------------------------------------------------
# named refs (tags) + retention interplay


def test_refs_point_pin_and_move(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "t"))
    for v in range(4):
        tx = cat.begin()
        spark.range(10 * (v + 1)).write.parquet(tx.path("t"))
        tx.commit({"v": v})
    cat.set_ref("prod", 1)
    assert cat.get_ref("prod") == 1 and cat.refs() == {"prod": 1}
    # ref-resolved read returns the tagged version, not latest
    assert cat.read_table(spark, "t", ref="prod").count() == 20
    assert cat.read_table(spark, "t").count() == 40
    # a tag pins its snapshot against retention
    assert cat.expire_snapshots(keep_last=1) == [0, 2]
    assert cat.snapshots() == [1, 3]
    # moving the tag is atomic and frees the old target
    cat.set_ref("prod", 3)
    assert cat.expire_snapshots(keep_last=1) == [1]
    assert cat.snapshots() == [3]
    # invalid targets and names are rejected; delete is idempotent
    with pytest.raises(ValueError):
        cat.set_ref("prod", 99)
    with pytest.raises(ValueError):
        cat.set_ref("a/b", 3)
    assert cat.delete_ref("prod") is True
    assert cat.delete_ref("prod") is False
    assert cat.get_ref("prod") is None
    with pytest.raises(FileNotFoundError):
        cat.read_table(spark, "t", ref="prod")


# ---------------------------------------------------------------------------
# append-only delta tables


def test_delta_table_folds_on_expiry_and_compacts_exactly(spark, tmp_path, monkeypatch):
    """A delta table keeps every row through expiry (deltas fold into
    base/), through a compaction whose expiry crashed, and through a
    later expiry that folds the compaction itself."""
    cat = SnapshotCatalog(str(tmp_path / "d"))

    def append(*ks):
        return cat.append_delta("t", spark.createDataFrame([(k,) for k in ks], "k long"))

    def keys():
        return sorted(r.k for r in cat.read_deltas(spark, "t").collect())

    assert cat.read_deltas(spark, "t") is None
    assert append(1, 2) == 0 and append(2) == 1 and append(3) == 2
    assert cat.read_meta(1) == {"n_delta": 1}
    assert cat.delta_tables() == ["t"]
    # a fresh open of the catalog knows "t" is a delta table
    assert SnapshotCatalog(cat.path).expire_snapshots(keep_last=1) == [0, 1]
    assert sorted(os.listdir(os.path.join(cat.path, "base"))) == ["t-w000000", "t-w000001"]
    assert keys() == [1, 2, 2, 3]  # a bag: the duplicate 2 is kept

    real_expire = SnapshotCatalog.expire_snapshots
    monkeypatch.setattr(SnapshotCatalog, "expire_snapshots", lambda self, **kw: [])
    snap = cat.compact_deltas(spark, "t")  # "crash" before the expiry
    assert snap == 3 and cat.read_meta(3) == {"n": 4, "compacted": True}
    assert keys() == [1, 2, 2, 3]
    monkeypatch.setattr(SnapshotCatalog, "expire_snapshots", real_expire)

    append(4)
    # folds the compaction into base/ and drops the deltas it superseded
    assert cat.expire_snapshots(keep_last=1) == [2, 3]
    assert sorted(os.listdir(os.path.join(cat.path, "base"))) == ["t-w000003"]
    assert keys() == [1, 2, 2, 3, 4]
    with pytest.raises(ValueError, match="compact_deltas"):
        cat.compact_table(spark, "t")


def test_pinned_delta_survives_a_compaction(spark, tmp_path):
    """A ref pins a snapshot's delta through a compaction that
    supersedes it: read_table(ref=...) still reads it, the delta read
    counts it once, and the compaction's snapshot stays until the ref
    goes."""
    cat = SnapshotCatalog(str(tmp_path / "d"))

    def append(*ks):
        return cat.append_delta("t", spark.createDataFrame([(k,) for k in ks], "k long"))

    def keys():
        return sorted(r.k for r in cat.read_deltas(spark, "t").collect())

    append(1), append(2), append(3)
    cat.set_ref("p", 0)
    assert cat.compact_deltas(spark, "t") == 3
    assert cat.snapshots() == [0, 3]
    assert [r.k for r in cat.read_table(spark, "t", ref="p").collect()] == [1]
    assert keys() == [1, 2, 3]

    append(4)
    # the compaction's snapshot is the floor that hides the pinned delta
    assert cat.expire_snapshots(keep_last=1) == []
    assert cat.snapshots() == [0, 3, 4]
    assert keys() == [1, 2, 3, 4]

    cat.delete_ref("p")
    assert cat.expire_snapshots(keep_last=1) == [0, 3]
    assert sorted(os.listdir(os.path.join(cat.path, "base"))) == ["t-w000003"]
    assert keys() == [1, 2, 3, 4]


def test_failed_delta_drop_keeps_the_compaction_in_place(spark, tmp_path, monkeypatch):
    """If a superseded delta cannot be dropped, the expiry raises before
    it moves the compaction into base/, so no read counts a row twice."""
    cat = SnapshotCatalog(str(tmp_path / "d"))
    for k in (1, 2):
        cat.append_delta("t", spark.createDataFrame([(k,)], "k long"))
    cat.expire_snapshots(keep_last=1)  # delta 0 now lives in base/
    monkeypatch.setattr(SnapshotCatalog, "expire_snapshots", lambda self, **kw: [])
    cat.compact_deltas(spark, "t")
    monkeypatch.undo()
    cat.append_delta("t", spark.createDataFrame([(3,)], "k long"))

    real_rename = os.rename

    def rename(src, dst):
        if src.endswith("t-w000000"):
            raise PermissionError(src)
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", rename)
    with pytest.raises(PermissionError):
        cat.expire_snapshots(keep_last=1)
    monkeypatch.undo()
    assert not os.path.exists(os.path.join(cat.path, "base", "t-w000002"))
    assert sorted(r.k for r in cat.read_deltas(spark, "t").collect()) == [1, 2, 3]
