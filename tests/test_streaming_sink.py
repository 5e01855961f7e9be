"""Exactly-once streaming sink into SnapshotCatalog: one snapshot per
micro-batch, replay-idempotent across restarts, incremental restart
commits only the new data."""

from __future__ import annotations

import pyspark.sql.functions as F

from news_please_spark.state import SnapshotCatalog
from news_please_spark.streaming.sink import (
    commit_batch,
    max_committed_batch,
    read_appended,
    write_stream_to_catalog,
)


def _src_stream(spark, src):
    return (
        spark.readStream.schema("k long, v string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )


def test_stream_commits_once_per_batch_and_survives_restart(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    cat_path = str(tmp_path / "cat")
    for i in range(3):
        spark.createDataFrame(
            [(i * 10 + j, f"r{i}-{j}") for j in range(5)], "k long, v string"
        ).coalesce(1).write.mode("append").parquet(src)

    write_stream_to_catalog(_src_stream(spark, src), cat_path, "rows", ckpt)
    cat = SnapshotCatalog(cat_path)
    assert len(cat.snapshots()) == 3  # one snapshot per micro-batch
    assert max_committed_batch(cat) == 2
    got = sorted((r.k, r.v) for r in read_appended(spark, cat_path, "rows").collect())
    assert len(got) == 15 and got[0] == (0, "r0-0") and got[-1] == (24, "r2-4")

    # restart with nothing new: no snapshots added
    write_stream_to_catalog(_src_stream(spark, src), cat_path, "rows", ckpt)
    assert len(cat.snapshots()) == 3

    # restart after one new file: exactly one more snapshot, union exact
    spark.createDataFrame([(100, "new")], "k long, v string").coalesce(1) \
        .write.mode("append").parquet(src)
    write_stream_to_catalog(_src_stream(spark, src), cat_path, "rows", ckpt)
    assert len(cat.snapshots()) == 4
    assert read_appended(spark, cat_path, "rows").count() == 16


def test_commit_batch_replay_is_idempotent(spark, tmp_path):
    cat_path = str(tmp_path / "cat")
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    assert commit_batch(cat_path, "rows", df, 0) is True
    # crash-between-commit-and-checkpoint replay: same batch id again
    assert commit_batch(cat_path, "rows", df, 0) is False
    assert len(SnapshotCatalog(cat_path).snapshots()) == 1
    assert commit_batch(cat_path, "rows", df, 1) is True
    assert read_appended(spark, cat_path, "rows").count() == 2


def test_read_appended_schema_evolution(spark, tmp_path):
    """Add-column drift across delta snapshots: evolved reads backfill
    NULL for columns that predate the delta; strict reads refuse."""
    import pytest as _pytest
    from pyspark.sql.utils import AnalysisException

    from news_please_spark.streaming.sink import read_appended

    cat_path = str(tmp_path / "cat")
    v1 = spark.createDataFrame([(1, "a")], "id long, name string")
    v2 = spark.createDataFrame(
        [(2, "b", 7)], "id long, name string, score long"
    )
    assert commit_batch(cat_path, "rows", v1, 0) is True
    assert commit_batch(cat_path, "rows", v2, 1) is True

    evolved = read_appended(spark, cat_path, "rows", allow_schema_evolution=True)
    got = {r.id: (r.name, r.score) for r in evolved.collect()}
    assert got == {1: ("a", None), 2: ("b", 7)}
    assert set(evolved.columns) == {"id", "name", "score"}

    with _pytest.raises(AnalysisException):
        read_appended(spark, cat_path, "rows").collect()


def _three_batches(spark, cat_path):
    for b in range(3):
        df = spark.createDataFrame([(b, f"r{b}")], "k long, v string")
        assert commit_batch(cat_path, "rows", df, b) is True


def _keys(spark, cat_path):
    return sorted(r.k for r in read_appended(spark, cat_path, "rows").collect())


def test_compact_keeps_every_row_and_the_replay_guard(spark, tmp_path):
    """Compaction folds the batches into one snapshot without counting
    any twice, and max_committed_batch still sees the last batch_id."""
    cat_path = str(tmp_path / "cat")
    _three_batches(spark, cat_path)
    snap = SnapshotCatalog(cat_path).compact_deltas(spark, "rows")
    assert SnapshotCatalog(cat_path).snapshots() == [snap]
    assert _keys(spark, cat_path) == [0, 1, 2]
    assert max_committed_batch(SnapshotCatalog(cat_path)) == 2
    df = spark.createDataFrame([(2, "again")], "k long, v string")
    assert commit_batch(cat_path, "rows", df, 2) is False
    df = spark.createDataFrame([(3, "r3")], "k long, v string")
    assert commit_batch(cat_path, "rows", df, 3) is True
    assert _keys(spark, cat_path) == [0, 1, 2, 3]


def test_compact_crash_before_expiry_counts_no_row_twice(spark, tmp_path, monkeypatch):
    """A crash between the compaction's commit and its expiry leaves the
    folded deltas on disk; readers skip them."""
    cat_path = str(tmp_path / "cat")
    _three_batches(spark, cat_path)
    monkeypatch.setattr(SnapshotCatalog, "expire_snapshots", lambda self, **kw: [])
    SnapshotCatalog(cat_path).compact_deltas(spark, "rows")
    assert SnapshotCatalog(cat_path).snapshots() == [0, 1, 2, 3]
    assert _keys(spark, cat_path) == [0, 1, 2]
    df = spark.createDataFrame([(3, "r3")], "k long, v string")
    assert commit_batch(cat_path, "rows", df, 3) is True
    assert _keys(spark, cat_path) == [0, 1, 2, 3]


def test_sink_expiry_keeps_every_batch(spark, tmp_path):
    """Expiring a sink catalog's snapshots, through a plain open of the
    catalog, folds their deltas; the replay guard still sees the newest
    batch_id."""
    cat_path = str(tmp_path / "cat")
    _three_batches(spark, cat_path)
    assert SnapshotCatalog(cat_path).expire_snapshots(keep_last=1) == [0, 1]
    assert _keys(spark, cat_path) == [0, 1, 2]
    df = spark.createDataFrame([(1, "again")], "k long, v string")
    assert commit_batch(cat_path, "rows", df, 1) is False
    assert _keys(spark, cat_path) == [0, 1, 2]


def test_read_appended_is_one_scan(spark, tmp_path):
    """Five committed batches read as one file-scan leaf, not a union
    of five scans."""
    cat_path = str(tmp_path / "cat")
    for b in range(5):
        df = spark.createDataFrame([(b, f"r{b}")], "k long, v string")
        assert commit_batch(cat_path, "rows", df, b) is True
    df = read_appended(spark, cat_path, "rows")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1, plan
    assert sorted(r.k for r in df.collect()) == [0, 1, 2, 3, 4]


def test_compact_table_refuses_a_sink_catalog(spark, tmp_path):
    """compact_table rewrites only the latest snapshot's delta into a new
    snapshot, which a delta read would count on top of the original
    batch; on a sink catalog it refuses and leaves the batches as they
    were."""
    import pytest as _pytest

    cat_path = str(tmp_path / "cat")
    _three_batches(spark, cat_path)
    with _pytest.raises(ValueError, match="compact_deltas"):
        SnapshotCatalog(cat_path).compact_table(spark, "rows")
    assert SnapshotCatalog(cat_path).snapshots() == [0, 1, 2]
    assert _keys(spark, cat_path) == [0, 1, 2]
