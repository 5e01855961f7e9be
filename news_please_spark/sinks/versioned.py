"""Versioned article store — the set-oriented MERGE that replaces the
reference's per-row SQL dance (SELECT current → INSERT new → move old to
archive; MySQL/Postgres/ES/Redis all repeat it: reference
pipeline/pipelines.py:138-277, 359-506, 575-665, 829-1100).

Semantics per incoming batch, keyed on canonical url:
  * url unseen            → current row, version 1, ancestor NULL
  * url in current        → new row version = old.version+1,
                            ancestor = old.version; the old row moves to
                            the archive with descendant = new version
  * several rows for one url in one batch → latest (by date_download,
    tie-break deterministic) wins; earlier ones are archived immediately
    with the right version chain.

Storage: snapshots in a SnapshotCatalog (state.py) — each committed
snapshot dir holds BOTH tables (current/ + archive/), published by one
atomic rename with compare-and-swap on the snapshot id, so two writers
merging concurrently cannot both win: the loser's merge() raises
state.CommitConflict and retries on top of the winner's snapshot. This
is the same current/archive two-table layout an Iceberg catalog would
hold (then `merge()` becomes a single MERGE INTO + INSERT). Partition
layout: hash-bucketed by url so the merge join co-partitions at scale.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from news_please_spark.functions.urls import url_bucket
from news_please_spark.state import SnapshotCatalog


class VersionedArticleStore:
    def __init__(self, spark: SparkSession, path: str, buckets: int = 16):
        self.spark = spark
        self.path = path
        self.buckets = buckets
        self.catalog = SnapshotCatalog(path)

    # -- snapshot plumbing -------------------------------------------------
    def snapshot_id(self) -> int:
        latest = self.catalog.latest()
        return -1 if latest is None else latest

    def _table(self, name: str, snap: int) -> str:
        return os.path.join(self.catalog.snapshot_dir(snap), name)

    def current(self, snap: int | None = None) -> DataFrame | None:
        snap = self.snapshot_id() if snap is None else snap
        if snap < 0:
            return None
        return self.spark.read.parquet(self._table("current", snap))

    def archive(self, snap: int | None = None) -> DataFrame | None:
        snap = self.snapshot_id() if snap is None else snap
        if snap < 0:
            return None
        return self.spark.read.parquet(self._table("archive", snap))

    def _commit(self, current: DataFrame, archive: DataFrame, snap: int) -> None:
        """Stage both tables, then CAS-commit snapshot `snap` (raises
        state.CommitConflict if another writer committed it first).
        meta.json records `current_rows`, the row count of `current`
        observed on its write."""
        tx = self.catalog.begin(expected=snap - 1)
        by_bucket = (self.buckets, url_bucket("url", self.buckets))
        n_current = tx.write_table("current", current, repartition=by_bucket)
        tx.write_table("archive", archive, repartition=by_bucket)
        tx.commit({"snapshot": snap, "current_rows": n_current})

    # -- the merge -----------------------------------------------------------
    def merge(self, batch: DataFrame, order_col: str = "date_download") -> int:
        """Apply one batch of extracted articles; returns new snapshot id.

        `batch` must contain a `url` column; `order_col` breaks ties for
        several versions of one url arriving together.
        """
        snap = self.snapshot_id()
        cur = self.current()

        # in-batch version ordering — the tie-break must be a STABLE
        # content hash, never monotonically_increasing_id(): mono-id
        # depends on partition layout, so two runs of the same tied batch
        # could assign versions differently (repartition-invariance is
        # asserted in tests/test_versioned_store.py)
        content_key = F.xxhash64(
            F.to_json(F.struct(*[F.col(c) for c in batch.columns]))
        )
        w = Window.partitionBy("url").orderBy(
            F.col(order_col).asc_nulls_first(), content_key
        )
        # _rk ranks a url's rows in the batch and _n counts them; both
        # windows share the url partitioning, so one exchange serves
        # them. The batch's lineage can be arbitrarily expensive (the CC
        # pipeline feeds WARC-parse + full extraction straight in), and
        # this plan consumes it from two branches (the current write,
        # the archive write) — without a cut each branch re-executes
        # the whole extraction. One persist, released deterministically
        # after the commit. `url` stays the tables' first column.
        b = (
            batch.select("url", *[c for c in batch.columns if c != "url"])
            .withColumn("_rk", F.row_number().over(w))
            .withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy("url")))
            .persist()
        )

        if cur is None:
            base = b.withColumn("_base_version", F.lit(0))
        else:
            old_ver = cur.select(
                "url", F.col("version").alias("_base_version")
            )
            base = b.join(old_ver, "url", "left").fillna(
                {"_base_version": 0}
            )

        versioned = base.withColumn(
            "version", (F.col("_base_version") + F.col("_rk")).cast("int")
        ).withColumn(
            "ancestor",
            F.when(F.col("_base_version") + F.col("_rk") > 1,
                   (F.col("_base_version") + F.col("_rk") - 1).cast("int")),
        ).withColumn(
            "descendant",
            F.when(
                F.col("_rk") < F.col("_n"),
                (F.col("_base_version") + F.col("_rk") + 1).cast("int"),
            ),
        )
        new_current = versioned.filter(F.col("_rk") == F.col("_n")).drop(
            "_rk", "_n", "_base_version"
        )
        to_archive_from_batch = versioned.filter(
            F.col("_rk") < F.col("_n")
        ).drop("_rk", "_n", "_base_version")

        if cur is None:
            current_out = new_current
            archive_add = to_archive_from_batch
        else:
            updated_urls = new_current.select("url", F.col("version").alias("_nv"))
            # rows of current whose url got a new version → archive with
            # descendant link filled in
            displaced = (
                cur.join(F.broadcast(updated_urls.select("url", "_nv")), "url")
                .withColumn("descendant", F.col("version") + 1)
                .withColumn("descendant", F.col("descendant").cast("int"))
                .drop("_nv")
            )
            untouched = cur.join(updated_urls, "url", "left_anti")
            current_out = untouched.unionByName(new_current)
            archive_add = displaced.unionByName(to_archive_from_batch)

        old_archive = self.archive()
        archive_out = (
            archive_add
            if old_archive is None
            else old_archive.unionByName(archive_add)
        )
        new_snap = snap + 1
        try:
            self._commit(current_out, archive_out, new_snap)
        finally:
            b.unpersist()
        return new_snap


# ---------------------------------------------------------------------------
# K9 savepath templating — the full reference token catalog lives in
# sinks/savepath.py; re-exported here for back-compat.

from news_please_spark.sinks.savepath import savepath  # noqa: E402,F401
