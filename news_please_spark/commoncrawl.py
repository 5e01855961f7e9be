"""End-to-end CommonCrawl-style batch job: WARC inventory → record
scan → extraction chain → versioned MERGE, with the fully-extracted
log (D3) closing the loop so re-runs are incremental.

This is the reference's `commoncrawl.py` / `commoncrawl_crawler.py`
entry point (download .warc list → filter by date → skip
fully-extracted → extract → store → append to the log) re-expressed as
ONE declarative pipeline over the engine's existing tiers:

  warc_index (sources/flat.py)  — path→date filter + completed anti-join
  from_warc  (package facade)   — WARC framing, status/content gates,
                                  charset decode, E1-E5+V1-V7 extraction
  VersionedArticleStore.merge   — set-oriented MERGE with CAS commit:
                                  a snapshot of `current` plus the
                                  archive's append-only delta
  completed log                 — a delta table of done paths in the
                                  state.py delta layer, committed AFTER
                                  the merge as its own snapshot (two
                                  commits, not one transaction: see the
                                  crash-idempotence item in ROADMAP.md)

Scale notes (the real CC-NEWS firehose):
  * the inventory is O(10^5) paths — a driver-side list is the correct
    grain (the reference iterates it serially; here it only selects
    which files the cluster reads, and each WARC becomes one input
    split via binaryFile);
  * extraction runs in the file-scan stage, one task per WARC: the
    records a file explodes into are extracted by the task that read
    it, so one fat file is one long task;
  * completed paths anti-join away BEFORE any byte of WARC is read, so
    a re-run after a finished pass re-reads nothing;
  * the pass counts nothing twice: row counts ride the write jobs as
    Observations (SnapshotCatalog's Transaction.write_table), and the
    article count is the store snapshot's observed `current_rows`.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from news_please_spark.state import SnapshotCatalog


class CompletedWarcLog:
    """The fully-extracted WARC log (D3) as an append-only delta table
    of the state.py delta layer: each run commits only its DELTA of
    newly-done paths, and paths() reads every live delta in one scan.
    Reference commoncrawl_crawler.py keeps this as a flat file appended
    under a lock; snapshot commits give the same append semantics plus
    concurrent-writer safety — and O(delta) per commit instead of
    rewriting the whole history every run (at a full CC-NEWS inventory
    the history is O(10^5) paths and growing). Expiring the catalog's
    snapshots folds their deltas, so no logged path is lost."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.catalog = SnapshotCatalog(path, prefix="log=")

    def paths(self) -> DataFrame | None:
        df = self.catalog.read_deltas(self.spark, "paths")
        # distinct: racing writers may both have logged a path; the
        # consumer semantics are set-membership
        return None if df is None else df.distinct()

    def append(self, new_paths: DataFrame) -> int:
        """Commit `new_paths` as one delta; a path logged twice is one
        member, because paths() deduplicates on read."""
        return self.catalog.append_delta("paths", new_paths.coalesce(1))

    def compact(self) -> int:
        """Fold every delta into one deduplicated snapshot and expire
        the rest — run occasionally so a years-long log doesn't accrete
        thousands of tiny delta files."""
        return self.catalog.compact_deltas(self.spark, "paths", distinct=True)


class CdxLog:
    """The archive's CDX index as an append-only delta table, like
    CompletedWarcLog: each pass commits only its batch's index rows;
    rows() reads every live delta. cdx_index_incremental consults
    rows() so a payload that appeared in ANY earlier pass is marked
    revisit in later deltas."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.catalog = SnapshotCatalog(path, prefix="cdx=")

    def rows(self) -> DataFrame | None:
        return self.catalog.read_deltas(self.spark, "cdx")

    def append(self, delta: DataFrame) -> int:
        return self.catalog.append_delta("cdx", delta)


def extract_commoncrawl(
    spark: SparkSession,
    warc_glob: str,
    store,
    log: CompletedWarcLog,
    start_date: str | None = None,
    end_date: str | None = None,
    cdx: "CdxLog | None" = None,
) -> dict:
    """One incremental pass: extract every not-yet-done WARC matching
    the glob (and date window) into `store`, then mark them done.

    With `cdx` given, the pass also commits a CDX index delta for the
    batch's response records (operators/cdx.py): revisit marking
    consults every previously committed delta, so recrawled payloads
    are flagged across passes — the write-side payload-dedup record
    the reference's CommonCrawl reader consumes.

    Returns {"files": n_processed, "articles": rows of the store's
    `current` table after the merge (the snapshot's `current_rows`,
    observed on its write), "snapshot": store snapshot id or None when
    nothing was new}.
    """
    from news_please_spark import from_warc
    from news_please_spark.sources.flat import warc_index

    inventory = (
        spark.read.format("binaryFile").load(warc_glob).select("path")
    )
    todo = warc_index(
        inventory, start_date=start_date, end_date=end_date,
        completed=log.paths(),
    ).select("path")
    # the inventory is metadata (10^5 rows at full CC-NEWS) — collecting
    # the work list is the intended driver-side grain, the cluster then
    # reads only the selected files
    paths = [r.path for r in todo.collect()]
    if not paths:
        return {"files": 0, "articles": 0, "snapshot": None}
    articles = from_warc(spark, paths).withColumn(
        "date_download", F.current_timestamp()
    )
    snap = store.merge(articles)
    if cdx is not None:
        from news_please_spark.operators.cdx import (
            cdx_from_warc_records,
            cdx_index_incremental,
        )
        from news_please_spark.sources.warc import split_warc_records

        recs = split_warc_records(
            spark.read.format("binaryFile").load(paths)
        )
        delta = cdx_index_incremental(
            cdx_from_warc_records(recs), cdx.rows(), tiebreak_col="record_index"
        )
        cdx.append(delta)
    # log exactly what was processed: the collected `paths` list, NOT a
    # re-execution of the lazy `todo` plan — a refreshed file listing on
    # the mutable WARC directory (or a racing writer) could otherwise
    # mark files complete that this run never extracted, and the
    # anti-join would skip them forever. Built from pandas through
    # Arrow, the list is a local relation in the JVM: no job over it
    # needs a Python worker.
    log.append(spark.createDataFrame(pd.DataFrame({"path": paths}), "path string"))
    n_articles = store.catalog.read_meta(snap)["current_rows"]
    return {"files": len(paths), "articles": n_articles, "snapshot": snap}
