"""End-to-end CC-style pipeline: warc_index → from_warc → extraction →
versioned MERGE with the completed-WARC log (D3) closing the loop."""

from __future__ import annotations

from pyspark.sql import functions as F

from news_please_spark.commoncrawl import CdxLog, CompletedWarcLog, extract_commoncrawl
from news_please_spark.sinks.versioned import VersionedArticleStore
from news_please_spark.sources.warc import write_warc
from news_please_spark.synth import DocWorld

N = 12  # docs per warc file


def _write_warcs(tmp_path, world, n_files, t0=20230115120000):
    paths = []
    for i in range(n_files):
        p = tmp_path / f"CC-NEWS-{t0 + i:014d}-{i:05d}.warc.gz"
        write_warc(
            str(p),
            [
                (world.spec(d).url, 200, "text/html", world.html(d).encode("utf-8"))
                for d in range(i * N, (i + 1) * N)
            ],
        )
        paths.append(str(p))
    return paths


def test_incremental_extraction_with_completed_log(spark, tmp_path):
    world = DocWorld(4 * N)
    _write_warcs(tmp_path, world, 3)
    store = VersionedArticleStore(spark, str(tmp_path / "store"), buckets=4)
    log = CompletedWarcLog(spark, str(tmp_path / "done"))
    glob = str(tmp_path / "*.warc.gz")

    r1 = extract_commoncrawl(spark, glob, store, log)
    assert r1["files"] == 3 and r1["articles"] == 3 * N
    # titles come through the real extraction chain
    got = {r.url: r.title for r in store.current().collect()}
    for d in range(3 * N):
        exp = world.expected_article(d)
        assert got[exp["url"]] == exp["title"], d

    # re-run: the completed log anti-joins everything away
    r2 = extract_commoncrawl(spark, glob, store, log)
    assert r2 == {"files": 0, "articles": 0, "snapshot": None}

    # a new file arrives: only IT is processed, store versions advance
    _write_warcs(tmp_path, world, 4)  # writes files 0-3; 0-2 exist (same bytes)
    r3 = extract_commoncrawl(spark, glob, store, log)
    assert r3["files"] == 1
    assert store.current().count() == 4 * N
    assert log.paths().count() == 4


def test_date_window_filters_inventory(spark, tmp_path):
    world = DocWorld(3 * N)
    _write_warcs(tmp_path, world, 3)  # timestamps ...120000/120001/120002
    store = VersionedArticleStore(spark, str(tmp_path / "store"), buckets=4)
    log = CompletedWarcLog(spark, str(tmp_path / "done"))
    r = extract_commoncrawl(
        spark,
        str(tmp_path / "*.warc.gz"),
        store,
        log,
        start_date="2023-01-15 12:00:01",
    )
    assert r["files"] == 2
    assert store.current().count() == 2 * N


def test_completed_log_is_append_only_and_compactable(spark, tmp_path):
    """Each commit writes only its DELTA (O(delta), not O(history));
    compact() folds the deltas into one snapshot and expires the rest."""
    import os

    log = CompletedWarcLog(spark, str(tmp_path / "done"))
    log.append(spark.createDataFrame([("a",), ("b",)], "path string"))
    log.append(spark.createDataFrame([("c",)], "path string"))
    log.append(spark.createDataFrame([("b",), ("d",)], "path string"))  # dup b
    assert {r.path for r in log.paths().collect()} == {"a", "b", "c", "d"}
    # delta layout: snapshot 1 holds ONLY its own path
    d1 = os.path.join(log.catalog.snapshot_dir(1), "paths")
    assert {r.path for r in spark.read.parquet(d1).collect()} == {"c"}
    assert log.catalog.read_meta(2)["n_delta"] == 2

    log.compact()
    assert log.catalog.snapshots() == [3]
    assert log.catalog.read_meta(3) == {"n": 4, "compacted": True}
    assert {r.path for r in log.paths().collect()} == {"a", "b", "c", "d"}
    # appends keep working after compaction
    log.append(spark.createDataFrame([("e",)], "path string"))
    assert log.paths().count() == 5


def test_cdx_log_cross_pass_revisits(spark, tmp_path):
    world = DocWorld(2 * N)
    store = VersionedArticleStore(spark, str(tmp_path / "store"), buckets=4)
    log = CompletedWarcLog(spark, str(tmp_path / "done"))
    cdx = CdxLog(spark, str(tmp_path / "cdx"))
    glob = str(tmp_path / "*.warc.gz")

    # pass 1: one file, docs 0..N-1, explicit WARC-Dates
    p1 = tmp_path / "CC-NEWS-20230115120000-00000.warc.gz"
    write_warc(
        str(p1),
        [
            (world.spec(d).url, 200, "text/html",
             world.html(d).encode("utf-8"), f"2023-01-15T12:00:{d:02d}Z")
            for d in range(N)
        ],
    )
    r1 = extract_commoncrawl(spark, glob, store, log, cdx=cdx)
    assert r1["files"] == 1
    rows1 = cdx.rows().collect()
    assert len(rows1) == N
    assert all(r.revisit == 0 for r in rows1)  # first sight of every payload

    # pass 2: a LATER file refetches doc 0 unchanged (revisit of pass 1)
    # and doc 1 with changed bytes (new payload), plus fresh docs
    p2 = tmp_path / "CC-NEWS-20230116120000-00001.warc.gz"
    write_warc(
        str(p2),
        [
            (world.spec(0).url, 200, "text/html",
             world.html(0).encode("utf-8"), "2023-01-16T12:00:00Z"),
            (world.spec(1).url, 200, "text/html",
             (world.html(1) + "<!-- edited -->").encode("utf-8"),
             "2023-01-16T12:00:01Z"),
        ],
    )
    r2 = extract_commoncrawl(spark, glob, store, log, cdx=cdx)
    assert r2["files"] == 1
    by_pass = {}
    for r in cdx.rows().collect():
        by_pass.setdefault(r.path, []).append(r)
    new_rows = {r.url: r for r in by_pass[[p for p in by_pass if "00001" in p][0]]}
    u0, u1 = world.spec(0).url, world.spec(1).url
    assert new_rows[u0].revisit == 1            # unchanged payload, later pass
    assert new_rows[u0].orig_ts == "2023-01-15T12:00:00Z"
    assert new_rows[u1].revisit == 0            # edited payload is an original
    # pass-1 rows were committed first and stay untouched
    assert sum(r.revisit for r in rows1) == 0


def _jobs(spark, group, fn):
    """(fn(), number of Spark jobs fn submitted), counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_articles_is_the_current_row_count(spark, tmp_path):
    """`articles` (the snapshot's observed current_rows) equals a count
    of the committed current table for a batch holding one url twice, a
    re-crawl pass and a pass with no 200 text/html record."""
    world = DocWorld(2 * N)
    store = VersionedArticleStore(spark, str(tmp_path / "store"), buckets=4)
    log = CompletedWarcLog(spark, str(tmp_path / "done"))
    glob = str(tmp_path / "*.warc.gz")

    def page(d, edit=""):
        return (world.spec(d).url, 200, "text/html",
                (world.html(d) + edit).encode("utf-8"))

    def run(name, records):
        write_warc(str(tmp_path / name), records)
        r = extract_commoncrawl(spark, glob, store, log)
        assert r["files"] == 1
        assert r["articles"] == store.current(r["snapshot"]).count(), name
        return r

    # doc 0 twice in one batch: one current row, one archived version
    r1 = run("CC-NEWS-20230115120000-00000.warc.gz",
             [page(d) for d in range(N)] + [page(0, "<!-- again -->")])
    assert r1["articles"] == N
    # re-crawl of every other doc plus N/2 new ones
    r2 = run("CC-NEWS-20230115120001-00001.warc.gz",
             [page(d, "<!-- v2 -->") for d in range(0, N, 2)]
             + [page(d) for d in range(N, N + N // 2)])
    assert r2["articles"] == N + N // 2
    # nothing passes the status/content-type gate: empty batch,
    # current unchanged
    r3 = run("CC-NEWS-20230115120002-00002.warc.gz",
             [(world.spec(N).url, 404, "text/html", b"gone"),
              (world.spec(N + 1).url, 200, "image/png", b"\x89PNG")])
    assert r3["articles"] == r2["articles"]
    assert r3["snapshot"] == r2["snapshot"] + 1


def test_extract_pass_job_budget(spark, tmp_path):
    """One pass over a 12-doc WARC into a fresh store, counted by job
    group. Before row counts rode the write jobs, the pass submitted 18
    jobs: a count after the log write, a read and count of `current`
    for the article count, a distinct on the log delta and an
    aggregate-and-join for the batch ranking. Now it submits 8."""
    world = DocWorld(N)
    _write_warcs(tmp_path, world, 1)
    store = VersionedArticleStore(spark, str(tmp_path / "store"), buckets=4)
    log = CompletedWarcLog(spark, str(tmp_path / "done"))
    r, n_jobs = _jobs(
        spark, "commoncrawl-pass-jobs",
        lambda: extract_commoncrawl(spark, str(tmp_path / "*.warc.gz"), store, log),
    )
    assert r == {"files": 1, "articles": N, "snapshot": 0}
    assert n_jobs <= 10, n_jobs


def test_cdx_append_counts_on_its_write(spark, tmp_path):
    """CdxLog.append takes n_delta from the write job: it submits no
    more jobs than writing the same un-persisted delta alone, and
    n_delta is still the delta's row count."""
    from news_please_spark.operators.cdx import cdx_from_warc_records, cdx_index_incremental
    from news_please_spark.sources.warc import split_warc_records

    world = DocWorld(N)
    paths = _write_warcs(tmp_path, world, 1)
    recs = split_warc_records(spark.read.format("binaryFile").load(paths))
    delta = cdx_index_incremental(
        cdx_from_warc_records(recs), None, tiebreak_col="record_index"
    )
    _, n_write = _jobs(
        spark, "cdx-write-alone",
        lambda: delta.write.mode("overwrite").parquet(str(tmp_path / "alone")),
    )
    cdx = CdxLog(spark, str(tmp_path / "cdx"))
    snap, n_append = _jobs(spark, "cdx-append", lambda: cdx.append(delta))
    assert n_append <= n_write, (n_append, n_write)
    assert cdx.catalog.read_meta(snap)["n_delta"] == delta.count() == N
