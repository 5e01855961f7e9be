"""Versioned MERGE sink (K3-K6 semantics) + savepath DSL (K9)."""

from __future__ import annotations

from pyspark.sql import functions as F

from news_please_spark.sinks.versioned import VersionedArticleStore, savepath


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "url string, title string, date_download string"
    ).withColumn("date_download", F.col("date_download").cast("timestamp"))


def test_merge_versioning_chain(spark, tmp_path):
    store = VersionedArticleStore(spark, str(tmp_path / "store"), buckets=4)

    store.merge(_batch(spark, [
        ("https://a.com/x", "t1", "2026-01-01 00:00:00"),
        ("https://a.com/y", "u1", "2026-01-01 00:00:00"),
    ]))
    cur = {r.url: r for r in store.current().collect()}
    assert cur["https://a.com/x"].version == 1
    assert cur["https://a.com/x"].ancestor is None
    assert store.archive().count() == 0

    # re-crawl x (new version), first crawl of z
    store.merge(_batch(spark, [
        ("https://a.com/x", "t2", "2026-01-02 00:00:00"),
        ("https://a.com/z", "w1", "2026-01-02 00:00:00"),
    ]))
    cur = {r.url: r for r in store.current().collect()}
    assert cur["https://a.com/x"].version == 2
    assert cur["https://a.com/x"].ancestor == 1
    assert cur["https://a.com/x"].title == "t2"
    assert cur["https://a.com/y"].version == 1
    assert cur["https://a.com/z"].version == 1
    arch = {(r.url, r.version): r for r in store.archive().collect()}
    assert arch[("https://a.com/x", 1)].descendant == 2
    assert arch[("https://a.com/x", 1)].title == "t1"

    # two versions of the same url in ONE batch
    store.merge(_batch(spark, [
        ("https://a.com/x", "t3", "2026-01-03 00:00:00"),
        ("https://a.com/x", "t4", "2026-01-04 00:00:00"),
    ]))
    cur = {r.url: r for r in store.current().collect()}
    assert cur["https://a.com/x"].version == 4
    assert cur["https://a.com/x"].title == "t4"
    assert cur["https://a.com/x"].ancestor == 3
    arch = {(r.url, r.version): r for r in store.archive().collect()}
    assert arch[("https://a.com/x", 2)].descendant == 3
    assert arch[("https://a.com/x", 3)].descendant == 4
    assert arch[("https://a.com/x", 3)].title == "t3"


def test_merge_tied_batch_is_repartition_invariant(spark, tmp_path):
    """Exact order_col ties must version deterministically: the
    tie-break is a stable content hash, so the SAME tied batch merged
    under two different partition layouts yields identical
    version/ancestor/descendant assignments (round-2 verdict: the old
    monotonically_increasing_id tie-break depended on layout)."""
    rows = [
        ("https://a.com/x", f"t{i}", "2026-01-01 00:00:00") for i in range(6)
    ] + [("https://a.com/y", "solo", "2026-01-01 00:00:00")]

    outs = []
    for name, nparts in (("s1", 1), ("s2", 7)):
        store = VersionedArticleStore(spark, str(tmp_path / name), buckets=4)
        store.merge(_batch(spark, rows).repartition(nparts))
        cur = sorted(
            (r.url, r.version, r.title, r.ancestor)
            for r in store.current().collect()
        )
        arch = sorted(
            (r.url, r.version, r.title, r.ancestor, r.descendant)
            for r in store.archive().collect()
        )
        outs.append((cur, arch))
    assert outs[0] == outs[1]
    # the chain itself is well-formed: versions 1..6 for x, each archived
    # row points at its successor
    cur, arch = outs[0]
    assert [v for (u, v, *_r) in cur if u == "https://a.com/x"] == [6]
    x_arch = [(v, d) for (u, v, _t, _a, d) in arch if u == "https://a.com/x"]
    assert sorted(x_arch) == [(v, v + 1) for v in range(1, 6)]


def test_savepath_templating(spark):
    df = spark.createDataFrame(
        [("https://www.example.com/a/b/story.html", "2026-02-03 10:11:12")],
        "url string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = df.select(
        savepath(
            "/data/%domain/%time_download(yyyy/MM/dd)/%md5_url_%url_file_name",
            F.col("url"),
            F.col("ts"),
        ).alias("p")
    ).first()[0]
    import hashlib

    md5 = hashlib.md5(b"https://www.example.com/a/b/story.html").hexdigest()
    assert out == f"/data/example.com/2026/02/03/{md5}_story.html"


URL2 = "https://www.blog.news.example.co/world/politics/story-one.html"


def _one(spark, template, url=URL2, **kw):
    from news_please_spark.sinks.savepath import savepath as sp

    df = spark.createDataFrame(
        [(url, "2026-02-03 10:11:12")], "url string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    return df.select(sp(template, F.col("url"), F.col("ts"), **kw).alias("p")).first()[0]


def test_savepath_full_catalog(spark):
    """Reference token catalog (savepath_parser.py:13-34) — each token
    against hand-derived reference semantics."""
    import hashlib

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert _one(spark, "%domain(20)") == "example.co"
    assert _one(spark, "%domain(5)") == "examp"
    assert _one(spark, "%full_domain(40)") == "blog.news.example.co"
    assert _one(spark, "%subdomains(20)") == "blog.news."
    assert _one(spark, "%url_directory_string(40)") == "world_politics"
    assert _one(spark, "%url_file_name(40)") == "story-one"
    assert _one(spark, "%md5_domain(8)") == md5("example.co")[:8]
    assert _one(spark, "%md5_full_domain(6)") == md5("blog.news.example.co")[:6]
    assert _one(spark, "%md5_url_file_name(10)") == md5("story-one")[:10]
    # appendmd5: unchanged when short enough; md5 prefix when n <= 32;
    # trim + '_' + md5 when n > 32 (savepath_parser.py:95-108)
    assert _one(spark, "%appendmd5_domain(32)") == "example.co"
    assert _one(spark, "%appendmd5_domain(4)") == md5("example.co")[:4]
    long_comp = "blog.news.example.co"
    got = _one(spark, "%appendmd5_full_domain(36)")
    assert got == long_comp  # len 20 <= 36: unchanged
    got = _one(spark, "%appendmd5_full_domain(35)", url="https://" + "a" * 40 + ".example.co/x")
    comp = "a" * 40 + ".example.co"
    assert got == comp[: 35 - 33] + "_" + md5(comp) and len(got) == 35
    # time tokens: strftime forms are translated, legacy Java passes through
    assert _one(spark, "%time_download(%Y-%m-%d_%H)") == "2026-02-03_10"
    assert _one(spark, "%timestamp_download").isdigit()
    assert (
        _one(spark, "%working_path/x%timestamp_execution", working_path="/wp", execution_ts=1700000000)
        == "/wp/x1700000000"
    )
    assert (
        _one(spark, "%time_execution(%Y)/f", execution_ts=1700000000) == "2023/f"
    )
    # max_url_file_name: budget = 259 - len(everything else)
    assert _one(spark, "/data/%domain(7)/%max_url_file_name") == "/data/example/story-one"
    long_url = "https://h.example.co/" + "f" * 300 + ".html"
    got = _one(spark, "/data/%max_url_file_name", url=long_url)
    assert got == "/data/" + "f" * (259 - 6)
    got = _one(spark, "/data/%appendmd5_max_url_file_name", url=long_url)
    comp = "f" * 300
    assert got == "/data/" + comp[: 253 - 33] + "_" + md5(comp)
    # invalid filesystem chars are replaced (savepath_parser.py:218-230)
    assert _one(spark, 'a<b>c:d"e|f?g*h/%domain(3)') == "a_b_c_d_e_f_g_h/exa"


def test_savepath_trailing_slash_directory_quirk(spark):
    """The reference drops the last directory when the URL ends in '/'
    (url_extractor.py:264-272 slices [idx+1:-2]) — mirrored."""
    assert (
        _one(spark, "%url_directory_string(40)", url="https://h.example.co/a/b/")
        == "a"
    )


def test_meta_records_current_rows(spark, tmp_path):
    """Every merge's snapshot meta carries `current_rows`, the row
    count of its `current` table observed on the write: a first load,
    a re-crawl plus a new url, two versions of one url in one batch,
    and an empty batch."""
    store = VersionedArticleStore(spark, str(tmp_path / "store"), buckets=4)
    batches = [
        [("https://a.com/x", "t1", "2026-01-01 00:00:00"),
         ("https://a.com/y", "u1", "2026-01-01 00:00:00")],
        [("https://a.com/x", "t2", "2026-01-02 00:00:00"),
         ("https://a.com/z", "w1", "2026-01-02 00:00:00")],
        [("https://a.com/x", "t3", "2026-01-03 00:00:00"),
         ("https://a.com/x", "t4", "2026-01-04 00:00:00")],
        [],
    ]
    for rows in batches:
        snap = store.merge(_batch(spark, rows))
        meta = store.catalog.read_meta(snap)
        assert meta["current_rows"] == store.current(snap).count(), snap
    assert meta == {"snapshot": 3, "current_rows": 3}
