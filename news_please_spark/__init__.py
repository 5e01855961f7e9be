"""news_please_spark — a from-scratch PySpark-native crawl-scheduler +
extraction engine with the query/data-processing capabilities of
fhamborg/news-please (reference at /root/reference, studied for semantics
only; no code copied).

Architecture (see SURVEY.md §7):
  - the URL frontier is a table, a crawl wave is a Spark job,
  - extraction is a vectorized map (Arrow pandas UDFs),
  - storage/versioning is a set-oriented MERGE,
  - URL-seen is an exact anti-join against the `seen` table, optionally
    cut down first by a partitioned bloom or cuckoo filter.
"""

__version__ = "0.2.0"


# ---------------------------------------------------------------------------
# Library facade — the one-call API mirroring the reference's most-used
# entry points NewsPlease.from_url / from_urls / from_html / from_file
# (reference newsplease/__init__.py:65-183). Network-free by design: the
# fetch tier resolves against a `responses` table with identical filter
# semantics (see sources/fetch.py); production would plug an HTTP
# resolver into the same seam.

def from_html(spark, pages):
    """pages: DataFrame(url, html) or list[(url, html)] → article rows
    (the from_html analogue, reference __init__.py:65-114)."""
    from news_please_spark.extraction.extract import extract_articles

    if not hasattr(pages, "select"):
        pages = spark.createDataFrame(pages, "url string, html string")
    return extract_articles(pages)


def from_urls(spark, urls, responses):
    """urls (list[str] or DataFrame(url)) × responses table → fetch
    (F1/F5/F6/S3/D4) → extraction chain → article rows (the from_urls
    analogue, reference __init__.py:116-169)."""
    from news_please_spark.extraction.extract import extract_articles
    from news_please_spark.sources.fetch import fetch_from_responses

    if not hasattr(urls, "select"):
        urls = spark.createDataFrame([(u,) for u in urls], "url string")
    fetched = fetch_from_responses(urls, responses)
    return extract_articles(fetched)


def from_url(spark, url: str, responses):
    """Single-URL convenience wrapper (reference __init__.py:116-127)."""
    return from_urls(spark, [url], responses)


def from_file(spark, path: str, responses):
    """URL-file (one per line, blanks dropped) → from_urls (the
    from_file analogue, reference __init__.py:171-183)."""
    from news_please_spark.sources.flat import urls_from_file

    return from_urls(spark, urls_from_file(spark, path), responses)


def from_warc(spark, warc_glob: str):
    """WARC files → response records (200, text/html) → extraction
    chain → article rows (the from_warc analogue, reference
    __init__.py:28-63; record framing + charset detection in
    sources/warc.py)."""
    from pyspark.sql import functions as F

    from news_please_spark.extraction.extract import extract_articles
    from news_please_spark.sources.warc import split_warc_records

    files = spark.read.format("binaryFile").load(warc_glob)
    recs = split_warc_records(files)
    pages = (
        recs.filter(F.col("warc_type") == "response")
        .filter(F.col("http_status") == 200)
        .filter(F.col("content_type").rlike("^text/html"))
        .select(F.col("target_uri").alias("url"), F.col("body").alias("html"))
    )
    return extract_articles(pages)


def load_sitelist(text_or_path: str):
    """Per-site config layer: parse a sitelist.hjson document (or a path
    to one) into a SiteConfigs whose overrides compile into native
    Columns — gate_column() for F7 per-host heuristics, ignore_column()
    for frontier URL filters, crawler_for()/daemon_intervals() for O5/O4
    (reference config.py:257-299 + sitelist.hjson)."""
    import os

    from news_please_spark.siteconfig import SiteConfigs

    if os.path.exists(text_or_path):
        with open(text_or_path) as f:
            text_or_path = f.read()
    return SiteConfigs.from_sitelist(text_or_path)


def prepare_training_data(
    docs,
    benchmark=None,
    splits: dict[str, float] | None = None,
    seq_len: int = 2048,
    packer_hex: int = 2,
    render: bool = False,
    **clean_kwargs,
):
    """One-call training-data preparation: corpus hygiene
    (pipeline.clean_corpus: exact dedup → near-dup removal →
    decontamination → quality gate) → deterministic split
    (operators/sampling.dataset_split) → per-split concat-and-chunk
    packing (pack_sequences).  `docs` needs (doc_id, text).  Returns
    the packed span table, or the rendered per-chunk text when
    `render=True` (render_packed_chunks).  The same composition the
    driver gate checks hash-exact end-to-end as `training_corpus`."""
    from news_please_spark.operators.sampling import (
        dataset_split,
        pack_sequences,
        render_packed_chunks,
    )
    from news_please_spark.pipeline import clean_corpus

    cleaned = clean_corpus(docs, benchmark, **clean_kwargs)
    split = dataset_split(
        cleaned.select("doc_id", "text"),
        splits or {"test": 0.01, "val": 0.01, "train": 0.98},
    )
    packed = pack_sequences(
        split, seq_len=seq_len, packer_hex=packer_hex, group_cols=["split"]
    )
    if render:
        return render_packed_chunks(
            packed, split.select("doc_id", "text"), group_cols=["split"]
        )
    return packed


def publish_training_corpus(
    spark,
    catalog,
    docs,
    benchmark=None,
    min_rows: int = 1,
    max_drop_pct: int = 60,
    max_grow_pct: int | None = None,
    **corpus_kwargs,
):
    """Hygiene → pack → AUDITED publish, one call: runs
    training_corpus (clean_corpus → dataset_split → pack_sequences),
    stages the cleaned split table AND the packed spans as one
    snapshot, and publishes through the catalog's write-audit-publish
    gate — min-rows plus the row-delta tripwire on `corpus`, so a
    filter bug that guts the corpus (or a join fanout that doubles it)
    is rejected with AuditFailed and readers keep the previous
    snapshot.  Returns the published snapshot id.

    This is the intended production loop: every refresh of the
    training table lands atomically or not at all, and `catalog.
    read_table(spark, "packed"|"corpus", snap)` time-travels any
    previous version for ablations."""
    from news_please_spark.operators.sampling import dataset_split, pack_sequences
    from news_please_spark.pipeline import clean_corpus
    from news_please_spark.state import audit_min_rows, audit_row_delta

    splits = corpus_kwargs.pop("splits", None)
    seq_len = corpus_kwargs.pop("seq_len", 2048)
    packer_hex = corpus_kwargs.pop("packer_hex", 2)
    cleaned = clean_corpus(docs, benchmark, **corpus_kwargs)
    split = dataset_split(
        cleaned.select("doc_id", "text"),
        splits or {"test": 0.01, "val": 0.01, "train": 0.98},
    )
    packed = pack_sequences(
        split, seq_len=seq_len, packer_hex=packer_hex, group_cols=["split"]
    )
    return catalog.write_audit_publish(
        spark,
        {"corpus": split, "packed": packed},
        [
            audit_min_rows("corpus", min_rows),
            audit_row_delta("corpus", max_drop_pct, max_grow_pct),
        ],
        meta={"op": "publish_training_corpus", "seq_len": seq_len},
    )
