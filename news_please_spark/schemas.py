"""Fixed StructType schemas for every engine table (SURVEY.md §1.3:
schemas are declared, never inferred — mirrors the reference's hand-declared
scrapy Item / SQL DDL / ES mapping, e.g. reference
newsplease/crawler/items.py:9-44 and newsplease/init-postgresql-db.sql).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# input_hint authoritative shape: interleaved text + media span documents
SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),       # title|description|text|media
        T.StructField("text", T.StringType(), False),       # '' for media spans
        T.StructField("media_ref", T.StringType(), False),  # '' for text spans
        T.StructField("offset", T.IntegerType(), False),    # 0-based sequence position
    ]
)

SPAN_DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN), False),
    ]
)

# ---------------------------------------------------------------------------
# crawl world (FIXTURES.md §2-7)
WEBGRAPH = T.StructType(
    [
        T.StructField("src_url", T.StringType(), False),
        T.StructField("dst_url", T.StringType(), False),
        T.StructField("link_index", T.IntegerType(), False),
    ]
)

SEEDS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("crawler", T.StringType(), False),
        T.StructField("daemonize_secs", T.IntegerType(), True),
        T.StructField("pass_heuristics_condition", T.StringType(), True),
    ]
)

ROBOTS = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("disallow_prefix", T.StringType(), False),
        T.StructField("crawl_delay_secs", T.DoubleType(), True),
    ]
)

RESPONSES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("status", T.IntegerType(), False),
        T.StructField("content_type", T.StringType(), True),
        T.StructField("body", T.BinaryType(), True),
        T.StructField("redirect_to", T.StringType(), True),
        T.StructField("fetched_at", T.TimestampType(), True),
    ]
)

SITEMAPS = T.StructType(
    [
        T.StructField("sitemap_url", T.StringType(), False),
        T.StructField("entry_url", T.StringType(), False),
        T.StructField("is_sitemap", T.BooleanType(), False),
        T.StructField("entry_index", T.IntegerType(), False),
    ]
)

RSS_ITEMS = T.StructType(
    [
        T.StructField("feed_url", T.StringType(), False),
        T.StructField("item_url", T.StringType(), False),
        T.StructField("title", T.StringType(), True),
        T.StructField("pub_date", T.TimestampType(), True),
    ]
)

# ---------------------------------------------------------------------------
# frontier state (the central inversion: reference keeps this inside the
# scrapy scheduler, newsplease/single_crawler.py:170-187; here it is a table)
FRONTIER = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("depth", T.IntegerType(), False),
        # seeds 0; children (parent_seq + 1) * DISC_STRIDE + link_index
        T.StructField("disc_key", T.LongType(), False),
    ]
)

CRAWL_ORDER = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField("wave", T.IntegerType(), False),
    ]
)

SEEN = T.StructType([T.StructField("url", T.StringType(), False)])

# canonical extracted-article row (reference newsplease/NewsArticle.py:38-55,
# pipeline/pipelines.py:299-330, init-postgresql-db.sql)
ARTICLE = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("source_domain", T.StringType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("title_page", T.StringType(), True),
        T.StructField("title_rss", T.StringType(), True),
        T.StructField("description", T.StringType(), True),
        T.StructField("maintext", T.StringType(), True),
        T.StructField("authors", T.ArrayType(T.StringType()), True),
        T.StructField("date_publish", T.TimestampType(), True),
        T.StructField("date_download", T.TimestampType(), True),
        T.StructField("date_modify", T.TimestampType(), True),
        T.StructField("image_url", T.StringType(), True),
        T.StructField("language", T.StringType(), True),
        T.StructField("filename", T.StringType(), True),
        T.StructField("localpath", T.StringType(), True),
        T.StructField("version", T.IntegerType(), False),
        T.StructField("ancestor", T.IntegerType(), True),
        T.StructField("descendant", T.IntegerType(), True),
    ]
)
