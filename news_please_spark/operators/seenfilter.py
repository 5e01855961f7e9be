"""Partitioned approximate URL-seen prefilter — the frame the bloom
(operators/urlseen.py) and cuckoo (operators/cuckoo.py) filters share
(north_rule: "partitioned bloom/cuckoo URL-seen filter"; reference
analogue: scrapy RFPDupeFilter persisted per crawler JOBDIR, reference
newsplease/single_crawler.py:170-187).

Layout: the `seen` table is hash-bucketed by functions.urls.url_bucket.
Per bucket one filter blob is built with `applyInPandas`, so build
parallelism == bucket count and each blob sizes to its bucket.

Hashing discipline: BOTH 64-bit hash lanes are computed JVM-side with
the codegen'd xxhash64 (two different seed columns) — no URL string
ever crosses Arrow, and the Python side only does numpy work over
int64 arrays (vectorized across the whole batch, zero per-row Python).
Spark's internal BloomFilterAggregate/might_contain pair would be
simpler still, but it is not registered in the public function
registry as of Spark 4.1.2 (UNRESOLVED_ROUTINE).

Probe: candidates and blobs are cogrouped on `bucket` — each task
receives ONE bucket's candidates plus that bucket's blob rows and
probes partition-locally. Nothing is collected to the driver and no
task holds more than one bucket's blobs, so total blob bytes can
exceed any single JVM's memory (~76k buckets × ~150 KB ≈ 11 GB at the
10^10-URL design point) — the blob table is an Iceberg table bucketed
by `bucket` there. A bucket may hold several unmerged delta blobs; the
filter's `contains` kernel answers against all of them.

Candidates the filter rejects are *definitely unseen* → they skip the
exact join entirely. Candidates it accepts go through the exact
left_anti confirm, so false positives can never drop URLs — exactness
is preserved, the filter only cuts the big-join input.

A filter module supplies three numpy kernels and its blob schema
(`bucket` first, then its geometry columns, then `blob`):

  build(h1, h2) -> dict      one bucket's blob from its uint64 lanes
  merge(pdf) -> dict         one bucket's blob rows folded into one
  contains(pdf, h1, h2)      bool verdict per lane pair against one
                             bucket's blob rows (≥ 1, maybe unmerged)
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from news_please_spark.functions.urls import url_bucket


def hash_lanes(url: str | Column = "url") -> tuple[Column, Column]:
    """Two independent JVM-side 64-bit hash lanes (xxhash64, distinct
    seeds via an extra literal column)."""
    return F.xxhash64(url), F.xxhash64(url, F.lit(0x9E3779B9))


def as_u64(s: pd.Series) -> np.ndarray:
    return s.to_numpy(dtype=np.int64).view(np.uint64)


def keyed(df: DataFrame, n_buckets: int) -> DataFrame:
    """df + (bucket, h1, h2) for its `url` column."""
    h1, h2 = hash_lanes("url")
    return (
        df.withColumn("bucket", url_bucket("url", n_buckets).cast("int"))
        .withColumn("h1", h1)
        .withColumn("h2", h2)
    )


def _one_row(schema: T.StructType, bucket: int, fields: dict) -> pd.DataFrame:
    return pd.DataFrame([{"bucket": bucket, **fields}], columns=schema.names)


def build_blobs(
    seen: DataFrame, n_buckets: int, build: Callable, schema: T.StructType
) -> DataFrame:
    """seen(url) → one blob row per hash bucket."""

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        fields = build(as_u64(pdf["h1"]), as_u64(pdf["h2"]))
        return _one_row(schema, int(pdf["bucket"].iloc[0]), fields)

    return (
        keyed(seen, n_buckets)
        .select("bucket", "h1", "h2")
        .groupBy("bucket")
        .applyInPandas(per_bucket, schema)
    )


def merge_blobs(
    a: DataFrame, b: DataFrame, merge: Callable, schema: T.StructType
) -> DataFrame:
    """Fold two blob tables into one blob per bucket. One tiny
    applyInPandas over ≤ n_buckets groups."""

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        return _one_row(schema, int(pdf["bucket"].iloc[0]), merge(pdf))

    return a.unionByName(b).groupBy("bucket").applyInPandas(per_bucket, schema)


def prefilter(
    candidates: DataFrame,
    seen: DataFrame,
    n_buckets: int,
    blobs: DataFrame,
    contains: Callable,
    materialize: bool = True,
) -> DataFrame:
    """Split candidates by the filter verdict; return
    definitely-new ∪ (maybe-seen exact-anti-join seen). Output keeps the
    candidate schema and exact semantics.

    materialize=True localCheckpoints the probed candidates before the
    split — the verdict column feeds THREE consumers (two filter
    branches + the anti-join), and without a cut each one would
    re-execute the whole upstream plan (for the crawl loop that is the
    expansion join, 3×)."""
    cand_cols = candidates.columns
    probe_in = keyed(candidates, n_buckets)
    out_schema = T.StructType(
        [f for f in probe_in.schema.fields if f.name not in ("h1", "h2")]
        + [T.StructField("_maybe", T.BooleanType(), False)]
    )

    def probe(cand: pd.DataFrame, blob: pd.DataFrame) -> pd.DataFrame:
        if cand.empty:
            return pd.DataFrame(columns=out_schema.names)
        out = cand.drop(columns=["h1", "h2"])
        # no blob → the bucket never saw a URL
        out["_maybe"] = (
            contains(blob, as_u64(cand["h1"]), as_u64(cand["h2"]))
            if not blob.empty
            else False
        )
        return out

    probed = (
        probe_in.groupBy("bucket")
        .cogroup(blobs.groupBy("bucket"))
        .applyInPandas(probe, out_schema)
    )
    if materialize:
        probed = probed.localCheckpoint(eager=True)
    definitely_new = probed.filter(~F.col("_maybe")).select(*cand_cols)
    maybe = probed.filter(F.col("_maybe")).select(*cand_cols)
    return definitely_new.unionByName(maybe.join(seen, "url", "left_anti"))
