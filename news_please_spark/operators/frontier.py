"""The crawl frontier engine — waves of set-oriented DataFrame jobs.

Replaces the reference's scrapy scheduler + RFPDupeFilter + per-domain
concurrency caps (reference newsplease/single_crawler.py:170-187,
helper_classes/parse_crawler.py:90-120, config/config.cfg:350-354) with
an explicit frontier table and a deterministic total order that the
pure-Python oracle (oracle.py) reproduces bit-for-bit.

Once per crawl:
  edges       — the webgraph through filters F2/F3/F4 and robots gate
                F11 (all dst_url-only, so static for the crawl),
                co-partitioned by src_url and cached (prepare())
  seeds       — gated, deduplicated, disc_key 0; one checkpoint

Per wave:
  politeness  — skew-safe top-B per host (ordering.mark_top_k_per_key)
  seq         — global (depth, disc_key, url) row numbering, fused into
                the politeness job for typical waves
  expansion   — join fetch-set × gated edges (fetch side broadcast
                when small), min-disc_key dedup of in-wave duplicates
  URL-seen    — one exact left_anti against the `seen` table (D1); with
                a bloom/cuckoo filter (bucket-cogrouped probe) only the
                candidates the filter cannot rule out take that join
  checkpoint  — with state_dir, two append-only deltas per wave in one
                CAS commit: `seen` (the wave's new rows, plus the seeds
                at wave 0) and `order` (its fetched rows). The frontier
                is exactly the seen rows not yet fetched, so it is never
                written: resume rebuilds it as seen ⋉̸ order

Scale notes (100 TB / 10^10 URLs):
  * `seen` would live in Iceberg, bucketed by url_bucket(url, B) so the
    per-wave anti-join is co-partitioned; the local seen deltas keep the
    same layout (.repartition on the bucket expression before write).
    State grows O(seen + fetched), not O(waves × frontier).
  * lineage is cut every wave via localCheckpoint — no ever-growing
    union chain on the driver.
  * per-wave metrics (rows fetched, new URLs, seen chunks, seq path,
    phase timings) come from Observations on jobs that already run and
    go to this module's logger at INFO.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from news_please_spark.functions.urls import url_bucket, url_host, url_path
from news_please_spark.operators.cacheutil import release_df
from news_please_spark.operators.ordering import mark_top_k_per_key, with_global_seq
from news_please_spark.state import SnapshotCatalog
from news_please_spark.world import (
    ALLOWED_DOMAIN_SUFFIX,
    IGNORE_EXTENSIONS,
    IGNORE_REGEX,
)

_log = logging.getLogger(__name__)

BROADCAST_FETCH_LIMIT = 100_000  # rows; above this the driver-side broadcast
# build (collect + hash-relation + serialize, ~3-5 s at 150k rows) becomes the
# SERIAL floor of every wave — larger fetch sets use a shuffle-hash join
# against src_url-co-partitioned edges instead (all phases parallel)
BROADCAST_SEEN_URL_BYTES = 32 << 20  # raw URL bytes; below this the URL-seen
# anti-join may broadcast the seen side (hash-relation overhead ≈ 3-4× raw
# keeps the driver build well under the 64 MB broadcast budget) — above it
# the engine forces shuffle_hash, never trusting Catalyst's schema-default
# estimate of a checkpointed leaf
SMALL_SEQ_LIMIT = 500_000  # below this a single-partition window beats two-phase
# (a one-task sort of 500k rows is ~0.3 s; the two-phase numbering costs
# two extra jobs + a shuffle — only worth it for genuinely huge waves)
SMALL_SEQ_BYTES = 64 << 20  # ... but only while the whole fetch set also fits
# one task's sort buffer comfortably — fat rows (multi-KB URLs) must take the
# two-phase path even at low row counts
CHECKPOINT_EVERY = 8  # waves between compactions of the per-wave order parts
# discovery-key encoding: children get (parent_seq + 1) * DISC_STRIDE +
# link_index, seeds all get 0. Child keys start at DISC_STRIDE, so they
# never tie with a seed, and are unique among children as long as every
# page has < DISC_STRIDE outlinks (enforced per row by a raise_error
# branch in the expansion select). Politeness sorts by (disc_key, url)
# and seq by (depth, disc_key, url): seeds fall back to url order — the
# oracle's url-rank keys give the same order — so neither ever
# tie-breaks on anything the oracle does not use. 64-bit headroom:
# parent seq < 2^41 (~2.2e12 fetched pages — unreachable before the
# multiply overflows).
DISC_STRIDE = 1 << 22


def estimated_fetch_bytes(n_rows: int, url_bytes: int) -> int:
    """Wave fetch-set size estimate from the stats the per-wave count
    job already computes: URL chars dominate a fetch row (url + derived
    host ≈ 2×) plus fixed depth/disc_key/struct overhead. (Catalyst's
    sizeInBytes was tried and rejected: for a localCheckpointed RDD it
    falls back to schema-default column widths — a 90 MB fat-URL table
    estimated as 8.4 KB.)"""
    return 2 * url_bytes + 32 * n_rows


def use_single_partition_seq(n_rows: int, est_bytes: int) -> bool:
    """True when the global fetch-order numbering should take the
    one-task window (cheapest for typical waves); False → the scalable
    two-phase numbering. Keyed on rows AND estimated bytes so fat rows
    can't ride the single-task path."""
    return n_rows <= SMALL_SEQ_LIMIT and est_bytes <= SMALL_SEQ_BYTES


@dataclass
class FrontierConfig:
    budget_per_host: int = 4          # reference config.cfg:354
    max_depth: int = 4
    max_waves: int = 10_000
    # approximate-membership prefilter in front of the exact URL-seen
    # anti-join: None (off), "bloom" (OR-mergeable bit array, ~1.2 B/URL
    # at 1% FPR) or "cuckoo" (deletable 16-bit fingerprints, ~3 B/URL at
    # ~5e-4 FPR — the variant that can follow a store that RETRACTS
    # documents without a rebuild). Both share bucketing, hash lanes,
    # the probe and the exactness contract (operators/seenfilter.py).
    seen_filter: str | None = None
    bloom_capacity: int = 1 << 17     # expected per-bucket rows; fixes the
    # filter geometry so per-wave blob deltas merge — each wave hashes
    # only its delta
    salt_buckets: int = 1             # >1 enables skew-safe two-phase top-k
    state_dir: str | None = None      # enables checkpoint/resume
    seen_buckets: int = 32            # hash-bucket layout of the seen table

    def __post_init__(self) -> None:
        if self.seen_filter not in (None, "bloom", "cuckoo"):
            raise ValueError(
                f"seen_filter must be None, 'bloom' or 'cuckoo', not {self.seen_filter!r}"
            )
        for name, low in (("budget_per_host", 1), ("max_depth", 0), ("seen_buckets", 1)):
            if getattr(self, name) < low:
                raise ValueError(f"{name} must be >= {low}, not {getattr(self, name)}")


def _seen_filter_fns(seen_filter: str):
    """(build, merge, prefilter) of the named approximate URL-seen
    filter — bloom and cuckoo share one call contract, so the wave loop
    is filter-agnostic."""
    if seen_filter == "cuckoo":
        from news_please_spark.operators.cuckoo import (
            build_cuckoo_blobs,
            cuckoo_prefilter,
            merge_cuckoo_blobs,
        )

        return build_cuckoo_blobs, merge_cuckoo_blobs, cuckoo_prefilter
    from news_please_spark.operators.urlseen import (
        bloom_prefilter,
        build_bloom_blobs,
        merge_bloom_blobs,
    )

    return build_bloom_blobs, merge_bloom_blobs, bloom_prefilter


@dataclass
class CrawlResult:
    order: DataFrame
    seen: DataFrame
    waves: int
    fetched: int
    metrics: list[dict] = field(default_factory=list)
    # checkpoint leaves backing order/seen — released via release()
    _caches: list[DataFrame] = field(default_factory=list)

    def release(self) -> None:
        """Free every checkpoint block backing `order`/`seen`. Call when
        done consuming the result (or use the engine as a context
        manager and call result.release() before exit); `order`/`seen`
        are unusable afterwards. Without this the result's state lives
        until driver GC — an accretion on long-lived sessions that run
        many crawls."""
        for df in self._caches:
            release_df(df)
        self._caches.clear()

    def metrics_df(self, spark: SparkSession) -> DataFrame:
        """Per-wave engine metrics as a DataFrame — the metrics contract
        (wave, fetched, new_urls, seq_path, …) in queryable form, the
        library-mode analogue of the reference's crawler log lines."""
        rows = [
            (
                int(m["wave"]),
                int(m["fetched"]),
                int(m["new_urls"]),
                int(m["seen_chunks"]),
                str(m["seq_path"]),
                int(m["seq_next"]),
            )
            for m in self.metrics
        ]
        return spark.createDataFrame(
            rows,
            "wave int, fetched long, new_urls long, seen_chunks int, "
            "seq_path string, seq_next long",
        )


def allowed_url(url_col) -> F.Column:
    """Filters F2 (extension), F3 (scheme junk), F4 (domain scope) as one
    native boolean Column — codegen'd, no Python."""
    return (
        ~url_col.rlike(IGNORE_REGEX)
        & ~url_col.rlike(IGNORE_EXTENSIONS)
        & url_host(url_col).endswith(ALLOWED_DOMAIN_SUFFIX)
    )


def _observe_urls(df: DataFrame, obs: Observation) -> DataFrame:
    """`df` observing its row count `n` and URL bytes `b` on the job
    that materializes it — no extra scan."""
    return df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.length("url")), F.lit(0)).alias("b"),
    )


def robots_blocked(path_col, prefixes_col) -> F.Column:
    """F11: true when any disallow prefix matches the URL path."""
    return F.when(
        prefixes_col.isNull(), F.lit(False)
    ).otherwise(F.exists(prefixes_col, lambda p: path_col.startswith(p)))


class FrontierEngine:
    def __init__(
        self,
        spark: SparkSession,
        webgraph: DataFrame,
        robots: DataFrame | None = None,
        cfg: FrontierConfig | None = None,
        site_configs=None,
    ):
        """site_configs: optional siteconfig.SiteConfigs whose per-host
        ignore_regex ANDs into the URL gate (sitelist.hjson analogue) —
        compiled into the same codegen'd Column, no join."""
        self.spark = spark
        self.cfg = cfg or FrontierConfig()
        self.site_configs = site_configs
        # edges keyed by src_url; at scale this is an Iceberg table
        # bucketed by src_url so the per-wave join is co-partitioned.
        self.edges = webgraph
        self._exp_edges: DataFrame | None = None
        if robots is not None:
            # persist: rebuilt-per-wave robots aggregation was a serial
            # job in every wave's critical path
            self.robots_by_host = (
                robots.groupBy("host")
                .agg(F.collect_list("disallow_prefix").alias("prefixes"))
                .persist()
            )
        else:
            self.robots_by_host = None

    def _url_gate(self, url_col) -> F.Column:
        """Global allowed_url AND any per-site ignore_regex — still one
        codegen'd boolean Column."""
        gate = allowed_url(url_col)
        if self.site_configs is not None:
            gate = gate & self.site_configs.ignore_column(url_col)
        return gate

    def _expansion_edges(self) -> DataFrame:
        """The edge table the wave loop expands through: hash-partitioned
        by src_url, GATED, cached, with a `dst_host` column. The URL gate
        (F2/F3/F4 + per-site rules) and robots (F11) only look at
        dst_url and are static for the duration of a crawl, so both are
        applied ONCE here instead of per wave — a gated-out dst edge is
        dead forever, so no regex scan, host derivation, robots
        broadcast or prefix scan sits in any wave's critical path. The
        shuffle-hash expansion join then exchanges only the small fetch
        side; the edge scan stays partition-local every wave. At 100 TB
        this is the Iceberg edges table bucketed by src_url, gated once
        at crawl start (or maintained incrementally as robots change)."""
        if self._exp_edges is not None:
            return self._exp_edges
        n = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        # the filter preserves the src_url partitioning — no new shuffle
        edges = self.edges.repartition(n, "src_url").withColumn(
            "dst_host", url_host(F.col("dst_url"))
        )
        keep = self._url_gate(F.col("dst_url"))
        if self.robots_by_host is not None:
            edges = edges.join(F.broadcast(self.robots_by_host),
                               F.col("dst_host") == F.col("host"), "left")
            # one CASE over the join output, not an AND Catalyst would
            # split and push below the exchange: there a computed
            # dst_url (a generated webgraph) is re-evaluated once per
            # reference in the gate (4× the prepare time measured on a
            # 100k-page World)
            keep = F.when(
                keep, ~robots_blocked(url_path(F.col("dst_url")), F.col("prefixes"))
            ).otherwise(False)
        self._exp_edges = edges.filter(keep).drop("host", "prefixes").persist()
        self._exp_edges.count()
        return self._exp_edges

    def prepare(self) -> None:
        """Materialize the one-time caches (gated co-partitioned edges)
        outside the timed crawl loop — table prep, not crawling."""
        self._expansion_edges()

    def close(self) -> None:
        """Release the engine's long-lived caches (robots aggregate +
        the gated co-partitioned edge cache). Call when the engine is
        done — on a long-lived session the caches otherwise accrete
        across engines. Idempotent; the engine stays usable (both caches
        are plain persists over live plans — a later run()
        transparently rebuilds them)."""
        release_df(self._exp_edges)
        self._exp_edges = None
        if self.robots_by_host is not None:
            release_df(self.robots_by_host)

    def __enter__(self) -> "FrontierEngine":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    # -- state snapshots ------------------------------------------------
    # Per-wave checkpoints are snapshots in a SnapshotCatalog (state.py):
    # stage → atomic rename commit, with compare-and-swap on the wave id
    # so two crawlers resuming the same state dir cannot both commit a
    # wave — one gets CommitConflict (the Iceberg commit protocol the
    # 100-TB deployment would run on the catalog's metadata pointer).
    # Both tables are append-only deltas: `seen` holds each wave's new
    # frontier rows (url, host, depth, disc_key), `order` its fetched rows.
    def _wave_catalog(self):
        return SnapshotCatalog(self.cfg.state_dir, prefix="wave=", width=5)

    def _save_wave(self, wave, seen_delta, order_wave, meta) -> None:
        tx = self._wave_catalog().begin(expected=wave - 1)
        bucket = url_bucket("url", self.cfg.seen_buckets)
        tx.write_delta("seen", seen_delta, repartition=(self.cfg.seen_buckets, bucket))
        tx.write_delta("order", order_wave)
        tx.commit(meta)  # raises state.CommitConflict on a racing writer

    # -- main loop --------------------------------------------------------
    def run(
        self, seed_urls: list[str] | DataFrame, resume: bool = False
    ) -> CrawlResult:
        # AQE is valuable for ad-hoc queries, but in the crawl every join
        # is already routed by engine-held statistics (broadcast/shuffle-
        # hash by measured bytes) and every input is a checkpointed leaf
        # AQE cannot re-measure — so adaptive re-planning contributes
        # only extra query-stage barriers (one Spark job per shuffle
        # stage, the prologue's included) and was observed sporadically
        # mis-planning long stages: 16-core crawls measured 88-125 s
        # with AQE off vs 88-395 s with it on. Scope it off for the
        # whole crawl, restore after.
        spark = self.spark
        _aqe_key = "spark.sql.adaptive.enabled"
        _aqe_prev = spark.conf.get(_aqe_key)
        spark.conf.set(_aqe_key, "false")
        try:
            return self._run_waves(*self._start(seed_urls, resume))
        finally:
            spark.conf.set(_aqe_key, _aqe_prev)

    def _start(self, seed_urls, resume: bool):
        """The crawl's starting state: (frontier checkpoint, seen
        checkpoint with the frontier columns, its {"n", "b"} row/URL-byte
        stats, start wave, seq base) — from the seeds, or on resume from
        the last complete wave under state_dir."""
        spark, cfg = self.spark, self.cfg
        if resume and cfg.state_dir:
            # a crash mid _save_wave leaves a wave=NNNNN.tmp* staging
            # dir, which neither counts as a wave nor adds its partial
            # deltas: the catalog lists committed waves only
            cat = self._wave_catalog()
            cat.sweep_staging()
            last = cat.latest()
            if last is not None:
                seen = cat.read_deltas(spark, "seen")
                if seen is None or set(seen.columns) != {"url", "host", "depth", "disc_key"}:
                    raise ValueError(
                        f"{cfg.state_dir}: its seen deltas lack the frontier columns "
                        "(url, host, depth, disc_key) this engine resumes from; the "
                        "crawl was checkpointed by an older layout"
                    )
                obs = Observation()
                seen = _observe_urls(seen, obs).localCheckpoint(eager=True)
                # the frontier is every seen row not yet fetched, with the
                # host/depth/disc_key it entered with
                fetched = cat.read_deltas(spark, "order").select("url")
                frontier = seen.join(fetched, "url", "left_anti").localCheckpoint(eager=True)
                return frontier, seen, obs.get, last + 1, cat.read_meta(last)["seq_next"]
        if isinstance(seed_urls, DataFrame):
            seeds = seed_urls.select("url")
        else:
            seeds = spark.createDataFrame([(u,) for u in seed_urls], "url string")
        # every seed gets disc_key 0: politeness sorts by (disc_key, url)
        # and seq by (depth, disc_key, url), so among seeds the url
        # tie-break is the oracle's url-rank order, and child keys start
        # at DISC_STRIDE > 0 — no global numbering job. A repeated seed
        # is one frontier row.
        seeds = (
            seeds.filter(self._url_gate(F.col("url")))
            .distinct()
            .withColumn("host", url_host(F.col("url")))
        )
        if self.robots_by_host is not None:
            seeds = seeds.join(F.broadcast(self.robots_by_host), "host", "left").filter(
                ~robots_blocked(url_path(F.col("url")), F.col("prefixes"))
            )
        obs = Observation()
        frontier = _observe_urls(
            seeds.select(
                "url",
                "host",
                F.lit(0).alias("depth"),
                F.lit(0).cast("long").alias("disc_key"),
            ),
            obs,
        ).localCheckpoint(eager=True)
        # the seed frontier is also the seen set — the seed plan runs once
        return frontier, frontier, obs.get, 0, 0

    def _run_waves(
        self, frontier, seen0, seen0_stats, start_wave, seq_base
    ) -> "CrawlResult":
        import time as _time

        spark, cfg = self.spark, self.cfg
        metrics: list[dict] = []
        order_parts: list[DataFrame] = []
        # `seen` is kept as a LIST of checkpointed chunks — never copied
        # per wave (copying the full seen set every wave would be O(seen)
        # × waves; at 10^10 URLs that is the difference between a crawl
        # and a heat lamp). The anti-join probes the union of chunks, so
        # the per-wave cost scales with the CHUNK COUNT (each chunk is
        # its own exchange + stage barrier): chunks merge LSM-style —
        # adjacent chunks within 2× of each other fold together — which
        # bounds the count at O(log seen) and the total merge work at
        # O(seen·log seen) amortized, measured 3-8× faster late waves
        # than the old fixed every-N-waves full fold.
        seen_chunks: list[DataFrame] = [seen0.select("url")]
        chunk_sizes: list[int] = [int(seen0_stats["n"])]
        seen_url_bytes: int = int(seen0_stats["b"])

        # incremental filter state: blobs are built once from the initial
        # seen set with a FIXED geometry, then merged with each wave's
        # delta — per-wave filter cost is O(wave), never O(seen)
        blob_state: DataFrame | None = None
        if cfg.seen_filter:
            build_blobs, _, _ = _seen_filter_fns(cfg.seen_filter)
            blob_state = build_blobs(
                seen_chunks[0], cfg.seen_buckets, capacity=cfg.bloom_capacity
            ).localCheckpoint(eager=True)

        def seen_df() -> DataFrame:
            s = seen_chunks[0]
            for c in seen_chunks[1:]:
                s = s.unionByName(c)
            return s

        wave = start_wave
        # superseded-state tracking: the previous wave's politeness
        # checkpoint dies the moment the current one materializes (its
        # only consumers — fetch/deferred/frontier/save — have all run);
        # per-wave fetch checkpoints die at the next order-part
        # compaction. Releasing them deterministically keeps storage at
        # O(frontier + seen), not O(waves · frontier).
        # the incoming frontier checkpoint's only other consumer is wave
        # 0's politeness checkpoint — chain it into the same release
        # slot, unless it backs seen chunk 0 (the seed frontier does)
        prev_ann: DataFrame | None = None if seen0 is frontier else frontier
        order_leaves: list[DataFrame] = []
        # chunk_backing[i]: the checkpoint whose blocks back
        # seen_chunks[i] when the chunk is a projection over it (a wave's
        # `new`; for chunk 0 the seed frontier or the resumed seen
        # checkpoint; None for fold products, which own their root). A
        # folded-away projection chunk can't free its backing checkpoint
        # immediately — the next frontier may still share it — so it
        # retires one wave later, once the next politeness checkpoint
        # has consumed that frontier.
        chunk_backing: list[DataFrame | None] = [seen0]
        retire_next: list[DataFrame] = []
        # a fused ann checkpoint (politeness mark + seq in ONE job)
        # backs its wave's order part, so it retires at order compaction
        # like a fetch checkpoint — not at the next wave like a
        # mark-only checkpoint
        prev_ann_fused = False
        # fused-seq routing state: the seq plan must be chosen BEFORE
        # the mark job runs, so the router works from engine-held
        # statistics — an EXACT frontier-size bound (fetch ⊆ frontier;
        # maintained from the same Observations that feed the seen-join
        # routing) as the catastrophe cap, and last wave's measured
        # fetch size ×2 as the predictor. A misprediction only makes
        # one wave's one-task sort bigger (bounded by the frontier cap,
        # self-corrects next wave); it can never change results.
        frontier_rows = sum(chunk_sizes)
        frontier_url_bytes = seen_url_bytes
        fuse_rows_pred = frontier_rows
        fuse_bytes_pred = frontier_url_bytes
        while wave < cfg.max_waves:
            _t0 = _time.time()
            fuse = use_single_partition_seq(
                fuse_rows_pred,
                estimated_fetch_bytes(fuse_rows_pred, fuse_bytes_pred),
            ) and frontier_rows <= 16 * SMALL_SEQ_LIMIT
            # politeness: each host fetches at most B URLs per wave (O2),
            # marked by the salted two-phase window (salt_buckets > 1
            # bounds any sort group of a skewed host).
            # One checkpoint per wave bounds the logical-plan depth —
            # otherwise Catalyst re-analyzes an exponentially growing
            # tree even though the data is cached.
            marked = mark_top_k_per_key(
                frontier,
                key="host",
                order_cols=["disc_key", "url"],
                k=cfg.budget_per_host,
                salt_buckets=cfg.salt_buckets,
                salt_on="url",
                flag="_fetch",
            )
            # fused seq: number the fetch rows INSIDE the mark job — a
            # one-task window over ONLY the _fetch branch (the deferred
            # branch bypasses it; the politeness shuffle is shared by
            # both branches via ReuseExchange). One checkpoint job
            # instead of two removes a full driver job barrier + a
            # checkpoint round-trip per wave — the control-plane floor
            # that dominates small-wave runs at high parallelism.
            if fuse:
                from pyspark.sql import Window

                # LINEAR plan, no branch: fetch rows land in ONE window
                # bucket (the one-task global numbering), deferred rows
                # spread across parallel buckets whose row_numbers are
                # discarded (their per-task sorts are tiny). A branched
                # filter-union would recompute the politeness windows
                # once per branch (ReuseExchange shares only the
                # shuffle, not the window stages) — measured SLOWER
                # than the job it saves.
                _wkey = F.when(F.col("_fetch"), F.lit(-1)).otherwise(
                    url_bucket("url", spark.sparkContext.defaultParallelism * 4)
                )
                wseq = Window.partitionBy(_wkey).orderBy(
                    "depth", "disc_key", "url"
                )
                marked = marked.withColumn(
                    "seq",
                    F.when(
                        F.col("_fetch"),
                        F.row_number().over(wseq) - 1 + F.lit(seq_base),
                    ).cast("long"),
                )
            # the row count AND byte estimate the sequencing guard needs
            # ride the checkpoint job itself as an Observation — zero
            # extra jobs, zero extra scans (a separate .first() job per
            # wave was one of the four per-wave driver barriers)
            _obs = Observation()
            ann = marked.observe(
                _obs,
                F.count_if(F.col("_fetch")).alias("n"),
                F.coalesce(
                    F.sum(F.when(F.col("_fetch"), F.length("url"))), F.lit(0)
                ).alias("b"),
            ).localCheckpoint(eager=True)
            if prev_ann_fused:
                # a fused checkpoint still backs its order part — retire
                # at the next order compaction, not now
                order_leaves.append(prev_ann)
            else:
                release_df(prev_ann)
            prev_ann, prev_ann_fused = ann, fuse
            for df in retire_next:
                release_df(df)
            retire_next.clear()
            _t_mark = _time.time()
            if fuse:
                deferred = ann.filter(~F.col("_fetch")).drop("_fetch", "seq")
            else:
                deferred = ann.filter(~F.col("_fetch")).drop("_fetch")
            _stats = _obs.get
            n_fetched = int(_stats["n"])
            fetch_url_bytes = int(_stats["b"])
            fetch_bytes = estimated_fetch_bytes(n_fetched, fetch_url_bytes)
            if n_fetched == 0:
                break
            # deterministic global fetch order (O1): fused = already
            # numbered in the mark job; otherwise a single-partition
            # window is cheapest for the usual budget×hosts-sized fetch
            # set, falling back to the scalable two-phase numbering when
            # the wave is genuinely large.
            if fuse:
                seq_path = "fused_window"
                fetch = ann.filter(F.col("_fetch")).drop("_fetch")
                seq_next = seq_base + n_fetched
            elif use_single_partition_seq(n_fetched, fetch_bytes):
                from pyspark.sql import Window

                seq_path = "window"
                w = Window.orderBy("depth", "disc_key", "url")
                fetch = (
                    ann.filter(F.col("_fetch"))
                    .drop("_fetch")
                    .coalesce(1)
                    .withColumn(
                        "seq",
                        (F.row_number().over(w) - 1 + F.lit(seq_base)).cast("long"),
                    )
                )
                seq_next = seq_base + n_fetched
                fetch = fetch.localCheckpoint(eager=True)
            else:
                seq_path = "two_phase"
                fetch, seq_next = with_global_seq(
                    ann.filter(F.col("_fetch")).drop("_fetch"),
                    ["depth", "disc_key", "url"],
                    seq_base,
                    materialize=True,
                )
            _t_seq = _time.time()
            order_wave = fetch.select(
                "url", "host", "depth", "seq", F.lit(wave).alias("wave")
            )
            order_parts.append(order_wave)
            if not fuse:
                order_leaves.append(fetch)
            # engine-held stats for next wave's routing (exact deltas)
            frontier_rows = frontier_rows - n_fetched
            frontier_url_bytes = max(0, frontier_url_bytes - fetch_url_bytes)
            fuse_rows_pred = 2 * n_fetched
            fuse_bytes_pred = 2 * fetch_url_bytes

            # expansion: fetch-set × edges (S9); broadcast the small side
            expandable = fetch.filter(F.col("depth") < cfg.max_depth).select(
                F.col("url").alias("p_url"),
                F.col("depth").alias("p_depth"),
                F.col("seq").alias("p_seq"),
            )
            edges = self._expansion_edges()
            if n_fetched <= BROADCAST_FETCH_LIMIT:
                expandable = F.broadcast(expandable)
            else:
                # big wave: shuffle-hash join on co-partitioned edges —
                # no driver-serial broadcast build in the wave loop
                expandable = expandable.hint("shuffle_hash")
            cand = (
                edges.join(
                    expandable, edges.src_url == expandable.p_url
                )
                .select(
                    F.col("dst_url").alias("url"),
                    # (p_seq + 1)*DISC_STRIDE keeps child keys disjoint
                    # from the seed key 0 (seeds deferred by politeness
                    # would otherwise collide with children of early
                    # parents), so disc_key is unique among children.
                    # the < DISC_STRIDE outlink precondition is enforced
                    # here, per row, inside codegen (a branch, not a
                    # scan) — a page with ≥ DISC_STRIDE (2^22) outlinks
                    # would silently corrupt disc_key uniqueness otherwise
                    F.when(
                        F.col("link_index") < DISC_STRIDE,
                        (F.col("p_seq") + 1) * DISC_STRIDE + F.col("link_index"),
                    )
                    .otherwise(
                        F.raise_error(
                            F.concat(
                                F.lit("link_index >= DISC_STRIDE on "),
                                F.col("dst_url"),
                                F.lit(" — raise DISC_STRIDE for pages with >4M outlinks"),
                            )
                        )
                    )
                    .alias("disc_key"),
                    (F.col("p_depth") + 1).alias("depth"),
                    F.col("dst_host").alias("host"),
                )
            )
            # filters F2/F3/F4 and robots gate F11: already applied —
            # _expansion_edges gates dst edges once for the whole crawl
            # in-wave dedup: the lowest disc_key parent wins (its depth rides
            # along in the struct — disc_key is unique among children)
            cand = (
                cand.groupBy("url", "host")
                .agg(F.min(F.struct("disc_key", "depth")).alias("m"))
                .select(
                    "url",
                    "host",
                    F.col("m.depth").cast("int").alias("depth"),
                    F.col("m.disc_key").alias("disc_key"),
                )
            )
            # URL-seen D1: one exact left_anti against `seen`; with a
            # filter, only the candidates it cannot rule out take it
            seen = seen_df()
            # the seen side is a union of localCheckpointed chunks, and a
            # LogicalRDD leaf has NO usable size statistics — Catalyst
            # estimates it at schema-default width and would happily
            # BROADCAST a multi-million-row (at design scale, multi-TB)
            # seen set, building the hash relation serially on the
            # driver every wave (measured: random 40-170 s CPU-burn
            # spikes; AQE cannot fix a leaf estimate because there is no
            # shuffle stage to re-measure). The engine carries the
            # statistics Catalyst lacks (exact chunk row/byte counts via
            # per-wave Observations) and routes the join itself: a
            # genuinely small seen set broadcasts — the cheap and
            # correct local plan — while anything larger takes the
            # scale-safe shuffle-hash join (cand streams, each task
            # builds only its own seen partition).
            if seen_url_bytes > BROADCAST_SEEN_URL_BYTES:
                seen = seen.hint("shuffle_hash")
            if cfg.seen_filter:
                _, _, prefilter = _seen_filter_fns(cfg.seen_filter)
                # definitely-new ∪ (maybe-seen ⋉̸ seen): already exact
                new = prefilter(cand, seen, cfg.seen_buckets, blobs=blob_state)
            else:
                new = cand.join(seen, "url", "left_anti")
            _obs_new = Observation()
            new = _observe_urls(
                new.select("url", "host", "depth", "disc_key"), _obs_new
            ).localCheckpoint(eager=True)
            n_new = int(_obs_new.get["n"])
            seen_url_bytes += int(_obs_new.get["b"])
            frontier_rows += n_new
            frontier_url_bytes += int(_obs_new.get["b"])
            if n_new > 0:
                seen_chunks.append(new.select("url"))
                chunk_sizes.append(n_new)
                chunk_backing.append(new)
            else:
                # nothing new: the checkpoint still backs this wave's
                # frontier union, so it retires after the next
                # politeness checkpoint like a folded delta (tail waves
                # that only drain deferred URLs hit this every wave)
                retire_next.append(new)
            # size-tiered merge: fold the tail while neighbors are within
            # 2× — the big old chunks are rewritten only O(log) times
            while len(seen_chunks) > 1 and chunk_sizes[-2] < 2 * chunk_sizes[-1]:
                replaced = list(zip(seen_chunks[-2:], chunk_backing[-2:]))
                folded = (
                    seen_chunks[-2]
                    .unionByName(seen_chunks[-1])
                    .localCheckpoint(eager=True)
                )
                seen_chunks[-2:] = [folded]
                chunk_sizes[-2:] = [chunk_sizes[-2] + chunk_sizes[-1]]
                chunk_backing[-2:] = [None]
                # the fold is eager, so the replaced chunks are dead AS
                # SEEN STATE — release their blocks deterministically
                # instead of waiting for driver GC + ContextCleaner (at
                # design scale a fold transiently holding 2× the seen
                # set is a spill). Owned roots (chunk 0, fold products)
                # free now; a wave-delta chunk shares its `new`
                # checkpoint with the live frontier, so its backing
                # retires after the NEXT politeness checkpoint.
                for c, b in replaced:
                    if b is None:
                        release_df(c)
                    else:
                        retire_next.append(b)
            if cfg.seen_filter:
                build_blobs, merge_blobs, _ = _seen_filter_fns(cfg.seen_filter)
                delta = build_blobs(
                    new.select("url"), cfg.seen_buckets, capacity=cfg.bloom_capacity
                )
                prev_blobs = blob_state
                blob_state = merge_blobs(blob_state, delta).localCheckpoint(
                    eager=True
                )
                # the superseded blob checkpoint has no consumers once
                # the merged state is eagerly materialized (this wave's
                # prefilter already ran inside the `new` checkpoint) —
                # release it like every other superseded wave cache
                # instead of accreting one blob checkpoint per wave
                release_df(prev_blobs)
            frontier = deferred.unionByName(new)

            if cfg.state_dir:
                # only a fresh crawl runs wave 0, and its seen delta
                # also carries the seeds (seen0 is the seed frontier)
                self._save_wave(
                    wave,
                    new if wave else seen0.unionByName(new),
                    order_wave,
                    {"seq_next": seq_next, "wave": wave},
                )
            _t_end = _time.time()
            metrics.append(
                {
                    "wave": wave,
                    "fetched": n_fetched,
                    "new_urls": n_new,
                    "seen_chunks": len(seen_chunks),
                    "fetch_bytes_est": fetch_bytes,
                    "seq_path": seq_path,
                    "seq_next": seq_next,
                    "wave_secs": round(_t_end - _t0, 3),
                    "mark_secs": round(_t_mark - _t0, 3),
                    "seq_secs": round(_t_seq - _t_mark, 3),
                    "expand_secs": round(_t_end - _t_seq, 3),
                }
            )
            _log.info("wave %d %s", wave, metrics[-1])
            seq_base = seq_next
            wave += 1
            # periodic compaction of the order-part list (one leaf per
            # wave); the seen chunks self-compact via the size-tiered
            # merge above
            if wave % CHECKPOINT_EVERY == 0:
                if order_parts:
                    old_parts = order_parts
                    merged = order_parts[0]
                    for part in order_parts[1:]:
                        merged = merged.unionByName(part)
                    order_parts = [merged.localCheckpoint(eager=True)]
                    # the compacted checkpoint supersedes the per-wave
                    # fetch checkpoints and any prior compaction root
                    for df in order_leaves:
                        release_df(df)
                    order_leaves.clear()
                    for df in old_parts:
                        release_df(df)

        # the last politeness checkpoint (and any still-pending retired
        # wave checkpoint) has no consumers after the loop — every
        # wave's fetch/deferred/save actions already ran. A FUSED last
        # checkpoint still backs its order part, so it retires with the
        # result instead.
        if prev_ann_fused:
            order_leaves.append(prev_ann)
        else:
            release_df(prev_ann)
        for df in retire_next:
            release_df(df)
        order = order_parts[0] if order_parts else self.spark.createDataFrame(
            [], "url string, host string, depth int, seq long, wave int"
        )
        for part in order_parts[1:]:
            order = order.unionByName(part)
        result_caches = [
            (c if b is None else b) for c, b in zip(seen_chunks, chunk_backing)
        ] + order_leaves + order_parts
        if blob_state is not None:
            # the final filter-blob checkpoint retires with the result
            result_caches.append(blob_state)
        return CrawlResult(
            order=order,
            seen=seen_df(),
            waves=wave - start_wave,
            fetched=seq_base,
            metrics=metrics,
            _caches=result_caches,
        )
