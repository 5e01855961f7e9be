"""Scalable global ordering primitives.

`Window.orderBy` with no partition key funnels the whole DataFrame
through ONE task — unusable at 10^10-URL scale. `with_global_seq`
implements the standard two-phase pattern instead:

  1. range-repartition on the sort key (cluster-wide ordered partitions),
  2. collect the tiny per-partition row counts to the driver,
  3. per-partition `row_number` + broadcast prefix offsets.

Cost: one range shuffle + one O(num_partitions) collect. The result is
identical to a global `row_number` but every heavy step is distributed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def with_global_seq(
    df: DataFrame,
    order_cols: list[str],
    offset: int = 0,
    out: str = "seq",
    num_partitions: int | None = None,
    materialize: bool = False,
    caches: list[DataFrame] | None = None,
) -> tuple[DataFrame, int]:
    """Attach a dense global sequence number by `order_cols`.

    Returns (df_with_seq, next_offset). The input ordering key must be
    unique per row for a deterministic result. With materialize=True the
    result is localCheckpoint'ed and the internal cache released —
    callers in iterative loops should use this or the per-iteration
    caches pile up in storage memory.

    With materialize=False the internal range-partitioned cache MUST
    stay alive while the result is consumed (repartitionByRange samples
    its boundaries — a recompute would renumber rows), so it cannot be
    released here. Pass `caches`: the persisted intermediate is
    appended to it, and the caller releases it (cacheutil.release_df)
    once the result has been materialized downstream. Without `caches`
    the intermediate lives until context cleanup — fine for one-shot
    jobs, a storage leak in loops.
    """
    spark = df.sparkSession
    nparts = num_partitions or spark.sparkContext.defaultParallelism
    d = df.repartitionByRange(nparts, *order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    d = d.persist()
    counts = dict(
        d.groupBy("_pid").agg(F.count(F.lit(1)).alias("c")).collect()
    )
    if not counts:
        # nothing to number: an empty local relation needs no cache
        d.unpersist()
        schema = d.drop("_pid").withColumn(out, F.lit(0).cast("long")).schema
        return spark.createDataFrame([], schema), offset
    if not materialize and caches is not None:
        caches.append(d)
    acc = offset
    cum: dict[int, int] = {}
    for pid in sorted(counts):
        cum[pid] = acc
        acc += counts[pid]
    mapping = F.create_map(
        *[F.lit(x) for kv in cum.items() for x in kv]
    )
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    res = d.withColumn(
        out,
        (mapping[F.col("_pid")] + F.row_number().over(w) - 1).cast("long"),
    ).drop("_pid")
    if materialize:
        res = res.localCheckpoint(eager=True)
        d.unpersist()
    return res, acc


def mark_top_k_per_key(
    df: DataFrame,
    key: str,
    order_cols: list[str],
    k: int,
    salt_buckets: int = 1,
    salt_on: str | None = None,
    flag: str = "_topk",
) -> DataFrame:
    """Annotate each row with a boolean `flag`: is it in its key's top-k
    by `order_cols`? Returned as ONE DataFrame so callers can checkpoint
    a single plan and split with cheap filters.

    salt_buckets == 1: one `row_number` window — one shuffle.

    salt_buckets > 1 (skew-safe): a plain per-key window sorts the whole
    group in one task; with 40% of the frontier on one host (deliberate
    world skew) that task dominates the wave. Phase 1 takes local top-k
    inside (key, salt) sub-groups — bounding any task at
    ~|group|/salt_buckets rows; phase 2 ranks only the ≤ k·salt_buckets
    survivors per key. Phase-1 losers are provably outside the true
    top-k, so they are flagged false directly.
    """
    if salt_buckets <= 1:
        w = Window.partitionBy(key).orderBy(*order_cols)
        return df.withColumn(
            flag, F.row_number().over(w) <= k
        )
    salt_src = F.col(salt_on if salt_on is not None else order_cols[-1])
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(salt_src), F.lit(salt_buckets))
    )
    w1 = Window.partitionBy(key, "_salt").orderBy(*order_cols)
    p1 = salted.withColumn("_rn1", F.row_number().over(w1))
    # phase 2 ranks ONLY the ≤ k·salt_buckets survivors per key (the
    # whole point — never sort a full skewed group in one task)
    survivors = p1.filter(F.col("_rn1") <= k)
    losers = p1.filter(F.col("_rn1") > k).withColumn(flag, F.lit(False))
    w2 = Window.partitionBy(key).orderBy(*order_cols)
    ranked = survivors.withColumn(
        flag, F.row_number().over(w2) <= k
    )
    return ranked.unionByName(losers).drop("_salt", "_rn1")


def top_k_per_key(
    df: DataFrame,
    key: str,
    order_cols: list[str],
    k: int,
    salt_buckets: int = 1,
    salt_on: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(top-k rows, remainder rows) per key — see mark_top_k_per_key."""
    marked = mark_top_k_per_key(df, key, order_cols, k, salt_buckets, salt_on)
    return (
        marked.filter(F.col("_topk")).drop("_topk"),
        marked.filter(~F.col("_topk")).drop("_topk"),
    )


def allocate_budget(
    scores: DataFrame,
    total_budget: int,
    key: str = "host",
    score: str = "score",
    out: str = "budget",
) -> DataFrame:
    """Apportion an integer crawl budget across hosts proportional to an
    integer score — the scheduler step that turns per-host authority /
    quality signals into per-host fetch quotas (reference analogue: the
    static per-site url limits in config; this is the dynamic,
    score-driven version a 10^10-URL frontier runs per cycle).

    Largest-remainder method (Hamilton apportionment), exact integers:

        base_h = floor(B * s_h / S),  rem_h = (B * s_h) mod S
        leftover = B - sum(base_h)  extra +1s go to the `leftover`
        hosts with the largest rem_h (key ASC tie-break).

    Guarantees: sum(budget) == B exactly, each quota within 1 of the
    real-valued proportion, deterministic. Hosts with score <= 0 get 0
    and never receive a remainder seat.

    Scale shape: the input is PER-HOST aggregates (one row per host,
    ~10^8 rows worst case), not per-URL data. S and sum(base) are 1-row
    aggregates broadcast back via crossJoin (never collected per-row);
    the only ordering is a row_number over hosts BY remainder, which at
    10^8 host rows still fits the two-phase global-seq pattern — wired
    through `with_global_seq` here precisely so no single task ever
    sorts all hosts.  Overflow: B * s_h must fit a signed long
    (B ~ 10^9 x byte-scores ~ 10^9 overflows — pre-scale scores; the
    operator asserts nothing and documents the contract instead because
    a runtime max() pass would double the aggregate count).
    """
    pos = scores.select(
        F.col(key).alias(key), F.col(score).cast("long").alias("_s")
    ).withColumn("_s", F.when(F.col("_s") > 0, F.col("_s")).otherwise(F.lit(0)))
    tot = pos.agg(F.sum("_s").alias("_tot"))
    j = pos.crossJoin(F.broadcast(tot)).withColumn(
        "_num", F.lit(total_budget).cast("long") * F.col("_s")
    )
    quo = j.select(
        key,
        # integer `div`, NOT `/`: double division rounds past 2^53 and
        # the exact-sum guarantee dies with it
        F.when(F.col("_tot") > 0, F.expr("_num div _tot"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("_base"),
        F.when(F.col("_tot") > 0, F.col("_num") % F.col("_tot"))
        .otherwise(F.lit(0))
        .alias("_rem"),
        (F.col("_s") > 0).alias("_eligible"),
    )
    leftover = quo.agg(
        (F.lit(total_budget) - F.coalesce(F.sum("_base"), F.lit(0))).alias("_left")
    )
    # rank eligible hosts by remainder DESC (key ASC tie-break) without a
    # single-task global window: two-phase seq over (-rem, key)
    elig = quo.filter(F.col("_eligible")).withColumn(
        "_negrem", -F.col("_rem")
    )
    ranked, _ = with_global_seq(
        elig, order_cols=["_negrem", key], out="_rk", materialize=True
    )
    ranked = ranked.crossJoin(F.broadcast(leftover)).select(
        key,
        (F.col("_base") + F.when(F.col("_rk") < F.col("_left"), 1).otherwise(0))
        .cast("long")
        .alias(out),
    )
    zeros = quo.filter(~F.col("_eligible")).select(
        key, F.lit(0).cast("long").alias(out)
    )
    return ranked.unionByName(zeros)


def host_shards(
    hosts: DataFrame,
    n_shards: int,
    key: str = "host",
    weight: str = "n_urls",
) -> DataFrame:
    """Assign hosts to ``n_shards`` crawler shards, balancing load by
    weight — the placement step between the frontier's per-host queues
    and the executors that drain them (politeness pins a host to one
    worker, so host→shard assignment IS the crawl's load balance; a
    hash assignment strands the www.-sized head domains together).

    Serpentine (boustrophedon) assignment over the weight ranking:
    rank hosts by (weight DESC, host ASC), then walk the shards
    0..K-1, K-1..0, 0..K-1, ... — each pass hands every shard exactly
    one host, and the direction flip pairs a heavy pick in one pass
    with a light pick in the next (the standard snake draft argument),
    so shard loads stay within one pass-spread of each other without
    any sequential greedy state.  Deterministic: a pure function of
    the (weight, host) ranking.

    Scale shape: input is PER-HOST aggregates (~10^8 rows worst case).
    The ranking is `with_global_seq` — range shuffle + per-partition
    row_number + broadcast offsets — so no single task ever sorts all
    hosts; the shard arithmetic is map-side integer DIV/MOD on the
    seq.  Returns (key, weight, shard)."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    base = hosts.select(
        F.col(key),
        F.col(weight).cast("long").alias(weight),
        (-F.col(weight).cast("long")).alias("_negw"),
    )
    ranked, _ = with_global_seq(
        base, order_cols=["_negw", key], out="_rk", materialize=True
    )
    k = int(n_shards)
    return ranked.select(
        key,
        weight,
        # integer DIV, not float /: rank arithmetic must stay exact
        F.when(F.expr(f"(_rk div {k}) % 2") == 0, F.col("_rk") % k)
        .otherwise(k - 1 - F.col("_rk") % k)
        .cast("long")
        .alias("shard"),
    )


def hrw_shard(key: Column, n_shards: int) -> Column:
    """Rendezvous (highest-random-weight) shard id for ``key`` as one
    map-side Column — no join, no shuffle, no state table.

    score(key, s) = first 8 md5 hex chars of ``key#s`` as an int64;
    the shard is the argmax over s in [0, n_shards) (ties, which md5
    makes astronomically rare, break toward the smaller s via
    array_position's first-match rule).  md5 keeps the placement
    engine-portable, so the DuckDB oracle re-derives identical shards.

    Why HRW beside the snake-draft `host_shards`: the snake placement
    re-ranks EVERY host when the weight census changes, so a shard
    resize reassigns nearly all hosts (each reassignment strands that
    host's politeness clock and per-host queue on the old worker).
    HRW's argmax-over-supersets property means growing K→K+1 moves
    exactly the hosts whose new-shard score wins — E[1/(K+1)] of them
    — and every mover lands on the NEW shard; shrinking only
    redistributes the removed shard's hosts.  That is the property a
    10^10-URL frontier needs to resize its crawler fleet without a
    global re-shuffle of politeness state.

    Cost: n_shards md5 evaluations per row, inside the scan stage
    (n_shards is fleet-sized — tens to thousands — and the transform
    lambda touches only its own element, so there is no
    interpreted-HOF re-evaluation blowup)."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    scores = F.transform(
        F.sequence(F.lit(0), F.lit(int(n_shards) - 1)),
        lambda s: F.conv(
            F.substring(
                F.md5(F.concat(key, F.lit("#"), s.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long"),
    )
    return (F.array_position(scores, F.array_max(scores)) - 1).cast("long")


def rendezvous_shards(
    hosts: DataFrame,
    n_shards: int,
    key: str = "host",
    out: str = "shard",
) -> DataFrame:
    """DataFrame wrapper over `hrw_shard`: input columns pass through
    plus an ``out`` int64 shard column.  Zero shuffle — placement is a
    pure function of the key, computed inside whatever stage reads
    ``hosts``."""
    return hosts.withColumn(out, hrw_shard(F.col(key), n_shards))


def fetch_timetable(
    urls: DataFrame,
    delays: DataFrame | None = None,
    *,
    default_delay_s: int = 1,
    start_epoch: int = 0,
    host_col: str = "host",
    order_cols: tuple[str, ...] = ("priority", "url"),
) -> DataFrame:
    """Turn an admitted URL set + per-host Crawl-delay directives into a
    deterministic fetch timetable: within each host URLs are fetched one
    at a time, ``delay`` seconds apart, starting at ``start_epoch`` —
    the step between politeness ADMISSION (which URLs this cycle) and
    politeness TIMING (when each fetch may fire).  Reference analogue:
    scrapy's per-domain DOWNLOAD_DELAY honored by news-please's crawler
    tier; delays come from `sources/robots.crawl_delay_of`.

        slot        = rank of the URL within its host (0-based, ordered
                      by ``order_cols`` — e.g. (priority, url))
        fetch_epoch = start_epoch + slot * delay_host          (seconds)

    with delay_host = max(crawl_delay_s, 0) where the host declares one,
    else ``default_delay_s``.  All arithmetic is integer (BIGINT slots,
    seconds) so the timetable is bit-identical across engines and
    partitionings.

    Scale shape: ONE data shuffle — the delays join keys on host
    (per-HOST grain, ~10^8 rows worst case, left unhinted so AQE routes
    broadcast-vs-shuffle from measured sizes) and the slot window
    partitions by the same key, so Catalyst reuses the join's hash
    partitioning for the window.  The per-host window partition is NOT
    a skew hazard by contract: callers admit per cycle through the
    politeness caps (`mark_top_k_per_key` / `allocate_budget`), which
    bound rows-per-host to the cycle budget — and a single host's
    timeline is inherently sequential (slot i+1 waits on slot i), so
    per-host-partition work IS the semantics, not an implementation
    accident.

    Returns ``urls``'s columns + (slot:long, fetch_epoch:long)."""
    d = (
        delays.select(
            F.col(host_col),
            F.greatest(F.col("crawl_delay_s").cast("long"), F.lit(0)).alias(
                "_delay"
            ),
        )
        if delays is not None
        else None
    )
    j = urls if d is None else urls.join(d, on=host_col, how="left")
    delay = (
        F.coalesce(F.col("_delay"), F.lit(int(default_delay_s)).cast("long"))
        if d is not None
        else F.lit(int(default_delay_s)).cast("long")
    )
    w = Window.partitionBy(host_col).orderBy(
        *[F.col(c) for c in order_cols]
    )
    res = j.select(
        *[F.col(c) for c in urls.columns],
        (F.row_number().over(w) - 1).cast("long").alias("slot"),
        delay.alias("_d"),
    )
    return res.select(
        *urls.columns,
        "slot",
        (F.lit(int(start_epoch)).cast("long") + F.col("slot") * F.col("_d"))
        .cast("long")
        .alias("fetch_epoch"),
    )


def autothrottle_update(
    metrics: DataFrame,
    prev: DataFrame | None = None,
    *,
    target_concurrency: int = 2,
    start_delay_ms: int = 1000,
    min_delay_ms: int = 100,
    max_delay_ms: int = 60000,
    host_col: str = "host",
    latency_col: str = "latency_ms",
    ok_col: str = "ok",
) -> DataFrame:
    """Per-host adaptive politeness delay — scrapy's AutoThrottle
    algorithm (the mechanism news-please actually rate-limits with:
    config.cfg sets AUTOTHROTTLE_*, the reference delegates to scrapy)
    re-expressed at cycle grain over a wave's fetch metrics:

        avg_ok      = mean latency of this cycle's OK responses
        target      = avg_ok DIV target_concurrency
        cand        = (prev_delay + target) DIV 2      (EWMA toward target)
        new         = max(cand, prev_delay)  if any non-OK response
                      (errors never DECREASE a delay — scrapy's rule)
                      cand                   otherwise
                      prev_delay             if no OK response at all
        new_delay   = clamp(new, min_delay_ms, max_delay_ms)

    Hosts present in ``prev`` but silent this cycle keep their previous
    delay (clamped); hosts never seen before start from
    ``start_delay_ms``.  All arithmetic BIGINT milliseconds (integer
    DIV) so the delay table is bit-identical across engines and
    partitionings — it feeds `fetch_timetable` as the next cycle's
    delays side.

    Scale shape: one map-side-combinable aggregation to host grain
    (only (host, sums) cross the shuffle), then one per-HOST full-outer
    equi-join against the previous delay table — both sides host-grain
    (~10^8 rows worst case), left unhinted so AQE routes the join.
    Returns (host, n_ok, n_bad, avg_ok_ms, new_delay_ms)."""
    okc = F.col(ok_col).cast("boolean")
    lat = F.col(latency_col).cast("long")
    agg = metrics.groupBy(host_col).agg(
        F.sum(F.when(okc, 1).otherwise(0)).cast("long").alias("n_ok"),
        F.sum(F.when(~okc, 1).otherwise(0)).cast("long").alias("n_bad"),
        F.sum(F.when(okc, lat).otherwise(0)).cast("long").alias("_lat_sum"),
    )
    p = (
        prev.select(
            F.col(host_col), F.col("delay_ms").cast("long").alias("_prev")
        )
        if prev is not None
        else None
    )
    j = agg if p is None else agg.join(p, on=host_col, how="full_outer")
    start = F.lit(int(start_delay_ms)).cast("long")
    prev_d = F.coalesce(F.col("_prev"), start) if p is not None else start
    n_ok = F.coalesce(F.col("n_ok"), F.lit(0)).cast("long")
    n_bad = F.coalesce(F.col("n_bad"), F.lit(0)).cast("long")
    avg_ok = F.when(n_ok > 0, F.expr("_lat_sum div n_ok")).cast("long")
    c = int(target_concurrency)
    j = j.withColumn("_prev_d", prev_d).withColumn("_avg", avg_ok)
    # integer DIV end-to-end: (prev + avg/C) / 2 must not round engine-
    # dependently, so both divisions are BIGINT `div`
    cand = F.expr(f"(_prev_d + (_avg div {c})) div 2")
    new0 = (
        F.when(n_ok == 0, F.col("_prev_d"))
        .when(n_bad > 0, F.greatest(cand, F.col("_prev_d")))
        .otherwise(cand)
    )
    clamped = F.least(
        F.greatest(new0, F.lit(int(min_delay_ms)).cast("long")),
        F.lit(int(max_delay_ms)).cast("long"),
    )
    return j.select(
        F.col(host_col),
        n_ok.alias("n_ok"),
        n_bad.alias("n_bad"),
        F.col("_avg").alias("avg_ok_ms"),
        clamped.cast("long").alias("new_delay_ms"),
    )


def epoch_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: str = "epoch0",
    out: str = "epoch_pos",
) -> DataFrame:
    """Deterministic epoch-shuffle ordering — the materialized training
    schedule a data loader consumes. Sorting the corpus by
    md5(seed|id) is a reproducible full shuffle: every source's docs
    are uniform over the hash space, so ANY contiguous reader window
    sees sources in mixture proportion (no source clumping, the
    property that makes per-shard sequential reads unbiased), and a
    new seed string re-deals the next epoch without RNG state.

    The global position is attached with the two-phase with_global_seq
    (range shuffle + per-partition row_number + broadcast offsets) —
    NOT a single-task global window — so the plan survives 10^10 docs.
    Output: input columns + epoch_pos (dense, 0-based)."""
    keyed = df.withColumn(
        "_h", F.md5(F.concat(F.lit(seed + "|"), F.col(id_col).cast("string")))
    )
    res, _ = with_global_seq(keyed, ["_h", id_col], out=out)
    return res.drop("_h")


def admit_by_byte_budget(
    candidates: DataFrame,
    budget_bytes: int,
    key: str = "host",
    bytes_col: str = "est_bytes",
    order_cols: Sequence[str] = ("prio", "media_ref"),
) -> DataFrame:
    """Admit fetches per key while the running BYTE total stays within
    budget — the media-tier politeness gate. Request-count caps
    (mark_top_k_per_key / ip_pooled_admission) are the right unit for
    HTML, but interleaved documents carry media spans whose costs vary
    by 10^3-10^6x: k images vs k videos are not the same load on a
    host. The byte budget is the unit hosts actually feel.

    Greedy-prefix semantics (the deterministic, order-respecting rule):
    walk the key's candidates in `order_cols` order and admit while the
    cumulative `bytes_col` (including the current row) <= budget_bytes.
    A single over-budget row is skipped AND blocks everything after it
    — no re-packing, so the admitted set is a strict priority prefix
    and two engines can replay it bit-for-bit from the same ordering.
    (Best-fit re-packing is compaction_plan's job, offline; admission
    must stay order-stable or priority inversion leaks in.)

    Output: candidates + cum_bytes (BIGINT, inclusive running sum) +
    is_admitted (0/1). One exchange on `key`; the prefix sum is a
    per-key window — inherently sequential per key, bounded by the
    per-wave candidate cell exactly like the politeness window, and at
    10^10-URL scale the wave planner already bounds that cell.
    """
    if budget_bytes < 0:
        raise ValueError("budget_bytes must be >= 0")
    w = (
        Window.partitionBy(key)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(bytes_col).cast("long")).over(w)
    return candidates.withColumn("cum_bytes", cum.cast("long")).withColumn(
        "is_admitted",
        (F.col("cum_bytes") <= budget_bytes).cast("long"),
    )


def with_group_seq(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    out: str = "gseq",
    num_partitions: int | None = None,
) -> DataFrame:
    """Attach a dense 0-based sequence number PER GROUP by `order_cols`
    — with_global_seq's per-group twin, built the same scale-safe way.

    A plain `row_number() OVER (PARTITION BY group)` sorts each whole
    group in ONE task — a non-starter when a single group holds 10^9
    rows (one corpus source, one fat host). Here the input is
    range-partitioned by (group, *order_cols), so every partition holds
    a CONTIGUOUS key range: a group either sits entirely inside one
    partition (its per-partition-slice rank IS its group rank, offset
    0) or it is one of the <= nparts-1 groups straddling a partition
    boundary. Only the straddlers need cross-partition offsets, so the
    driver collects per-partition (min, max) group (nparts rows),
    derives the straddler set, and collects per-(partition, straddler)
    counts (< nparts^2 rows) — NEVER a row per distinct group. Group
    cardinality is therefore unbounded: 10^8 hosts cost the same
    driver state as 10 sources. Ordering keys must be unique within
    their group."""
    spark = df.sparkSession
    nparts = num_partitions or spark.sparkContext.defaultParallelism
    d = df.repartitionByRange(nparts, group_col, *order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    d = d.persist()
    bounds = d.groupBy("_pid").agg(
        F.min(group_col).alias("_lo"), F.max(group_col).alias("_hi")
    ).collect()
    bounds.sort(key=lambda r: r["_pid"])
    # a group straddles iff it appears in more than one partition; with
    # contiguous ranges that means: some partition's _hi equals a later
    # partition's _lo
    seen: dict[str, int] = {}
    straddlers: set[str] = set()
    for r in bounds:
        for g in (r["_lo"], r["_hi"]):
            if g in seen and seen[g] != r["_pid"]:
                straddlers.add(g)
            seen[g] = r["_pid"]
    w = Window.partitionBy("_pid", group_col).orderBy(*order_cols)
    rank = F.row_number().over(w) - 1
    if not straddlers:
        return d.withColumn(out, rank.cast("long")).drop("_pid")
    counts = (
        d.filter(F.col(group_col).isin(*straddlers))
        .groupBy("_pid", group_col)
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    acc: dict[str, int] = {}
    cum: dict[tuple[int, str], int] = {}
    for row in sorted(counts, key=lambda r: (str(r[group_col]), r["_pid"])):
        g = row[group_col]
        cum[(row["_pid"], g)] = acc.get(g, 0)
        acc[g] = acc.get(g, 0) + row["c"]
    mapping = F.create_map(
        *[
            x
            for (pid, g), off in cum.items()
            for x in (
                F.concat_ws("|", F.lit(str(pid)), F.lit(g)),
                F.lit(off),
            )
        ]
    )
    offset = F.coalesce(
        mapping[F.concat_ws("|", F.col("_pid").cast("string"), F.col(group_col))],
        F.lit(0),
    )
    return d.withColumn(out, (offset + rank).cast("long")).drop("_pid")


def drain_plan(
    frontier_counts: DataFrame,
    budget_per_wave: int,
    host_col: str = "host",
    count_col: str = "n_urls",
    delay_us_col: str | None = None,
) -> DataFrame:
    """Politeness-constrained drain plan: given per-host frontier
    counts and the per-wave admission budget (the same cap
    mark_top_k_per_key enforces), how many waves each host needs and
    when it finishes — the capacity-planning view that names the TAIL
    hosts bounding crawl completion (a scheduler reacts by sharding
    the host across IPs — ip_pooled_admission — or shedding its tail
    via quality_topfrac, BEFORE burning the cluster on a crawl whose
    makespan one host dictates).

        waves     = ceil(n_urls / budget)            (integer)
        finish_us = waves * delay_us                 (per-host delay)
        critical  = finish_us == max over all hosts

    Scale shape: pure map-side arithmetic on the (already aggregated)
    per-host table plus ONE single-row global max — computed as an
    aggregate broadcast back, never a window over all hosts.  Skew-
    free by construction: input is one row per host."""
    if budget_per_wave <= 0:
        raise ValueError("budget_per_wave must be positive")
    delay = (
        F.col(delay_us_col).cast("long")
        if delay_us_col is not None
        else F.lit(1_000_000).cast("long")
    )
    plan = frontier_counts.select(
        F.col(host_col).alias("host"),
        F.col(count_col).cast("long").alias("n_urls"),
        F.expr(
            f"({count_col} + {budget_per_wave} - 1) div {budget_per_wave}"
        ).cast("long").alias("waves"),
        delay.alias("_delay_us"),
    ).withColumn("finish_us", F.col("waves") * F.col("_delay_us"))
    mx = plan.groupBy().agg(F.max("finish_us").alias("_mx"))
    return (
        plan.join(F.broadcast(mx))
        .select(
            "host",
            "n_urls",
            "waves",
            "finish_us",
            (F.col("finish_us") == F.col("_mx")).alias("critical"),
        )
    )
