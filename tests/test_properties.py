"""Property-based invariants (hypothesis, derandomized) for the
operators whose correctness is an algebraic law rather than a fixture:
packing conserves and tiles tokens, as-of equals the quadratic oracle,
range join equals the quadratic oracle, dataset_split partitions."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

SET = settings(derandomize=True, max_examples=10, deadline=None)


docs_strategy = st.lists(
    st.tuples(st.integers(0, 10**6), st.integers(1, 40)),
    min_size=1,
    max_size=30,
    unique_by=lambda t: t[0],
)


@given(docs=docs_strategy, seq_len=st.sampled_from([1, 5, 16]))
@SET
def test_pack_conserves_and_tiles(spark, docs, seq_len):
    from news_please_spark.operators.sampling import pack_sequences

    rows = [(d, " ".join("w" for _ in range(n))) for d, n in docs]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = pack_sequences(df, seq_len=seq_len, packer_hex=1).collect()
    # conservation: every doc's spans sum to its token count, offsets walk
    per_doc = {}
    for r in out:
        per_doc.setdefault(r.doc_id, []).append(r)
    assert set(per_doc) == {d for d, _ in docs}
    want_n = dict(docs)
    for d, rs in per_doc.items():
        rs.sort(key=lambda r: r.doc_off)
        assert rs[0].doc_off == 0
        walked = 0
        for r in rs:
            assert r.doc_off == walked and 0 <= r.tok_start < r.tok_end <= seq_len
            walked += r.tok_end - r.tok_start
        assert walked == want_n[d]
    # tiling: spans in one (packer, chunk) abut starting at 0
    by_chunk = {}
    for r in out:
        by_chunk.setdefault((r.packer, r.chunk), []).append((r.tok_start, r.tok_end))
    for spans in by_chunk.values():
        spans.sort()
        assert spans[0][0] == 0
        assert all(p[1] == q[0] for p, q in zip(spans, spans[1:]))


pairs_strategy = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 30), st.integers(0, 10**4)),
    min_size=0,
    max_size=25,
)


@given(left=pairs_strategy, right=pairs_strategy)
@SET
def test_asof_equals_quadratic_oracle(spark, left, right):
    from news_please_spark.operators.joins import asof_join

    # dedup right per (k, ts): operator contract
    rmap = {}
    for k, ts, rid in right:
        rmap[(k, ts)] = max(rmap.get((k, ts), -1), rid)
    rr = [(k, ts, rid) for (k, ts), rid in sorted(rmap.items())]
    ll = [(k, ts, 10**6 + i) for i, (k, ts, _) in enumerate(left)]
    if not ll:
        return
    l = spark.createDataFrame(ll, "k long, ts long, lid long")
    if rr:
        r = spark.createDataFrame(rr, "k long, ts long, rid long")
    else:
        r = spark.createDataFrame([], "k long, ts long, rid long")
    got = sorted(
        (x.lid, x.rid) for x in asof_join(l, r, "k", "k", "ts", "ts", ["rid"]).collect()
    )
    want = []
    for k, ts, lid in ll:
        best = None
        for rk, rts, rid in rr:
            if rk == k and rts <= ts and (best is None or rts > best[0]):
                best = (rts, rid)
        want.append((lid, best[1] if best else None))
    assert got == sorted(want)


@given(
    ids=st.lists(st.integers(0, 10**9), min_size=1, max_size=200, unique=True),
    cut1=st.integers(1, 98),
    cut2=st.integers(1, 98),
)
@SET
def test_dataset_split_is_a_partition(spark, ids, cut1, cut2):
    from news_please_spark.operators.sampling import dataset_split

    lo, hi = sorted([cut1, cut2])
    if lo == hi:
        hi = lo + 1
    fr = {"a": lo / 100, "b": (hi - lo) / 100, "c": 1 - hi / 100}
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = dataset_split(df, fr).collect()
    assert len(out) == len(ids)                      # no row lost or duplicated
    assert {r.doc_id for r in out} == set(ids)
    assert all(r.split in ("a", "b", "c") for r in out)


def test_all_new_operators_handle_empty_inputs(spark):
    """Every round-5 operator must return a clean empty result on empty
    input — the sf0.001 gate and real pipelines both hit empty stages."""
    from news_please_spark.operators.dedup import semantic_dedup
    from news_please_spark.operators.graph import connected_components
    from news_please_spark.operators.joins import asof_join, range_join
    from news_please_spark.operators.sampling import dataset_split, pack_sequences
    from news_please_spark.operators.stats import group_quantiles
    from news_please_spark.operators.terms import tfidf_top_terms

    docs = spark.createDataFrame([], "doc_id long, text string")
    assert pack_sequences(docs, 16).count() == 0
    assert dataset_split(docs, {"a": 0.5, "b": 0.5}).count() == 0
    assert tfidf_top_terms(docs).count() == 0
    assert group_quantiles(
        spark.createDataFrame([], "g string, v long"), "g", "v", [50]
    ).count() == 0
    assert connected_components(
        spark.createDataFrame([], "doc_a long, doc_b long")
    ).count() == 0
    assert asof_join(
        spark.createDataFrame([], "k long, ts long, lid long"),
        spark.createDataFrame([], "k long, ts long, rid long"),
        "k", "k", "ts", "ts", ["rid"],
    ).count() == 0
    assert range_join(
        spark.createDataFrame([], "k long, iid long, s long, e long"),
        spark.createDataFrame([], "pk long, pid long, t long"),
        "k", "pk", "s", "e", "t", F.lit(10),
    ).count() == 0
    assert semantic_dedup(
        spark.createDataFrame([], "vec_id long, embedding array<double>")
    ).count() == 0


def test_all_session2_operators_handle_empty_inputs(spark):
    """Same empty-input gate for the second-session operators."""
    from news_please_spark.operators.dedup import (
        lsh_index_of,
        near_dup_candidates_against_index,
    )
    from news_please_spark.operators.graph import pagerank, pagerank_scaled
    from news_please_spark.operators.ordering import allocate_budget
    from news_please_spark.operators.recrawl import recrawl_schedule
    from news_please_spark.operators.sketch import cms_counters, cms_estimate

    empty_edges = spark.createDataFrame([], "src long, dst long")
    empty_nodes = spark.createDataFrame([], "id long")
    assert pagerank_scaled(empty_edges, empty_nodes, out_degree=3).count() == 0
    assert pagerank(empty_edges, empty_nodes, iters=2).count() == 0
    assert (
        allocate_budget(
            spark.createDataFrame([], "host string, score long"), 100
        ).count()
        == 0
    )
    assert (
        recrawl_schedule(
            spark.createDataFrame(
                [], "url string, fetch_ts timestamp, content_hash string"
            )
        ).count()
        == 0
    )
    empty_toks = spark.createDataFrame([], "token string")
    counters = cms_counters(empty_toks)
    assert counters.count() == 0
    # estimating against an empty sketch: every count is 0
    q = spark.createDataFrame([("x",)], "token string")
    est = cms_estimate(q, counters).collect()
    assert [(r.token, r.est) for r in est] == [("x", 0)]
    empty_sigs = lsh_index_of(
        spark.createDataFrame([], "doc_id long, _sh array<string>")
    )
    assert near_dup_candidates_against_index(empty_sigs, empty_sigs).count() == 0


@given(
    scores=st.lists(
        st.tuples(st.integers(0, 25), st.integers(-5, 10**6)),
        min_size=1,
        max_size=25,
        unique_by=lambda t: t[0],
    ),
    budget=st.sampled_from([1, 7, 1000]),
)
@SET
def test_allocate_budget_invariants(spark, scores, budget):
    from news_please_spark.operators.ordering import allocate_budget

    rows = [(f"h{i}", s) for i, s in scores]
    df = spark.createDataFrame(rows, "host string, score long")
    got = {r.host: r.budget for r in allocate_budget(df, budget).collect()}
    total = sum(max(0, s) for _, s in rows)
    assert set(got) == {h for h, _ in rows}
    if total == 0:
        assert all(v == 0 for v in got.values())
        return
    assert sum(got.values()) == budget  # exact apportionment
    for h, s in rows:
        exact = budget * max(0, s) / total
        assert abs(got[h] - exact) <= 1  # within-1-of-proportion
        if s <= 0:
            assert got[h] == 0


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 10**6), st.integers(-5, 10**6)),
        min_size=0,
        max_size=60,
        unique_by=lambda t: t[0],
    ),
    k=st.sampled_from([1, 3, 10]),
)
@SET
def test_priority_sample_equals_quadratic_oracle(spark, rows, k):
    """Sample = the k highest integer priorities under the md5 draw,
    ranks dense, estimates = max(w, tau) — on arbitrary inputs,
    including non-positive weights (clamped to 1)."""
    import hashlib

    from news_please_spark.operators.sampling import priority_sample

    df = spark.createDataFrame(rows, "doc_id long, wgt long") if rows else (
        spark.createDataFrame([], "doc_id long, wgt long")
    )
    got = {
        r.doc_id: (r.w, r.priority, r.rk, r.w_est)
        for r in priority_sample(df, "wgt", k).collect()
    }

    def pri(i, w):
        u = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) + 1
        return (max(w, 1) << 32) // u

    scored = sorted(
        ((pri(i, w), i, max(w, 1)) for i, w in rows), key=lambda t: (-t[0], t[1])
    )
    tau = scored[k][0] if len(scored) > k else 0
    want = {
        i: (w, q, rk + 1, max(w, tau))
        for rk, (q, i, w) in enumerate(scored[:k])
    }
    assert got == want


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 10**6), st.integers(0, 400)),
        min_size=0,
        max_size=50,
        unique_by=lambda t: t[0],
    ),
    batch=st.sampled_from([1, 4, 16]),
)
@SET
def test_length_buckets_invariants(spark, rows, batch):
    """Conservation (every doc in exactly one batch), batch-size bound,
    pad-waste identity, and batches numbered densely from 0."""
    from news_please_spark.operators.sampling import length_bucket_plan

    data = [(i, "w " * n) for i, n in rows]
    df = spark.createDataFrame(data, "doc_id long, text string") if data else (
        spark.createDataFrame([], "doc_id long, text string")
    )
    out = length_bucket_plan(df, batch).collect()
    assert sum(r.n_docs for r in out) == len(rows)
    for r in out:
        assert 1 <= r.n_docs <= batch
        assert r.pad_waste == r.n_docs * r.max_tok - r.sum_tok >= 0
    groups = {}
    for r in out:
        groups.setdefault((r.bucket, r.shard), []).append(r.batch)
    for batches in groups.values():
        assert sorted(batches) == list(range(len(batches)))


def test_fifth_session_operators_handle_empty_inputs(spark):
    """Empty-input gate for the fifth-session operators."""
    from news_please_spark.operators.decontam import source_overlap
    from news_please_spark.operators.graph import spam_mass
    from news_please_spark.operators.ordering import host_shards
    from news_please_spark.operators.sampling import (
        length_bucket_plan,
        priority_sample,
    )
    from news_please_spark.streaming.dedup import dedup_ledger_batch

    docs = spark.createDataFrame([], "doc_id long, text string")
    wdf = spark.createDataFrame([], "doc_id long, wgt long")
    assert priority_sample(wdf, "wgt", 5).count() == 0
    assert length_bucket_plan(docs, 8).count() == 0
    assert source_overlap(
        spark.createDataFrame([], "source string, text string")
    ).count() == 0
    assert host_shards(
        spark.createDataFrame([], "host string, n_urls long"), 4
    ).count() == 0
    empty_nodes = spark.createDataFrame([], "id long")
    assert spam_mass(
        spark.createDataFrame([], "src long, dst long"),
        empty_nodes, empty_nodes, out_degree=2, iters=2,
    ).count() == 0
    assert dedup_ledger_batch(
        spark.createDataFrame([], "fp string, doc_id string")
    ).count() == 0


# --- ninth-session operator invariants --------------------------------------

edges_strategy = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)),
    min_size=1,
    max_size=40,
)


@given(edges=edges_strategy, rounds=st.sampled_from([1, 3]))
@SET
def test_opic_conserves_cash(spark, edges, rounds):
    """Total cash is invariant under any graph and round count, and
    histories are non-negative and non-decreasing in rounds."""
    from news_please_spark.operators.graph import opic_scores

    df = spark.createDataFrame(edges, "src long, dst long")
    nodes = {a for a, _ in edges} | {b for _, b in edges}
    out = opic_scores(df, rounds=rounds).collect()
    assert {r.id for r in out} == nodes
    assert sum(r.cash for r in out) == 1_000_000 * len(nodes)
    assert all(r.cash >= 0 and r.history >= 0 for r in out)
    assert all(r.importance == r.cash + r.history for r in out)


@given(edges=edges_strategy)
@SET
def test_triangle_total_divisible_by_three_and_oracle(spark, edges):
    """Per-node triangle counts sum to 3 x the number of triangles; the
    whole output matches a brute-force python count."""
    from itertools import combinations

    from news_please_spark.operators.graph import triangle_counts

    df = spark.createDataFrame(edges, "src long, dst long")
    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nodes = sorted({x for e in und for x in e})
    truth = {}
    for a, b, c in combinations(nodes, 3):
        if {(a, b), (a, c), (b, c)} <= und:
            for x in (a, b, c):
                truth[x] = truth.get(x, 0) + 1
    got = {r.node: r.n_tri for r in triangle_counts(df).collect()}
    assert got == truth
    assert sum(got.values()) % 3 == 0


@given(edges=edges_strategy, rounds=st.sampled_from([1, 2]))
@SET
def test_lpa_matches_python_sync_oracle(spark, edges, rounds):
    """Synchronous LPA with min-label tie-breaks equals a direct
    python simulation on any graph."""
    from collections import Counter

    from news_please_spark.operators.graph import label_propagation

    df = spark.createDataFrame(edges, "src long, dst long")
    adj = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    if not adj:
        assert label_propagation(df, rounds=rounds).count() == 0
        return
    labels = {n: n for n in adj}
    for _ in range(rounds):
        nxt = {}
        for n in adj:
            votes = Counter(labels[m] for m in adj[n])
            top = max(votes.values())
            nxt[n] = min(l for l, v in votes.items() if v == top)
        labels = nxt
    got = {r.id: r.label for r in label_propagation(df, rounds=rounds).collect()}
    assert got == labels


@given(
    texts=st.lists(
        st.lists(st.sampled_from("abcde"), min_size=1, max_size=8),
        min_size=2,
        max_size=8,
    )
)
@SET
def test_containment_bounds_and_symmetry(spark, texts):
    """Containment scores stay in [0, 10000]; relation is consistent
    with the scores; candidates always satisfy doc_a < doc_b."""
    from news_please_spark.operators.dedup import containment_pairs

    rows = [(i, " ".join(ws)) for i, ws in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for r in containment_pairs(df, threshold_q=1).collect():
        assert r.doc_a < r.doc_b
        assert 0 <= r.cont_a_q <= 10000 and 0 <= r.cont_b_q <= 10000
        if r.relation == "mutual":
            assert r.cont_a_q >= 1 and r.cont_b_q >= 1
        elif r.relation == "a_in_b":
            assert r.cont_a_q >= 1 > r.cont_b_q
        elif r.relation == "b_in_a":
            assert r.cont_b_q >= 1 > r.cont_a_q


# ---------------------------------------------------------------------------
# histogram_drift / key_skew_audit invariants (twelfth session)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 1)), min_size=1, max_size=60
    )
)
@settings(max_examples=8, deadline=None)
def test_histogram_drift_bounded_and_symmetric(spark, rows):
    from news_please_spark.operators.stats import histogram_drift

    df = spark.createDataFrame(
        [("g", b, e) for b, e in rows], "g string, bkt long, ep long"
    )
    out = histogram_drift(df, "g", "bkt", "ep").collect()[0]
    if out["drift_bp"] is not None:
        assert 0 <= out["drift_bp"] <= 10000
        # symmetry: swapping the epochs cannot change TV distance
        df2 = spark.createDataFrame(
            [("g", b, 1 - e) for b, e in rows], "g string, bkt long, ep long"
        )
        assert (
            histogram_drift(df2, "g", "bkt", "ep").collect()[0]["drift_bp"]
            == out["drift_bp"]
        )


@given(
    counts=st.lists(st.integers(1, 40), min_size=1, max_size=12),
    seed=st.integers(0, 3),
)
@settings(max_examples=8, deadline=None)
def test_key_skew_audit_gini_bounds_and_totals(spark, counts, seed):
    from news_please_spark.operators.stats import key_skew_audit

    rows = [(f"k{i}",) for i, c in enumerate(counts) for _ in range(c)]
    df = spark.createDataFrame(rows, "k string").repartition(seed + 2)
    r = key_skew_audit(df, "k", top_n=3).collect()[0]
    assert r["n_keys"] == len(counts)
    assert r["n_rows"] == sum(counts)
    assert 0 <= r["gini_bp"] < 10000
    assert 0 < r["top1_bp"] <= 10000
    # head shares are monotone and consistent
    assert r["top1_bp"] <= r["top3_bp"] <= 10000
    if len(counts) == 1:
        assert r["gini_bp"] == 0 and r["top1_bp"] == 10000


def test_winnow_pandas_kernel_matches_column_fold(spark):
    # the mapInPandas winnowing kernel must stay bit-identical to the
    # Column pipeline it replaced (tokens -> kgram_hashes_of ->
    # array_distinct(winnow_selections_of) -> explode)
    from pyspark.sql import functions as F

    from news_please_spark.functions.text import (
        kgram_hashes_of,
        tokens,
        winnow_fingerprint_rows,
        winnow_selections_of,
    )

    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]
    rows = []
    for i in range(60):
        n = i % 13  # includes docs shorter than k
        txt = " ".join(words[(i + j) % len(words)] for j in range(n))
        if i % 7 == 0:
            txt = "  " + txt + "\t"  # whitespace robustness
        rows.append((i, txt))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    g = (
        df.select("doc_id", tokens(F.col("text")).alias("_t"))
        .select("doc_id", kgram_hashes_of(F.col("_t"), 5).alias("grams"))
        .where(F.size("grams") > 0)
    )
    ref = (
        g.select(
            "doc_id",
            F.explode(
                F.array_distinct(winnow_selections_of(F.col("grams"), 4))
            ).alias("_s"),
        )
        .select("doc_id", F.col("_s.pos").alias("pos"), F.col("_s.fp").alias("fp"))
    )
    got = winnow_fingerprint_rows(df, k=5, w=4)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))


def test_winnow_pandas_kernel_keeps_string_ids(spark):
    # the kernel's id column takes its type from the input: string doc
    # ids come back as the same strings, with the same fingerprints as
    # the integer-keyed run over the same texts
    from news_please_spark.functions.text import winnow_fingerprint_rows

    texts = [
        "one two three four five six seven eight",
        "alpha beta gamma delta epsilon zeta",
        "too short",
    ]
    by_int = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    by_str = spark.createDataFrame(
        [(f"doc-{i}", t) for i, t in enumerate(texts)], "doc_id string, text string"
    )
    got = winnow_fingerprint_rows(by_str, k=5, w=4)
    assert got.schema["doc_id"].dataType.simpleString() == "string"
    exp = sorted(
        (f"doc-{r.doc_id}", r.pos, r.fp)
        for r in winnow_fingerprint_rows(by_int, k=5, w=4).collect()
    )
    assert exp and sorted(map(tuple, got.collect())) == exp
