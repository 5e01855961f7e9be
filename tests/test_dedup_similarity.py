"""Training-data ops: exact/SimHash/n-gram dedup, brute-force + LSH ANN,
multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from news_please_spark.operators.dedup import (
    embedding_near_dups,
    exact_dedup,
    ngram_jaccard_pairs,
    simhash64,
    simhash_near_dups,
)
from news_please_spark.operators.multimodal import (
    decode_and_featurize,
    frame_sample_refs,
)
from news_please_spark.operators.similarity import brute_force_topk, lsh_topk

SF_DIR = "/root/testdata/sf0.001"

BASE = (
    "the quick brown fox jumps over the lazy dog while seventeen "
    "green bottles hang quietly on the old stone wall near the river"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),                                   # exact dup of 0
        (2, BASE.replace("quietly", "loudly")),      # near dup (1 token)
        (3, "completely different text about spark query engines and "
            "distributed joins over columnar storage with adaptive execution"),
        (4, BASE.replace("river", "ocean").replace("fox", "cat")),  # near-ish
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_dedup(spark, docs):
    kept = sorted(r.doc_id for r in exact_dedup(docs).collect())
    assert kept == [0, 2, 3, 4]  # doc1 removed, doc0 (min id) kept


def test_simhash_properties(spark, docs):
    sigs = {r.doc_id: r.s for r in docs.select("doc_id", simhash64(F.col("text")).alias("s")).collect()}
    assert sigs[0] == sigs[1]                     # identical text
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")  # noqa: E731
    assert ham(sigs[0], sigs[2]) <= 6             # near dup → close
    assert ham(sigs[0], sigs[3]) > 10             # different → far


def test_simhash_near_dup_pairs(spark, docs):
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_near_dups(docs, max_hamming=6).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 0
    assert (0, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_ngram_jaccard_verification(spark, docs):
    cand = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "doc_a bigint, doc_b bigint"
    )
    out = {(r.doc_a, r.doc_b): r.jaccard for r in
           ngram_jaccard_pairs(docs, cand, threshold=0.5).collect()}
    assert out[(0, 1)] == 1.0
    assert 0.5 <= out[(0, 2)] < 1.0
    assert (0, 3) not in out


def test_brute_force_vs_lsh_recall(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 17 == 0).limit(6)
    exact = brute_force_topk(queries, emb, k=5)
    approx = lsh_topk(queries, emb, k=5, planes=4, tables=8)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # near-random 64-dim vectors are LSH's worst case; deterministic
    # planes + fixed data → this recall is stable run to run
    assert recall >= 0.6, f"LSH recall collapsed: {recall}"
    # exact path sanity: cosine of self-excluded neighbors ≤ 1
    assert exact.filter(F.col("cos") > 1.0001).count() == 0


def test_embedding_near_dups_finds_planted_pair(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    # plant a near-duplicate of vec 0 with id 100000
    v0 = emb.filter("vec_id = 0").select("embedding").first()[0]
    dup = [x * 1.001 for x in v0]
    planted = emb.unionByName(
        emb.sparkSession.createDataFrame(
            [(100000, dup, 0)], "vec_id bigint, embedding array<float>, label int"
        )
    )
    pairs = embedding_near_dups(planted, threshold=0.99)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 100000) in got


def test_multimodal_plumbing(spark):
    media = spark.createDataFrame(
        [
            ("d1", "img://1", "image", bytearray(b"\x89PNGfake"), (4, 4, None, "image/png")),
            ("d2", "img://2", "image", bytearray(b"\x89PNGfake"), (4, 4, None, "image/png")),
            ("d3", "vid://1", "video", None, (None, None, 3500, "video/mp4")),
        ],
        "doc_id string, media_ref string, kind string, data binary, "
        "meta struct<width:int,height:int,duration_ms:int,mime:string>",
    )
    feats = decode_and_featurize(media)
    rows = {r.doc_id: r for r in feats.collect()}
    assert len(rows["d1"].features) == 16
    # deterministic: same bytes → same features
    assert list(rows["d1"].features) == list(rows["d2"].features)
    assert rows["d3"].decode_ok is False

    frames = frame_sample_refs(media, every_ms=1000)
    ms = sorted(r.frame_ms for r in frames.collect())
    assert ms == [0, 1000, 2000, 3000]

    with pytest.raises(Exception, match="NotImplementedError|codecs"):
        decode_and_featurize(media, strict=True).collect()


def test_ngram_jaccard_impls_bit_identical(spark, docs):
    """'exploded' (scale shape: no gram array copied onto pair rows)
    must equal 'array' exactly, including threshold=0 pairs with a
    gramless side and identical-doc pairs at 1.0."""
    from pyspark.sql import functions as F

    short = spark.createDataFrame([(9, "just two")], "doc_id bigint, text string")
    d = docs.unionByName(short)
    cand = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4), (2, 4), (0, 9)],
        "doc_a bigint, doc_b bigint",
    )

    def snap(impl):
        out = ngram_jaccard_pairs(d, cand, threshold=0.0, impl=impl)
        return sorted(
            (r.doc_a, r.doc_b, round(r.jaccard, 12)) for r in out.collect()
        )

    a, e = snap("array"), snap("exploded")
    assert a == e
    assert any(p[:2] == (0, 9) and p[2] == 0.0 for p in a)  # gramless side


# ---------------------------------------------------------------------------
# exact-substring dedup (ExactSubstr)
def test_dup_substring_spans_basic(spark):
    """A 10-token run shared by two docs yields one maximal span per doc
    covering exactly the shared run; a doc with no duplicated window
    yields nothing; a within-doc repeat also flags (ExactSubstr counts
    all occurrences)."""
    from news_please_spark.operators.dedup import dup_substring_spans

    shared = "a b c d e f g h i j"  # 10 tokens -> 3 flagged 8-windows
    docs = spark.createDataFrame(
        [
            (1, f"x1 x2 {shared} y1 y2"),
            (2, f"z1 {shared} z2 z3 z4"),
            (3, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12"),
            # one doc repeating its own 8-token block back-to-back
            (4, "r1 r2 r3 r4 r5 r6 r7 r8 r1 r2 r3 r4 r5 r6 r7 r8"),
        ],
        "doc_id bigint, text string",
    )
    spans = {
        r.doc_id: (r.span_start, r.span_end, r.span_len)
        for r in dup_substring_spans(docs, k=8).collect()
    }
    # doc 1: shared run at token positions 2..11
    assert spans[1] == (2, 11, 10)
    # doc 2: shared run at positions 1..10
    assert spans[2] == (1, 10, 10)
    assert 3 not in spans
    # doc 4: every window whose content repeats flags; the self-repeat
    # makes windows at pos 0 and 8 identical -> islands merge across
    # the whole 16-token doc
    assert spans[4] == (0, 15, 16)


def test_dup_substring_spans_island_split(spark):
    """Two duplicated runs separated by a unique gap stay TWO spans."""
    from news_please_spark.operators.dedup import dup_substring_spans

    run1 = "a1 a2 a3 a4 a5 a6 a7 a8"
    run2 = "b1 b2 b3 b4 b5 b6 b7 b8"
    docs = spark.createDataFrame(
        [
            (1, f"{run1} gap1 gap2 gap3 {run2}"),
            (2, f"{run1} other tokens here {run2}"),
        ],
        "doc_id bigint, text string",
    )
    got = sorted(
        (r.doc_id, r.span_start, r.span_end)
        for r in dup_substring_spans(docs, k=8).collect()
    )
    assert got == [(1, 0, 7), (1, 11, 18), (2, 0, 7), (2, 11, 18)]


def test_strip_dup_substrings_cuts_exactly_the_spans(spark):
    """The cut step removes precisely the span-covered token positions
    and renormalizes whitespace; an untouched doc round-trips."""
    from news_please_spark.operators.dedup import strip_dup_substrings

    shared = "a b c d e f g h i j"
    docs = spark.createDataFrame(
        [
            (1, f"x1 x2 {shared} y1 y2"),
            (2, f"z1 {shared} z2"),
            (3, "unique tokens only here nothing repeats at all twice"),
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in strip_dup_substrings(docs, k=8).collect()}
    assert out[1].clean_text == "x1 x2 y1 y2"
    assert (out[1].kept_tokens, out[1].total_tokens) == (4, 14)
    assert out[2].clean_text == "z1 z2"
    assert out[3].clean_text == docs.filter("doc_id = 3").first().text
    assert out[3].kept_tokens == out[3].total_tokens


def test_incremental_index_lookup_matches_full_candidates(spark):
    """Delta-vs-index candidates == the delta↔corpus subset of the full
    self-join candidate set; self-pairs excluded; corpus side reusable
    as a stored table."""
    from news_please_spark.operators.dedup import (
        lsh_index_of,
        minhash_lsh_candidates,
        near_dup_candidates_against_index,
        ngram_set,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "the quick brown fox jumps over the lazy dog today"),
        (10, "the quick brown fox jumps over the lazy dog tonight"),  # dup of 1
        (11, "completely unrelated text about spark physical plans"),
        (3, "completely unrelated text about spark physical plans"),  # dup of 11
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    grams = df.select(
        "doc_id", ngram_set(F.col("text")).alias("_g")
    ).filter(F.size("_g") > 0)
    delta = grams.filter(F.col("doc_id") >= 10)
    corpus = grams.filter(F.col("doc_id") < 10)
    got = sorted(
        (r.delta_id, r.corpus_id)
        for r in near_dup_candidates_against_index(
            lsh_index_of(delta, gram_col="_g"),
            lsh_index_of(corpus, gram_col="_g"),
        ).collect()
    )
    # full self-join candidates, restricted to delta-corpus pairs
    full = minhash_lsh_candidates(df)
    want = set()
    for r in full.collect():
        a, b = r.doc_a, r.doc_b
        if a >= 10 and b < 10:
            want.add((a, b))
        elif b >= 10 and a < 10:
            want.add((b, a))
    assert got == sorted(want)
    assert (10, 1) in want and (11, 3) in want


# ---------------------------------------------------------------------------
# CDC-maintained LSH index


def test_apply_cdc_to_index_equals_rebuild(spark):
    from pyspark.sql import functions as F

    from news_please_spark.operators.dedup import (
        apply_cdc_to_index,
        lsh_index_of,
        ngram_set,
    )

    def index_of(df):
        sh = df.select("doc_id", ngram_set(F.col("text")).alias("_sh")).filter(
            F.size("_sh") > 0
        )
        return lsh_index_of(sh)

    base = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon doc {i} body") for i in range(12)],
        "doc_id long, text string",
    )
    post = spark.createDataFrame(
        # 3 deleted, 5 rewritten, 100 inserted, rest unchanged
        [(i, f"alpha beta gamma delta epsilon doc {i} body") for i in range(12)
         if i not in (3, 5)]
        + [(5, "totally different rewritten text here now")]
        + [(100, "a brand new document with plenty of tokens")],
        "doc_id long, text string",
    )
    changes = spark.createDataFrame(
        [
            (3, None, "delete"),
            (5, "totally different rewritten text here now", "update"),
            (100, "a brand new document with plenty of tokens", "insert"),
        ],
        "doc_id long, text string, _change string",
    )
    got = sorted(tuple(r) for r in apply_cdc_to_index(index_of(base), changes).collect())
    want = sorted(tuple(r) for r in index_of(post.filter(~F.col("doc_id").isin(3))).collect())
    assert got == want and got
    # empty change set is the identity
    empty = spark.createDataFrame([], "doc_id long, text string, _change string")
    same = sorted(tuple(r) for r in apply_cdc_to_index(index_of(base), empty).collect())
    assert same == sorted(tuple(r) for r in index_of(base).collect())


def test_lsh_collision_prob_shape():
    from news_please_spark.operators.dedup import lsh_collision_prob

    assert lsh_collision_prob(0.0, 16, 4) == 0.0
    assert lsh_collision_prob(1.0, 16, 4) == 1.0
    # monotone in s; more bands raises, more rows sharpens/lowers below
    # the inflection
    assert lsh_collision_prob(0.5, 16, 4) > lsh_collision_prob(0.4, 16, 4)
    assert lsh_collision_prob(0.3, 32, 4) > lsh_collision_prob(0.3, 16, 4)
    assert lsh_collision_prob(0.2, 16, 8) < lsh_collision_prob(0.2, 16, 4)
    import pytest

    with pytest.raises(ValueError):
        lsh_collision_prob(1.5, 16, 4)


def test_choose_lsh_params_tracks_threshold():
    from news_please_spark.operators.dedup import choose_lsh_params

    b1, r1 = choose_lsh_params(0.5, 128)
    b2, r2 = choose_lsh_params(0.9, 128)
    assert b1 * r1 <= 128 and b2 * r2 <= 128
    # rule of thumb: inflection (1/b)^(1/r) lands near the threshold
    assert abs((1 / b1) ** (1 / r1) - 0.5) < 0.15
    assert abs((1 / b2) ** (1 / r2) - 0.9) < 0.1
    # a higher threshold needs a sharper (more rows) curve
    assert r2 >= r1
    # weighting false negatives up shifts the curve left (recall-ward):
    # collision probability AT the threshold must not decrease
    from news_please_spark.operators.dedup import lsh_collision_prob

    b3, r3 = choose_lsh_params(0.5, 128, fn_weight=5.0)
    assert lsh_collision_prob(0.5, b3, r3) >= lsh_collision_prob(0.5, b1, r1)


def test_choose_lsh_params_validation():
    import pytest

    from news_please_spark.operators.dedup import choose_lsh_params

    with pytest.raises(ValueError):
        choose_lsh_params(0.0, 128)
    with pytest.raises(ValueError):
        choose_lsh_params(0.5, 0)


def test_lsh_bucket_fast_path_bit_identical_on_ragged_dims(spark):
    """The literal-coefficient fast path must produce the SAME buckets
    as the md5-deriving expression for every row — including rows whose
    length differs from the peeked dim (those route per-row to the
    fallback branch)."""
    from news_please_spark.operators.similarity import (
        lsh_bucket,
        lsh_buckets,
        peek_dim,
    )

    rows = [
        (1, [0.5, -0.25, 1.0, 0.125]),
        (2, [0.75, 0.1, -0.9, 0.33]),
        (3, [1.0, 2.0]),            # shorter than peeked dim
        (4, [0.1] * 7),             # longer than peeked dim
        (5, []),                    # empty
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    dim = peek_dim(df, "embedding")
    assert dim == 4
    fast = df.select(
        "vec_id",
        lsh_bucket(F.col("embedding"), planes=12, dim=dim).alias("b"),
        lsh_buckets(F.col("embedding"), planes=5, tables=3, dim=dim).alias("tb"),
    )
    slow = df.select(
        "vec_id",
        lsh_bucket(F.col("embedding"), planes=12, dim=None).alias("b"),
        lsh_buckets(F.col("embedding"), planes=5, tables=3, dim=None).alias("tb"),
    )
    f = {r.vec_id: (r.b, tuple((s.t, s.b) for s in r.tb)) for r in fast.collect()}
    s = {r.vec_id: (r.b, tuple((s.t, s.b) for s in r.tb)) for r in slow.collect()}
    assert f == s
    # table field stays int and table-major ordered
    assert [t for t, _ in f[1][1]] == [0, 1, 2]


# ---------------------------------------------------------------------------
# canonical exemplar per cluster


def test_canonical_per_cluster_argmax_and_ties(spark):
    from news_please_spark.operators.dedup import canonical_per_cluster

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7), (9, 9)],
        "doc_id long, root long",
    )
    scores = spark.createDataFrame(
        [(1, 50), (2, 90), (3, 90), (7, 10), (8, 10), (9, 5)],
        "doc_id long, score long",
    )
    got = {
        r.root: (r.canonical_id, r.score, r.members)
        for r in canonical_per_cluster(clusters, scores).collect()
    }
    # cluster 1: 2 and 3 tie at 90 -> smallest id wins
    # cluster 7: 7 and 8 tie at 10 -> 7 wins
    # singleton keeps itself
    assert got == {1: (2, 90, 3), 7: (7, 10, 2), 9: (9, 5, 1)}


def test_canonical_per_cluster_no_window(spark):
    from news_please_spark.operators.dedup import canonical_per_cluster

    clusters = spark.createDataFrame([(1, 1)], "doc_id long, root long")
    scores = spark.createDataFrame([(1, 5)], "doc_id long, score long")
    plan = (
        canonical_per_cluster(clusters, scores)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # semigroup agg, not a ranking window: survives 10^7-member clusters
    assert "Window" not in plan
    assert "Aggregate" in plan


def test_mime_sniff_magic_bytes(spark):
    from news_please_spark.operators.multimodal import sniff_media

    rows = [
        ("png", bytes.fromhex("89504E470D0A1A0A") + b"xx", "image/png"),
        ("jpg", bytes.fromhex("FFD8FFE1") + b"Exif", "image/jpeg"),
        ("gif87", b"GIF87a--", "image/gif"),
        ("gif89", b"GIF89a--", "image/gif"),
        ("pdf", b"%PDF-1.4", "application/pdf"),
        ("gz", b"\x1f\x8b\x08", "application/gzip"),
        ("zip", b"PK\x03\x04", "application/zip"),
        ("mp3id3", b"ID3\x04", "audio/mpeg"),
        ("mp3raw", b"\xff\xfbsync", "audio/mpeg"),
        ("ogg", b"OggS\x00", "audio/ogg"),
        ("html1", b"<!DOCTYPE html>", "text/html"),
        ("html2", b"<html><head>", "text/html"),
        ("wav", b"RIFF\x01\x02\x03\x04WAVEfmt", "audio/wav"),
        ("webp", b"RIFF\x01\x02\x03\x04WEBPVP8", "image/webp"),
        ("avi", b"RIFF\x01\x02\x03\x04AVI LIST", "video/x-msvideo"),
        ("riff_other", b"RIFF\x01\x02\x03\x04XXXX", "application/octet-stream"),
        ("mp4", b"\x00\x00\x00\x18ftypisom", "video/mp4"),
        ("unknown", b"\x00\x01\x02\x03", "application/octet-stream"),
        ("empty", b"", None),
        ("nul", None, None),
    ]
    df = spark.createDataFrame(
        [(n, d, "image/png") for n, d, _ in rows],
        "name string, data binary, ct string",
    )
    out = {r.name: (r.sniffed_mime, r.mime_mismatch)
           for r in sniff_media(df, declared_col="ct").collect()}
    for name, _, want in rows:
        assert out[name][0] == want, (name, out[name][0], want)
    # mismatch only fires on non-null disagreements
    assert out["png"] == ("image/png", False)
    assert out["jpg"][1] is True
    assert out["empty"][1] is False and out["nul"][1] is False


def test_mime_sniff_is_shuffle_free(spark):
    from news_please_spark.operators.multimodal import sniff_media

    df = spark.createDataFrame([("a", b"GIF89a")], "name string, data binary")
    plan = sniff_media(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# --- asymmetric containment ------------------------------------------------

def test_containment_pairs_snippet_and_mutual(spark):
    from news_please_spark.operators.dedup import containment_pairs

    long_text = " ".join(f"w{i}" for i in range(100))
    snippet = " ".join(f"w{i}" for i in range(40))  # 40-token prefix
    other = " ".join(f"z{i}" for i in range(100))
    df = spark.createDataFrame(
        [
            (1, long_text),
            (2, snippet),
            (3, other),
            (10, "dup " + other),
            (11, "dup " + other),
        ],
        "doc_id long, text string",
    )
    rows = {(r.doc_a, r.doc_b): r for r in containment_pairs(df).collect()}
    # snippet (2) fully contained in long (1): 38 of its 38 3-grams hit
    assert set(rows) == {(1, 2), (10, 11)}
    r = rows[(1, 2)]
    assert r.cont_b_q == 10000          # all snippet grams in the long doc
    assert r.cont_a_q == 10000 * 38 // 98  # 38 shared of 98 long-doc grams
    assert r.relation == "b_in_a"
    m = rows[(10, 11)]
    assert (m.cont_a_q, m.cont_b_q, m.relation) == (10000, 10000, "mutual")


def test_containment_pairs_stop_fingerprint_cap(spark):
    """A fingerprint shared by more docs than max_fp_docs generates no
    candidate pairs (the boilerplate-banner guard)."""
    from news_please_spark.operators.dedup import containment_pairs

    t = " ".join(f"w{i}" for i in range(40))
    df = spark.createDataFrame(
        [(i, t) for i in range(4)], "doc_id long, text string"
    )
    assert containment_pairs(df, max_fp_docs=2).count() == 0
    assert containment_pairs(df, max_fp_docs=10).count() == 6  # all pairs


def test_lsh_recall_audit_finds_planted_dups(spark):
    """Near-identical pairs (top bucket) are always candidates
    (recall 10000); the bucket histogram matches a python oracle."""
    from news_please_spark.operators.dedup import lsh_recall_audit

    base = " ".join(f"w{i}" for i in range(60))
    rows = [
        (1, base),
        (2, base + " extra"),            # ~0.97 jaccard
        (3, base.replace("w0 ", "")),    # ~0.95
        (4, " ".join(f"z{i}" for i in range(60))),
        (5, " ".join(f"q{i}" for i in range(60))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.bucket_q: r for r in lsh_recall_audit(df).collect()}
    assert out, "expected at least one >=0.5 bucket"
    top = out[max(out)]
    assert top.recall_q == 10000  # near-identical pairs always banded
    assert all(r.n_candidates <= r.n_true_pairs for r in out.values())


def test_bbit_minhash_identical_docs_match_all_bits(spark):
    from news_please_spark.operators.dedup import (
        bbit_minhash_sigs,
        bbit_minhash_sim,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),   # identical
            (3, "one two three four five six seven"),     # unrelated
            (4, "tiny"),                                   # < 3 tokens: dropped
        ],
        "doc_id long, text string",
    )
    sigs = bbit_minhash_sigs(docs, k=32)
    assert {r.doc_id for r in sigs.collect()} == {1, 2, 3}
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3)], "doc_a long, doc_b long"
    )
    got = {
        (r.doc_a, r.doc_b): (r.matched_bits, r.sim_est_q)
        for r in bbit_minhash_sim(pairs, sigs, k=32).collect()
    }
    # identical shingle sets -> identical signatures -> J_est = 1
    assert got[(1, 2)] == (32, 10000)
    # disjoint sets: ~half the bits agree by chance; estimator clamps at 0
    m, est = got[(1, 3)]
    assert m < 32 and est < 4000


def test_bbit_minhash_estimator_tracks_jaccard_on_planted_overlap(spark):
    from news_please_spark.operators.dedup import (
        bbit_minhash_sigs,
        bbit_minhash_sim,
    )

    base = [f"tok{i}" for i in range(60)]
    # doc 2 shares 50 of 60 shingle-tokens with doc 1 (J ~ 0.71 on
    # 3-gram shingles of a mostly-shared stream)
    d1 = " ".join(base)
    d2 = " ".join(base[:50] + [f"alt{i}" for i in range(10)])
    docs = spark.createDataFrame(
        [(1, d1), (2, d2)], "doc_id long, text string"
    )
    sigs = bbit_minhash_sigs(docs, k=63)
    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    (row,) = bbit_minhash_sim(pairs, sigs, k=63).collect()
    # true 3-gram Jaccard: 48 shared of (58 + 58 - 48) grams ~ 0.70
    assert 3000 <= row.sim_est_q <= 10000  # k=63 1-bit variance is wide
    assert row.matched_bits > 63 // 2


def test_bbit_minhash_rejects_bad_k(spark):
    import pytest

    from news_please_spark.operators.dedup import bbit_minhash_sigs

    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError):
        bbit_minhash_sigs(docs, k=64)


def test_winnow_pairs_catches_partial_lift(spark):
    """A 40-token run lifted into an otherwise unrelated doc must pair
    (winnowing guarantee: shared run >= w+k-1 = 8 tokens), while docs
    with no shared 5-gram must not."""
    from news_please_spark.operators.dedup import winnow_plagiarism_pairs

    lifted = " ".join(f"src{i}" for i in range(40))
    d1 = " ".join(f"one{i}" for i in range(80)) + " " + lifted
    d2 = " ".join(f"two{i}" for i in range(100)) + " " + lifted
    d3 = " ".join(f"three{i}" for i in range(90))
    docs = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], "doc_id long, text string"
    )
    rows = winnow_plagiarism_pairs(docs).collect()
    assert [(r.doc_a, r.doc_b) for r in rows] == [(1, 2)]
    (r,) = rows
    # 40 shared tokens -> ~2/(w+1) * 36 selected-gram density; at
    # least the guaranteed floor((40 - 7) / w) window minima shared
    assert r.shared >= 8
    assert 0 < r.score_q <= 10000


def test_winnow_pairs_stop_fp_cap_blocks_boilerplate_explosion(spark):
    """A fingerprint shared by MORE than max_df docs is a stop
    fingerprint (boilerplate): it must generate no candidate pairs."""
    from news_please_spark.operators.dedup import winnow_plagiarism_pairs

    boiler = " ".join(f"b{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(i, " ".join(f"u{i}x{j}" for j in range(30)) + " " + boiler)
         for i in range(6)],
        "doc_id long, text string",
    )
    assert winnow_plagiarism_pairs(docs, max_df=5).count() == 0
    # with the cap above the df, all 15 pairs appear
    assert winnow_plagiarism_pairs(docs, max_df=6).count() == 15


def test_winnow_pairs_min_shared_floor(spark):
    """Pairs sharing a single fingerprint (one short common run) are
    below the min_shared=2 evidence floor and are suppressed."""
    from news_please_spark.operators.dedup import winnow_plagiarism_pairs

    run8 = " ".join(f"c{i}" for i in range(8))  # exactly w+k-1 tokens
    d1 = " ".join(f"p{i}" for i in range(50)) + " " + run8
    d2 = " ".join(f"q{i}" for i in range(50)) + " " + run8
    docs = spark.createDataFrame(
        [(1, d1), (2, d2)], "doc_id long, text string"
    )
    strict = winnow_plagiarism_pairs(docs, min_shared=2).collect()
    loose = winnow_plagiarism_pairs(docs, min_shared=1).collect()
    assert len(loose) >= 1 and all(r.shared >= 1 for r in loose)
    assert all(r.shared >= 2 for r in strict)


def test_simhash_null_text_emits_no_signature_on_either_path(spark, docs):
    # a NULL-text doc has no tokens: the xxhash64 explode path drops
    # it, and the md5 kernel must drop it too; every other doc keeps
    # the signature the per-token fold (simhash64) gives it
    from news_please_spark.operators.dedup import simhash_signatures

    df = docs.unionByName(
        spark.createDataFrame([(9, None), (10, "")], "doc_id bigint, text string")
    )
    md5 = {r.doc_id: r._sig for r in simhash_signatures(df).collect()}
    xx = {
        r.doc_id
        for r in simhash_signatures(df, token_hash="xxhash64").collect()
    }
    assert set(md5) == xx == {0, 1, 2, 3, 4, 10}
    fold = {
        r.doc_id: r.s
        for r in df.where(F.col("text").isNotNull())
        .select("doc_id", simhash64(F.col("text")).alias("s"))
        .collect()
    }
    assert md5 == fold
