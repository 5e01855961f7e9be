"""Deduplication operators for training-data pipelines (task brief:
exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup).

Everything here is native Column expressions — higher-order functions,
bit arithmetic, hash-bucket joins. No Python in the hot path: SimHash of
a 10^10-document corpus is one whole-stage-codegen'd projection plus a
banded self-join on 16-bit chunks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def tokens_of(text: Column) -> Column:
    return F.split(F.trim(F.lower(text)), r"\s+")


# ---------------------------------------------------------------------------
# exact dedup: canonical representative per content hash
def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row per exact content hash (lowest id wins —
    deterministic, unlike dropDuplicates' arbitrary pick)."""
    h = F.md5(F.col(text_col)).alias("_h")
    keep = (
        df.select(h, F.col(id_col))
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keep, [id_col], "left_semi")


# ---------------------------------------------------------------------------
# SimHash: 64-bit signature, one codegen'd expression per row
def _md5_hash64(t: Column) -> Column:
    """Engine-portable 64-bit token hash: the first 16 hex chars of md5
    as a signed long (two 32-bit halves via conv — conv of the full 16
    chars would overflow the signed-long cast). md5 exists in Spark,
    DuckDB, and every warehouse, so oracle checks are exact; xxhash64 is
    Spark-private."""
    h = F.md5(t)
    hi = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    signed_hi = hi - F.when(hi >= F.lit(1 << 31), F.lit(1 << 32)).otherwise(F.lit(0))
    return signed_hi * F.lit(1 << 32) + lo


def simhash64(text: Column, token_hash: str = "md5") -> Column:
    """Classic SimHash: per-token 64-bit hash votes ±1 on every bit;
    signature bit j is the sign of the sum. Implemented as nested
    higher-order functions (transform/aggregate/zip_with) — stays
    JVM-side, no UDF.

    token_hash: 'md5' (default; engine-portable, oracle-checkable) or
    'xxhash64' (Spark-native, ~2× cheaper per token — use when
    cross-engine reproducibility is not needed)."""
    if token_hash == "xxhash64":
        tok_hashes = F.transform(tokens_of(text), lambda t: F.xxhash64(t))
    else:
        tok_hashes = F.transform(tokens_of(text), lambda t: _md5_hash64(t))

    def _bits(h):  # shift amounts must be literals — unroll in Python
        return F.array(
            *[
                F.when(
                    F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, F.lit(1)
                ).otherwise(F.lit(-1))
                for j in range(64)
            ]
        )

    bit_sums = F.aggregate(
        tok_hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(acc, _bits(h), lambda a, b: a + b),
    )
    sig = F.lit(0).cast("long")
    for j in range(64):
        v = (1 << j) - (1 << 64 if j == 63 else 0)  # signed-long image of bit j
        sig = sig.bitwiseOR(
            F.when(F.element_at(bit_sums, j + 1) > 0, F.lit(v).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return sig


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_hash: str = "md5",
) -> DataFrame:
    """(id, text) → (id, _sig): SimHash via explode + 64 map-side-
    combinable bit-count sums instead of the per-token 64-element array
    fold of simhash64 — same signatures, measured 3.2× faster at sf0.1
    (the HOF variant materializes a ±1 array per token; this shape keeps
    every operator a flat codegen'd long expression and the shuffle
    carries only 65 longs per doc after partial aggregation)."""
    if token_hash == "xxhash64":
        # Spark-native hash: keep the explode + 64-bit-sum agg shape
        # (xxhash64 has no cheap Python image to vectorize against)
        toks = df.select(
            F.col(id_col), F.explode(tokens_of(F.col(text_col))).alias("_t")
        )
        th = toks.select(id_col, F.xxhash64("_t").alias("_h"))
        aggs = [
            F.sum(F.shiftright(F.col("_h"), j).bitwiseAND(F.lit(1))).alias(f"_c{j}")
            for j in range(64)
        ]
        counts = th.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"), *aggs)
        sig = F.lit(0).cast("long")
        for j in range(64):
            # signature bit j = majority vote = (2·count_j > n_tokens)
            v = (1 << j) - (1 << 64 if j == 63 else 0)  # signed-long image
            sig = sig.bitwiseOR(
                F.when(
                    2 * F.col(f"_c{j}") > F.col("_n"), F.lit(v).cast("long")
                ).otherwise(F.lit(0).cast("long"))
            )
        return counts.select(id_col, sig.alias("_sig"))

    # md5 path: one zero-shuffle mapInPandas kernel — per doc, hash
    # tokens with C md5 (per-worker digest cache; Zipfian token
    # distributions make it ~all hits), unpack the 64 bits with one
    # vectorized numpy shift, majority-vote the columns. Bit-identical
    # to the explode + 64-sum-agg plan (same tokenizer image as
    # split(trim(lower(text)), '\\s+'): lower, space-only trim, Java
    # \\s, trailing empties kept; same signed-long md5 image; same
    # 2·count > n vote), which shuffled 65 longs per doc and paid the
    # hash-agg on every token row.
    import hashlib
    import re

    id_type = df.schema[id_col].dataType.simpleString()
    ws = re.compile(r"[ \t\n\x0b\f\r]+")

    def gen(batches):
        import numpy as np
        import pandas as pd

        shifts = np.arange(64, dtype=np.uint64)
        cache: dict[str, int] = {}
        for pdf in batches:
            ids, sigs = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue  # no tokens: explode emits no row either
                toks = ws.split(text.lower().strip(" "))
                hs = np.empty(len(toks), dtype=np.uint64)
                for i, t in enumerate(toks):
                    h = cache.get(t)
                    if h is None:
                        h = int.from_bytes(
                            hashlib.md5(t.encode()).digest()[:8], "big"
                        )
                        if len(cache) < 4_000_000:
                            cache[t] = h
                    hs[i] = h
                bits = (hs[:, None] >> shifts) & np.uint64(1)
                votes = bits.sum(axis=0, dtype=np.int64)
                sig_bits = (2 * votes) > len(toks)
                sig = int(np.bitwise_or.reduce(
                    (sig_bits.astype(np.uint64) << shifts)
                ))
                if sig >= 1 << 63:
                    sig -= 1 << 64
                ids.append(doc_id)
                sigs.append(sig)
            yield pd.DataFrame({
                id_col: pd.Series(ids, dtype="object"),
                "_sig": pd.Series(sigs, dtype="int64"),
            })

    return df.select(id_col, text_col).mapInPandas(
        gen, f"{id_col} {id_type}, _sig long"
    )


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    token_hash: str = "md5",
) -> DataFrame:
    """Near-dup pairs by SimHash banding. The band count DERIVES from
    max_hamming: splitting 64 bits into (max_hamming + 1) chunks
    guarantees (pigeonhole) that any pair within the distance shares at
    least one exact chunk — so the candidate join is exact-match on
    (band, chunk) and COMPLETE, then the cheap bit_count verifies.
    Scale: the self-join is hash-partitioned on the chunk value; no
    O(n²). (A fixed 4-band split was silently lossy for max_hamming>3.)
    """
    if not 0 <= max_hamming <= 63:
        raise ValueError(f"max_hamming must be in [0, 63], got {max_hamming}")
    n_bands = max_hamming + 1
    base, rem = divmod(64, n_bands)
    widths = [base + 1 if b < rem else base for b in range(n_bands)]
    offsets = [sum(widths[:b]) for b in range(n_bands)]
    sig = simhash_signatures(df, text_col, id_col, token_hash)
    chunks = sig.select(
        id_col,
        "_sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("_sig"), offsets[b])
                        .bitwiseAND(F.lit((1 << widths[b]) - 1))
                        .alias("chunk"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bc"),
    ).select(id_col, "_sig", F.col("bc.band").alias("band"), F.col("bc.chunk").alias("chunk"))
    a = chunks.alias("a")
    b = chunks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            hamming64(F.col("a._sig"), F.col("b._sig")).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# n-gram Jaccard: exact similarity on LSH-candidate pairs
def ngram_set(text: Column, n: int = 3) -> Column:
    # zip_with over shifted slices: HOF lambdas here touch only element
    # values, so the token array is evaluated once per row instead of
    # once per element (element_at(toks, i) inside a lambda re-splits
    # the whole text per gram in interpreted eval — O(L^2) per row).
    # Short docs (< n tokens) yield an empty set via the length clamp.
    from news_please_spark.operators.repetition import ngrams

    # lower() first so tokenization matches tokens_of exactly
    return F.array_distinct(ngrams(F.lower(text), n))



def ngram_set_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
):
    r"""(id, text) → (id, _g) with _g = ngram_set(text, n), computed in
    one mapInPandas pass. Bit-identical image of the Column form
    (lower → space-only trim → Java-\s split keeping empty tokens →
    n-gram join with single spaces → first-occurrence distinct =
    array_distinct; NULL text stays NULL) — the zip_with builder paid
    interpreted per-element lambda eval for every gram, which at
    corpus scale is the dominant map cost of every shingle consumer.
    Callers keep their own size(_g) > 0 guard."""
    import re

    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    id_type = df.schema[id_col].dataType.simpleString()

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids, gs = [], []
            for rid, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    ids.append(rid)
                    gs.append(None)
                    continue
                toks = ws.split(text.lower().strip(" "))
                m = len(toks) - (n - 1)
                grams = [
                    " ".join(toks[i:i + n]) for i in range(m if m > 0 else 0)
                ]
                ids.append(rid)
                gs.append(list(dict.fromkeys(grams)))
            yield pd.DataFrame({
                id_col: pd.Series(ids, dtype="object"),
                "_g": pd.Series(gs, dtype="object"),
            })

    return df.select(id_col, text_col).mapInPandas(
        gen, f"{id_col} {id_type}, _g array<string>"
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """(doc_a, doc_b) near-dup candidate pairs via banded MinHash over
    lowercased n-token shingles; hash = md5(band || shingle) so the
    identical candidate set derives in any engine. Scale path: the
    (band, sig) table is the LSH index — candidates are same-bucket
    equi-joins, the corpus is never crossed. Docs with < n tokens have
    no shingles and never become candidates."""
    shingled = (
        ngram_set_rows(df, id_col=id_col, text_col=text_col, n=n)
        .withColumnRenamed("_g", "_sh")
        .filter(F.size("_sh") > 0)
    )
    return minhash_lsh_candidates_from_grams(
        shingled, id_col=id_col, gram_col="_sh", bands=bands
    )


def minhash_lsh_candidates_from_grams(
    shingled: DataFrame,
    id_col: str = "doc_id",
    gram_col: str = "_sh",
    bands: int = 4,
) -> DataFrame:
    """Candidate generation from an ALREADY-SHINGLED (id, gram-set)
    table — lets a verify pipeline shingle the corpus once, checkpoint
    it, and feed BOTH the LSH index build and the exact-Jaccard verify
    from the same pass (tokenization is the dominant map-side cost at
    corpus scale; doing it twice doubles the scan CPU)."""
    sig = lsh_index_of(shingled, id_col=id_col, gram_col=gram_col, bands=bands)
    a, b = sig.alias("a"), sig.alias("b")
    return (
        a.join(
            b,
            (F.col("a._band") == F.col("b._band"))
            & (F.col("a._sig") == F.col("b._sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )


def lsh_index_of(
    shingled: DataFrame,
    id_col: str = "doc_id",
    gram_col: str = "_sh",
    bands: int = 4,
) -> DataFrame:
    """The banded MinHash signature table (id, _band, _sig) — THE LSH
    index. Persist/write this once per corpus: candidate lookups for a
    delta batch are then (band, sig) equi-joins against it, never a
    rescan of corpus text (see near_dup_candidates_against_index)."""
    if gram_col != "_sh":
        shingled = shingled.select(F.col(id_col), F.col(gram_col).alias("_sh"))

    # Per-row kernel (mapInPandas) instead of the interpreted
    # array_min(transform(md5(band|gram))) fold: hashlib's C md5 is
    # ~10× the throughput of per-element lambda eval, and a per-worker
    # digest cache collapses repeated (band, gram) hashes — Zipfian
    # gram distributions make the hit rate high, and the cache is
    # bounded so a high-entropy corpus degrades to plain hashing, never
    # to memory growth. Zero shuffle, same (id, _band, _sig) rows
    # bit-for-bit (md5 hex of the identical '<band>|<gram>' bytes).
    import hashlib

    id_type = shingled.schema[id_col].dataType.simpleString()

    def gen(batches):
        import pandas as pd

        cache: dict[tuple[int, str], str] = {}
        for pdf in batches:
            ids, bnds, sigs = [], [], []
            for doc_id, grams in zip(pdf[id_col], pdf["_sh"]):
                empty = grams is None or len(grams) == 0
                for b in range(bands):
                    best = None
                    if not empty:
                        for g in grams:
                            h = cache.get((b, g))
                            if h is None:
                                h = hashlib.md5(
                                    f"{b}|{g}".encode()
                                ).hexdigest()
                                if len(cache) < 4_000_000:
                                    cache[(b, g)] = h
                            if best is None or h < best:
                                best = h
                    ids.append(doc_id)
                    bnds.append(b)
                    sigs.append(best)
            yield pd.DataFrame({
                id_col: pd.Series(ids, dtype="object"),
                "_band": pd.Series(bnds, dtype="int32"),
                "_sig": pd.Series(sigs, dtype="object"),
            })

    return shingled.mapInPandas(
        gen, f"{id_col} {id_type}, _band int, _sig string"
    )


def near_dup_candidates_against_index(
    delta_sigs: DataFrame,
    index_sigs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental near-dup candidates: (delta_id, corpus_id) pairs
    whose signatures collide in any band. The production dedup shape —
    a new crawl batch is checked against the STORED corpus index
    (lsh_index_of output, typically a bucketed table partitioned on
    (_band, _sig)), so per-batch cost scales with the batch, not the
    corpus: the corpus side is never re-shingled, and the equi-join
    shuffles only the delta's signatures into the index's partitioning.
    Self-collisions (same id on both sides) are excluded; pairs are
    distinct regardless of how many bands collide."""
    a = delta_sigs.select(
        F.col(id_col).alias("delta_id"),
        F.col("_band").alias("_band"),
        F.col("_sig").alias("_sig"),
    )
    b = index_sigs.select(
        F.col(id_col).alias("corpus_id"), F.col("_band"), F.col("_sig")
    )
    return (
        a.join(b, ["_band", "_sig"])
        .filter(F.col("delta_id") != F.col("corpus_id"))
        .select("delta_id", "corpus_id")
        .distinct()
    )


def jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union == 0, F.lit(0.0)).otherwise(inter.cast("double") / union)


def ngram_jaccard_pairs(
    df: DataFrame,
    candidate_pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    n: int = 3,
    impl: str = "array",
    grams_df: DataFrame | None = None,
) -> DataFrame:
    """Verify candidate pairs (from MinHash-LSH or SimHash banding) with
    exact n-gram Jaccard. candidate_pairs: (doc_a, doc_b).

    impl='array' (default): join each side's gram-set ARRAY onto the
    pair and intersect/union per row. Right when candidate degree is
    modest — two narrow joins, one pass per pair.

    impl='exploded': never materializes a gram array on a pair row —
    |A∩B| comes from joining (pair × grams-of-a) against (doc_b, gram)
    on fixed-width md5 keys, |A∪B| from per-doc counts. The scale
    shape for skewed candidate graphs: a doc appearing in 10^4 pairs
    would copy its whole gram array 10^4 times under 'array', while
    here the work is narrow rows hash-partitioned on (doc, gram) —
    no fat rows, spreads across the cluster. Both impls are
    bit-identical (test_dedup_similarity.py).

    `grams_df` (id, gram-set array named '_g'): pass a precomputed —
    ideally checkpointed — shingle table to skip re-tokenizing; the
    candidate generator's `minhash_lsh_candidates_from_grams` shares
    the same table, so the corpus is shingled exactly once."""
    if grams_df is None:
        grams_df = ngram_set_rows(df, id_col=id_col, text_col=text_col, n=n)
    if impl == "exploded":
        gramrows = grams_df.select(
            F.col(id_col),
            F.explode(F.col("_g")).alias("_gx"),
        ).select(id_col, F.md5("_gx").alias("_g"))
        sizes = gramrows.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"))
        inter = (
            candidate_pairs.join(
                gramrows.select(F.col(id_col).alias("doc_a"), "_g"), "doc_a"
            )
            .join(
                gramrows.select(F.col(id_col).alias("doc_b"), "_g"),
                ["doc_b", "_g"],
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("_i"))
        )
        out = (
            candidate_pairs.join(inter, ["doc_a", "doc_b"], "left")
            .join(sizes.select(F.col(id_col).alias("doc_a"), F.col("_n").alias("_na")), "doc_a", "left")
            .join(sizes.select(F.col(id_col).alias("doc_b"), F.col("_n").alias("_nb")), "doc_b", "left")
            .select(
                "doc_a",
                "doc_b",
                F.when(
                    F.coalesce("_na", F.lit(0)) + F.coalesce("_nb", F.lit(0))
                    - F.coalesce("_i", F.lit(0))
                    == 0,
                    F.lit(0.0),
                )
                .otherwise(
                    F.coalesce("_i", F.lit(0)).cast("double")
                    / (
                        F.coalesce("_na", F.lit(0))
                        + F.coalesce("_nb", F.lit(0))
                        - F.coalesce("_i", F.lit(0))
                    )
                )
                .alias("jaccard"),
            )
        )
        return out.filter(F.col("jaccard") >= threshold)
    grams = grams_df
    if threshold > 0:
        # Size-ratio prune BEFORE the gram arrays attach: with
        # m = min(|A|,|B|), J(A,B) = |A∩B|/(|A|+|B|-|A∩B|) ≤
        # m/(|A|+|B|-m), so any pair with m·(1+t) < t·(|A|+|B|) is
        # provably below threshold t and can be dropped using only the
        # two set SIZES (narrow join rows) — the fat gram arrays then
        # ship for surviving pairs only. The bound is exact in the
        # reals; the 1e-9 slack makes double rounding err on the KEEP
        # side, so pruning can never change the verified result.
        sizes = grams.select(F.col(id_col), F.size("_g").alias("_n"))
        candidate_pairs = (
            candidate_pairs.join(
                sizes.select(
                    F.col(id_col).alias("doc_a"), F.col("_n").alias("_na")
                ),
                "doc_a",
            )
            .join(
                sizes.select(
                    F.col(id_col).alias("doc_b"), F.col("_n").alias("_nb")
                ),
                "doc_b",
            )
            .filter(
                F.least("_na", "_nb") * (1.0 + float(threshold)) + 1e-9
                >= float(threshold) * (F.col("_na") + F.col("_nb"))
            )
            .select("doc_a", "doc_b")
        )
    # Statistics-routed attach: when the shingle table is persisted its
    # row count is an engine-held statistic (one cheap count over the
    # cache); a bounded gram table then BROADCASTS into both attach
    # joins, so the (candidate-pair-sized, i.e. potentially huge) left
    # side never shuffles its fat rows — measured 2× on the verify
    # stage at the 10× SF. Above the bound, or unpersisted, the join
    # stays unhinted and AQE routes it from measured shuffle sizes —
    # a corpus-scale gram table must never force-broadcast.
    ga = grams.select(F.col(id_col).alias("doc_a"), F.col("_g").alias("_ga"))
    gb = grams.select(F.col(id_col).alias("doc_b"), F.col("_g").alias("_gb"))
    if grams.storageLevel.useMemory and grams.count() <= 200_000:
        ga, gb = F.broadcast(ga), F.broadcast(gb)
    out = (
        candidate_pairs.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select("doc_a", "doc_b", jaccard(F.col("_ga"), F.col("_gb")).alias("jaccard"))
    )
    return out.filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
def embedding_near_dups(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    lsh_planes: int = 12,
) -> DataFrame:
    """Near-identical embeddings: candidates from random-hyperplane LSH
    buckets (pairs with cosine ≥ .95 almost always share the full sign
    signature at 12 planes), verified with exact cosine. Deterministic
    planes derive from md5 — no RNG, reproducible across runs (and
    re-derivable by the DuckDB oracle)."""
    from news_please_spark.operators.similarity import (
        dot,
        lsh_bucket,
        norm_of,
        peek_dim,
    )

    v = (
        emb.select(
            F.col(id_col),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
        )
        .withColumn("_n", norm_of(F.col("_v")))
        .withColumn(
            "_b", lsh_bucket(F.col("_v"), lsh_planes, dim=peek_dim(emb, vec_col))
        )
    )
    a, b = v.alias("a"), v.alias("b")
    cand = a.join(
        b,
        (F.col("a._b") == F.col("b._b"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    )
    return cand.select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        (dot(F.col("a._v"), F.col("b._v")) / (F.col("a._n") * F.col("b._n"))).alias(
            "cos"
        ),
    ).filter(F.col("cos") >= threshold)


# ---------------------------------------------------------------------------
# exact-substring dedup (Lee et al. 2022, "Deduplicating Training Data
# Makes Language Models Better" — the ExactSubstr modality). The paper
# builds one suffix array over the whole corpus; that is a single-machine
# layout. The distributed re-expression: a length-k token window is
# duplicated iff its k-gram fingerprint occurs >= min_count times in the
# corpus, and maximal duplicated substrings are exactly the unions of
# overlapping flagged windows — so the corpus-wide state is ONE
# map-side-combinable count per fixed-width md5 key, and span assembly is
# a per-document gaps-and-islands window (bounded by document length).
# No suffix array, no posting lists, nothing driver-resident.
def dup_substring_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Maximal duplicated token spans per document.

    Returns (id_col, span_start, span_end, span_len): 0-based inclusive
    token positions such that every length-k window inside the span has
    corpus frequency >= min_count (counting ALL occurrences, so a
    within-document repeat of itself also flags — same as ExactSubstr).
    Overlapping and adjacent windows merge into one maximal span.

    Scale plan:
      1. (doc, pos, md5(gram)) occurrence rows — fixed-width keys, raw
         text never crosses a shuffle;
      2. corpus frequency via groupBy(key) count, map-side combined;
         the >= min_count survivor set is joined back LEFT SEMI on the
         key both sides were just hash-partitioned by;
      3. interval merge per doc: one window over (doc, pos) whose state
         is a running max of span ends — per-partition work is bounded
         by tokens-per-document, never corpus size.
    """
    toks = dedup_tokens(F.col(text_col))
    occ = (
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
        .select(
            "_id",
            F.posexplode(_pos_ngrams(F.col("_t"), k)).alias("_pos", "_g"),
        )
        .select("_id", "_pos", F.md5("_g").alias("_g"))
    )
    dup_keys = (
        occ.groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("_g")
    )
    flagged = occ.join(dup_keys, "_g", "left_semi").select("_id", "_pos")
    w = Window.partitionBy("_id").orderBy("_pos")
    prev_end = F.max(F.col("_pos") + (k - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = F.when(
        prev_end.isNull() | (F.col("_pos") > prev_end + 1), 1
    ).otherwise(0)
    isl = F.sum(new_island).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        flagged.withColumn("_isl", isl)
        .groupBy("_id", "_isl")
        .agg(
            F.min("_pos").alias("span_start"),
            (F.max("_pos") + (k - 1)).alias("span_end"),
        )
        .select(
            F.col("_id").alias(id_col),
            F.col("span_start").cast("long").alias("span_start"),
            F.col("span_end").cast("long").alias("span_end"),
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("long")
            .alias("span_len"),
        )
    )


def strip_dup_substrings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Rebuild each document with every duplicated span removed (the
    ExactSubstr cut step). Token positions covered by a span from
    dup_substring_spans are dropped; survivors re-join with single
    spaces (whitespace is normalized — the span grammar is token-level).

    The per-document span list rides a groupBy(id) collect_list whose
    size is bounded by tokens/k per document, then a single indexed
    array filter — no position-grain shuffle, no second pass over the
    corpus text."""
    spans = (
        dup_substring_spans(df, text_col, id_col, k, min_count)
        .groupBy(id_col)
        .agg(
            F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
        )
    )
    toks = dedup_tokens(F.col(text_col))
    joined = df.join(spans, id_col, "left")
    covered = lambda i: F.exists(  # noqa: E731
        F.coalesce(F.col("_spans"), F.array()),
        lambda s: (i >= s["span_start"]) & (i <= s["span_end"]),
    )
    kept = F.filter(toks, lambda x, i: ~covered(i))
    return joined.select(
        F.col(id_col),
        F.concat_ws(" ", kept).alias("clean_text"),
        F.size(kept).cast("long").alias("kept_tokens"),
        F.size(toks).cast("long").alias("total_tokens"),
    )


def dedup_tokens(text: Column) -> Column:
    """The one tokenizer every substring operator shares (must stay
    identical to functions.text.tokens for cross-operator consistency)."""
    from news_please_spark.functions.text import tokens

    return tokens(text)


def _pos_ngrams(text: Column, n: int) -> Column:
    """Overlapping word n-grams in document order (position = slot
    index); reuses the zip_with-over-shifted-slices shape that keeps
    interpreted HOF evaluation O(L) per row (see repetition.ngrams)."""
    from news_please_spark.operators.repetition import ngrams

    return ngrams(text, n)


def semantic_dedup(
    emb: DataFrame,
    n_lists: int = 64,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pre_bucket_planes: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): cluster embeddings into cells with a coarse
    quantizer, compare pairs ONLY within a cell, and drop every doc
    that has a semantically near-identical neighbor with a smaller id
    (the paper keeps one exemplar per dup group; smallest-id is the
    deterministic, engine-portable exemplar rule).

    Differences from ``embedding_near_dups`` (the LSH variant): cells
    come from nearest-centroid assignment (ivf_assign_cells — md5-rank
    codebook, zero-shuffle fold), which catches near-dups whose sign
    signatures differ, and the output is a per-doc verdict rather than
    a pair list.

    Scale: within-cell comparison is |cell|² — the SemDeDup design
    point — so cells must stay ~10^3-10^4 vectors.  Growing ``n_lists``
    with the corpus would do that but reintroduces the unbounded-
    codebook trap (O(n·n_lists) assignment + an ever-fatter broadcast —
    the defect class ivf_topk fixed): the codebook must stay FIXED.
    Instead set ``pre_bucket_planes`` at design scale: the cell key
    becomes (sign-LSH bucket, ivf cell), giving 2^planes · n_lists
    cells from a bounded codebook and a free LSH hash — near-identical
    vectors (cos ≥ .95) almost always share the full sign signature,
    the same recall argument embedding_near_dups runs on.  At 10^10
    docs: planes=18, n_lists=256 → ~150 docs/cell.  The pair join is an
    equi-join on the cell key either way; the corpus is never crossed.
    Output: (id, cell, is_dup) — cell is the ivf cell id; the LSH
    bucket only sharpens the join key.
    """
    from news_please_spark.operators.similarity import (
        as_double,
        dot,
        ivf_assign_cells,
        norm_of,
        peek_dim,
    )

    from news_please_spark.operators.similarity import lsh_bucket

    cells = ivf_assign_cells(
        emb, n_lists=n_lists, id_col=id_col, vec_col=vec_col
    )
    v = (
        emb.select(F.col(id_col), as_double(F.col(vec_col)).alias("_v"))
        .withColumn("_n", norm_of(F.col("_v")))
        .join(cells, id_col)
    )
    if pre_bucket_planes is not None:
        v = v.withColumn(
            "_bk",
            lsh_bucket(F.col("_v"), pre_bucket_planes, dim=peek_dim(emb, vec_col)),
        )
    else:
        v = v.withColumn("_bk", F.lit(0))
    a, b = v.alias("a"), v.alias("b")
    dups = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a._bk") == F.col("b._bk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter(
            dot(F.col("a._v"), F.col("b._v")) / (F.col("a._n") * F.col("b._n"))
            >= threshold
        )
        .select(F.col(f"b.{id_col}").alias(id_col))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return (
        cells.join(dups, id_col, "left")
        .select(
            F.col(id_col),
            "cell",
            F.coalesce(F.col("_dup"), F.lit(False)).alias("is_dup"),
        )
    )


def apply_cdc_to_index(
    index: DataFrame,
    changes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Maintain the stored LSH signature index from a CDC feed (the
    `state.diff_table` shape: one row per changed key, ``_change`` in
    insert/update/delete; insert/update rows carry the new text) —
    the incremental-pipeline closure of lsh_index_of: signatures of
    every changed id are retracted (one left_anti on id), insert/update
    docs are shingled and appended. Per-batch cost scales with the
    change set; the corpus is NEVER re-shingled and the index never
    rebuilt. Invariant (oracle-checked by the cdc_lsh_index entry):
    the maintained index is row-identical to lsh_index_of over the
    post-change corpus."""
    changed_ids = changes.select(F.col(id_col)).distinct()
    kept = index.join(changed_ids, id_col, "left_anti")
    upserts = changes.filter(F.col("_change").isin("insert", "update"))
    shingled = (
        ngram_set_rows(upserts, id_col=id_col, text_col=text_col, n=n)
        .withColumnRenamed("_g", "_sh")
        .filter(F.size("_sh") > 0)
    )
    return kept.unionByName(lsh_index_of(shingled, id_col=id_col, bands=bands))


# ---------------------------------------------------------------------------
# LSH parameter selection (the MMDS ch.3 S-curve analysis)


def lsh_collision_prob(s: float, bands: int, rows: int) -> float:
    """Probability two sets with Jaccard similarity ``s`` share at
    least one LSH bucket under (bands × rows) banding:
    1 - (1 - s^rows)^bands.  rows=1 is this repo's candidate
    generator (each band one independent min-hash — monotone curve,
    recall-heavy, precision delegated to the exact verify stage)."""
    if not 0.0 <= s <= 1.0:
        raise ValueError(f"similarity must be in [0, 1], got {s}")
    return 1.0 - (1.0 - s**rows) ** bands


def choose_lsh_params(
    threshold: float,
    max_hashes: int,
    fn_weight: float = 1.0,
    grid: int = 1000,
) -> tuple[int, int]:
    """(bands, rows) minimizing expected banding error for a target
    Jaccard ``threshold`` under a signature budget of ``max_hashes``
    (= bands·rows): error = ∫₀ᵗ p(s) ds  (false-positive mass the
    verify stage must re-check) + fn_weight · ∫ₜ¹ (1−p(s)) ds
    (near-dups silently missed — weight it up when missing duplicates
    is costlier than extra verification).  Trapezoid integration on a
    fixed grid; exhaustive over the O(max_hashes·√max_hashes) divisor
    pairs — a config-time driver computation, never per-row.

    The classic rule of thumb threshold ≈ (1/bands)^(1/rows) falls out:
    the chosen pair's inflection lands near ``threshold``."""
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if max_hashes < 1:
        raise ValueError(f"max_hashes must be positive, got {max_hashes}")
    best: tuple[float, int, int] | None = None
    for rows in range(1, max_hashes + 1):
        bands = max_hashes // rows
        if bands < 1:
            break
        fp = fn = 0.0
        for i in range(grid):
            s = (i + 0.5) / grid
            p = lsh_collision_prob(s, bands, rows)
            if s < threshold:
                fp += p
            else:
                fn += (1.0 - p) * fn_weight
        err = (fp + fn) / grid
        if best is None or err < best[0] - 1e-12:
            best = (err, bands, rows)
    assert best is not None
    return best[1], best[2]


def canonical_per_cluster(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    root_col: str = "root",
    score_col: str = "score",
) -> DataFrame:
    """Quality-aware exemplar selection: keep the BEST member of each
    near-dup cluster, not the smallest-id one. SemDeDup/RefinedWeb
    keep an arbitrary exemplar; real curation keeps the member the
    quality signal ranks highest (the longest/cleanest mirror of a
    syndicated article), which measurably improves the surviving
    corpus at the same dedup rate.

    Deterministic rule: max score, ties to the SMALLEST id. Output:
    (root, canonical_id, score, members). One AQE-routed join of the
    cluster map to the per-doc score table and one map-side-combinable
    agg — max(struct(score, -id)) is a semigroup, so no window, no
    per-cluster skew cell even for a boilerplate cluster with 10^7
    members."""
    j = clusters.join(scores, id_col)
    best = F.max(
        F.struct(
            F.col(score_col).alias("s"), (-F.col(id_col)).alias("nid")
        )
    )
    return (
        j.groupBy(root_col)
        .agg(best.alias("_b"), F.count(F.lit(1)).alias("members"))
        .select(
            root_col,
            (-F.col("_b.nid")).alias("canonical_id"),
            F.col("_b.s").alias(score_col),
            "members",
        )
    )


# ---------------------------------------------------------------------------
# asymmetric containment (syndication / quotation detection)
def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    window_tokens: int = 32,
    stride: int = 16,
    threshold_q: int = 8000,
    max_fp_docs: int = 64,
) -> DataFrame:
    """Asymmetric containment scoring — the syndication/quotation signal
    resemblance misses (Broder 1997 separates resemblance |A∩B|/|A∪B|
    from CONTAINMENT |A∩B|/|A|): a 60-token snippet copied into a
    2,000-token article has Jaccard ~0.03 (invisible to the near-dup
    pipeline's threshold) but containment ~1.0.

    Candidates: pairs sharing >= 1 rolling `window_tokens`-token
    fingerprint (functions/text.rolling_fingerprints_of, same
    window/stride as the rolling_fingerprint entry) — a verbatim run
    that long survives in BOTH docs, exactly the snippet signal;
    banding the WHOLE doc (MinHash-LSH) would dilute it away.
    Fingerprints shared by more than `max_fp_docs` docs are dropped
    before pairing (boilerplate banners shared by 10^5 docs would
    otherwise emit 10^10 candidate pairs — the stop-fingerprint cap;
    the dropped mass is boilerplate, which span_boilerplate already
    handles). Verify: exact n-gram containment BOTH directions on
    candidates only, quantized to basis points.

    Returns (doc_a, doc_b, cont_a_q, cont_b_q, relation) with
    relation in {'mutual', 'a_in_b', 'b_in_a'} per threshold_q;
    sub-threshold candidate pairs are dropped. Lowercased-token
    convention end-to-end (one casing for fingerprints AND grams).
    Scale shape: fingerprint pairing and gram intersection are narrow
    md5-keyed equi-joins, hash-partitioned — no fat gram arrays ride
    pair rows (the 'exploded' jaccard shape)."""
    from news_please_spark.functions.text import rolling_fingerprints_of

    toks = df.select(F.col(id_col), tokens_of(F.col(text_col)).alias("_toks"))
    fps = toks.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                rolling_fingerprints_of(F.col("_toks"), window_tokens, stride)
            )
        ).alias("_fp"),
    )
    # fps feeds the degree cap AND both pair sides; grams feed sizes AND
    # both intersection sides — lazy persist so tokenize/fingerprint/
    # shingle (the dominant map cost) is paid once, not 3x (the
    # jaccard_verify sharing discipline)
    fps = fps.persist()
    keep_fp = (
        fps.groupBy("_fp")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") <= max_fp_docs)
        .select("_fp")
    )
    fps = fps.join(keep_fp, "_fp", "left_semi")
    cand = (
        fps.select(F.col(id_col).alias("doc_a"), "_fp")
        .join(fps.select(F.col(id_col).alias("doc_b"), "_fp"), "_fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    grams = df.select(
        F.col(id_col), F.explode(ngram_set(F.col(text_col), n)).alias("_gx")
    ).select(id_col, F.md5("_gx").alias("_g")).persist()
    sizes = grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"))
    inter = (
        cand.join(grams.select(F.col(id_col).alias("doc_a"), "_g"), "doc_a")
        .join(grams.select(F.col(id_col).alias("doc_b"), "_g"), ["doc_b", "_g"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("_i"))
    )
    scored = (
        cand.join(inter, ["doc_a", "doc_b"], "left")
        .join(
            sizes.select(F.col(id_col).alias("doc_a"), F.col("_n").alias("_na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("doc_b"), F.col("_n").alias("_nb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.floor(
                F.lit(10000) * F.coalesce("_i", F.lit(0)) / F.col("_na")
            ).cast("long").alias("cont_a_q"),
            F.floor(
                F.lit(10000) * F.coalesce("_i", F.lit(0)) / F.col("_nb")
            ).cast("long").alias("cont_b_q"),
        )
    )
    thr = F.lit(threshold_q)
    rel = (
        F.when((F.col("cont_a_q") >= thr) & (F.col("cont_b_q") >= thr), F.lit("mutual"))
        .when(F.col("cont_a_q") >= thr, F.lit("a_in_b"))
        .when(F.col("cont_b_q") >= thr, F.lit("b_in_a"))
    )
    return scored.withColumn("relation", rel).filter(F.col("relation").isNotNull())


def lsh_recall_audit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
    n: int = 3,
    min_q: int = 5000,
    bucket_q: int = 1000,
) -> DataFrame:
    """EMPIRICAL recall of the banded-MinHash candidate generator,
    measured against exact all-pairs n-gram Jaccard on the given
    (sampled) docs: per similarity bucket [min_q + i*bucket_q, ...),
    how many truly-similar pairs exist and how many the LSH banding
    surfaced. choose_lsh_params predicts the S-curve from theory; this
    measures it on YOUR corpus — the calibration audit that catches a
    shingle/band misconfiguration before a 100-TB dedup run silently
    under-recalls.

    Run it on a SAMPLE (the exact side is all-pairs within the input:
    O(|sample|²) gram intersections — that is the point; the audit's
    cost contract is sample-sized, never corpus-sized). Returns
    (bucket_q, n_true_pairs, n_candidates, recall_q) with bucket_q =
    the bucket's lower bound in basis points."""
    grams = (
        ngram_set_rows(df, id_col=id_col, text_col=text_col, n=n)
        .filter(F.size("_g") > 0)
        .persist()
    )
    a = grams.select(F.col(id_col).alias("doc_a"), F.col("_g").alias("_ga"))
    b = grams.select(F.col(id_col).alias("doc_b"), F.col("_g").alias("_gb"))
    exact = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.floor(jaccard(F.col("_ga"), F.col("_gb")) * 10000)
            .cast("long")
            .alias("jq"),
        )
        .filter(F.col("jq") >= min_q)
    )
    cand = minhash_lsh_candidates_from_grams(
        grams, id_col=id_col, gram_col="_g", bands=bands
    ).withColumn("_found", F.lit(1))
    joined = exact.join(cand, ["doc_a", "doc_b"], "left")
    bucket = (F.floor((F.col("jq") - min_q) / bucket_q) * bucket_q + min_q).cast(
        "long"
    )
    out = (
        joined.groupBy(bucket.alias("bucket_q"))
        .agg(
            F.count(F.lit(1)).alias("n_true_pairs"),
            F.sum(F.coalesce("_found", F.lit(0))).cast("long").alias("n_candidates"),
        )
        .withColumn(
            "recall_q",
            F.floor(
                F.lit(10000) * F.col("n_candidates") / F.col("n_true_pairs")
            ).cast("long"),
        )
    )
    return out


def bbit_minhash_sigs(
    docs: DataFrame,
    k: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """1-bit minhash signatures (Li & König, WWW 2010, "b-Bit Minwise
    Hashing"): keep only the LOWEST BIT of each of k independent
    minhashes and pack them into one BIGINT — a 64x storage/bandwidth
    cut over 64-bit minhash rows, which at 10^10 documents is the
    difference between a signature table that ships to every join and
    one that doesn't.  The price is variance, paid back by raising k
    cheaply (bits are nearly free).

    Estimator (b=1, large hash domain): if m of k bits agree,
    J ≈ 2m/k − 1 — collision probability of one bit is
    (1+J)/2 for unrelated low bits.  bbit_minhash_sim applies it
    integer-exactly.

    Signature arithmetic is engine-portable: minhash_i(doc) =
    min over shingles of md5(i || '|' || shingle); its low bit is the
    parity of the last hex digit; bits pack little-endian (bit i
    from hash family i).  The whole signature is per-row HOF folds —
    zero shuffle, rides the scan.

    Output: (doc_id, sig BIGINT); docs with no shingles are dropped."""
    if not 1 <= k <= 63:
        raise ValueError("k must be in 1..63 (packed into one BIGINT)")
    grams = ngram_set(F.col(text_col))
    # one SQL fold (the python shiftleft wrapper takes only literal
    # shifts; the SQL function shifts by a column)
    sig = F.expr(
        f"""aggregate(
              sequence(0, {int(k) - 1}), CAST(0 AS BIGINT),
              (acc, i) -> acc + shiftleft(
                CAST(conv(substring(
                  array_min(transform(_g,
                    s -> md5(concat(CAST(i AS STRING), '|', s)))),
                  32, 1), 16, 10) AS BIGINT) % 2,
                i))"""
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"), grams.alias("_g"))
        .filter(F.size("_g") > 0)
        .select("doc_id", sig.alias("sig"))
    )


def bbit_minhash_sim(
    pairs: DataFrame,
    sigs: DataFrame,
    k: int = 32,
) -> DataFrame:
    """Estimate Jaccard for candidate pairs from packed 1-bit
    signatures: matched_bits = k − popcount(sig_a XOR sig_b),
    sim_est_q = max(0, floor(10^4 · (2·matched − k) / k)) — the b=1
    estimator in basis points, clamped at 0 (negative estimates mean
    "unrelated").  Two fixed-width hash joins + codegen'd bit ops; the
    signature table is the ONLY thing joined — no text moves.

    pairs: (doc_a, doc_b); sigs: bbit_minhash_sigs output."""
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("_sa"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("_sb"))
    j = pairs.join(sa, "doc_a").join(sb, "doc_b")
    matched = F.lit(int(k)) - F.bit_count(
        F.col("_sa").bitwiseXOR(F.col("_sb"))
    ).cast("long")
    m2 = 2 * matched - F.lit(int(k))
    est = F.when(m2 <= 0, F.lit(0)).otherwise(
        F.floor(m2 * 10000 / F.lit(int(k)))
    )
    return j.select(
        "doc_a",
        "doc_b",
        matched.cast("long").alias("matched_bits"),
        est.cast("long").alias("sim_est_q"),
    )


def winnow_plagiarism_pairs(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    max_df: int = 64,
    min_shared: int = 2,
) -> DataFrame:
    """Plagiarism / local-overlap pair detection from winnowing
    fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003 — the MOSS
    scheme): per doc, select window-min k-gram hashes (density
    2/(w+1)), then pair documents that share selected fingerprints.
    The winnowing guarantee makes this the right primitive for
    PARTIAL-copy detection: any shared token run of length >= w+k-1
    (here 8) shares at least one selected fingerprint, so a 40-token
    lift inside an otherwise unrelated document — invisible to
    whole-doc Jaccard/MinHash — is caught with ~2/(w+1) density
    evidence, while rolling_fingerprint's fixed-stride windows
    desynchronize after a single-token insertion.

    Scale shape: fingerprints are selected in one zero-shuffle array
    fold per doc (md5 per gram paid once); the ONLY keys that shuffle
    are (fp) for the document-frequency cap and the candidate
    equi-join, and (doc_a, doc_b) for the shared count — text never
    moves. The df cap (drop fps appearing in > max_df docs, the
    boilerplate/stop-fingerprint class) bounds the per-fp join fan-out
    at max_df^2, exactly the guard containment_pairs uses, so a
    pathological fingerprint cannot produce a quadratic pair
    explosion at corpus scale. The exploded fp table feeds both the
    cap aggregate and the join, so it is persisted for the duration of
    the job (reference analogue: news-please dedupes whole URLs via
    the scrapy dupefilter — reference has no sub-document overlap
    detection; this is a beyond-reference training-data operator).

    Output: (doc_a, doc_b, shared, score_q) — shared = count of
    common selected fingerprints, score_q = floor(10^4 * shared /
    min(n_fp_a, n_fp_b)) basis points against the smaller fingerprint
    set (containment-style, so a short doc fully lifted into a long
    one still scores high)."""
    from pyspark.sql import functions as F

    from news_please_spark.functions.text import winnow_fp_set_rows

    # One mapInPandas pass (see winnow_fp_set_rows): the Column chain
    # re-evaluated the tokenization — and whatever upstream expression
    # produced `text`, e.g. winnow_pairs' augmentation CASE/concat —
    # once per GRAM after CollapseProject inlined it into the HOF
    # lambdas: O(L²) interpreted regex splits per row (769 s at the
    # 10× measurement SF vs ~4 s for this kernel).
    fps = winnow_fp_set_rows(docs, k=k, w=w).persist()
    keep = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") <= max_df)
        .select("fp")
    )
    kept = fps.join(keep, "fp", "left_semi")
    a = kept.select(
        F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("_na"), "fp"
    )
    b = kept.select(
        F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("_nb"), "fp"
    )
    pairs = (
        a.join(b, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "_na", "_nb")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= min_shared)
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        "shared",
        F.floor(
            F.col("shared") * 10000 / F.least(F.col("_na"), F.col("_nb"))
        )
        .cast("long")
        .alias("score_q"),
    )
