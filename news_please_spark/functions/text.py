"""Text-analysis scalar functions for training-data pipelines (task
brief: language-ID, quality scoring, token counting, fingerprinting) —
all native Column expressions, shared by the query registry and the
extraction pipeline. Quantized variants (floor(x*10^4) as long) exist so
cross-engine comparisons are exact.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EN_STOP = ("the", "a", "of", "and")
STOPWORDS = {
    "en": EN_STOP,
    "de": ("der", "die", "und"),
    "es": ("el", "los", "y"),
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization (the baseline counter)."""
    return F.split(F.trim(text), r"\s+")


def bpe_ish_tokens(text: Column) -> Column:
    """BPE-ish sub-word count: words + digit runs + punctuation marks
    split out (a regex approximation of what a trained tokenizer would
    emit — useful as a corpus-size proxy)."""
    return F.regexp_extract_all(
        F.lower(text), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0
    )


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


def stopword_ratio_q(text: Column, stop: tuple[str, ...] = EN_STOP) -> Column:
    t = tokens(text)
    return F.floor(
        10000.0 * F.size(F.filter(t, lambda x: x.isin(*stop))) / F.size(t)
    ).cast("long")


def alpha_ratio_q(text: Column) -> Column:
    return F.floor(
        10000.0 * F.length(F.regexp_replace(text, "[^a-z]", "")) / F.length(text)
    ).cast("long")


def quality_struct(text: Column) -> Column:
    """Quality-scoring bundle: token/char counts + ratios."""
    t = tokens(text)
    return F.struct(
        F.size(t).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(t)).cast("long").alias("n_uniq"),
        F.length(text).cast("long").alias("n_chars"),
        alpha_ratio_q(text).alias("alpha_q"),
        stopword_ratio_q(text).alias("stop_q"),
    )


def lang_scores(text: Column) -> dict[str, Column]:
    t = tokens(text)

    def _counter(words):  # real closure: a default arg would read as the
        return lambda x: x.isin(*words)  # HOF's (element, index) form

    return {
        lang: F.size(F.filter(t, _counter(words)))
        for lang, words in STOPWORDS.items()
    }


def predict_lang(text: Column) -> Column:
    """Stopword-vote language id ('und' when nothing matches) —
    the table-level primitive behind extraction's E4 fallback."""
    s = lang_scores(text)
    return (
        F.when(
            (s["en"] >= s["de"]) & (s["en"] >= s["es"]) & (s["en"] > 0), F.lit("en")
        )
        .when((s["de"] >= s["es"]) & (s["de"] > 0), F.lit("de"))
        .when(s["es"] > 0, F.lit("es"))
        .otherwise(F.lit("und"))
    )


def fingerprint(text: Column) -> Column:
    """Normalized-content identity: md5 of lowercased,
    whitespace-collapsed text."""
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "))


def rolling_fingerprints_of(
    t: Column, window_tokens: int = 32, stride: int = 16
) -> Column:
    """Windowed fingerprints over an ALREADY-MATERIALIZED token array
    column. The window slice necessarily references `t` inside the
    transform lambda (the offset is per-element), so `t` must be a
    column attribute — passing a raw split(...) expression here would
    re-tokenize the whole text once per window in interpreted eval
    (O(L^2/stride) per row). `t` is referenced twice (window count +
    slice), which also keeps CollapseProject from re-inlining a
    projected token column into this expression."""
    n_win = F.greatest(
        F.ceil((F.size(t) - window_tokens) / stride) + 1, F.lit(1)
    ).cast("int")
    return F.transform(
        F.sequence(F.lit(0), n_win - 1),
        lambda i: F.md5(
            F.array_join(F.slice(t, i * stride + 1, window_tokens), " ")
        ),
    )


def rolling_fingerprints(text: Column, window_tokens: int = 32, stride: int = 16) -> Column:
    """Windowed fingerprints (rolling-hash style): md5 per token window —
    the building block for partial-overlap / containment detection.
    Convenience form for small texts; for per-row-heavy plans, project
    tokens(text) to a column first and use rolling_fingerprints_of."""
    return rolling_fingerprints_of(tokens(text), window_tokens, stride)


def kgram_hashes_of(t: Column, k: int = 5) -> Column:
    """md5 per k-token shingle at EVERY position of an already-
    materialized token array (empty array when the doc is shorter than
    k tokens — the guard matters because sequence(0, n-k) DESCENDS when
    n < k). One md5 per gram, computed once; winnow_selections_of then
    only compares/indexes, never re-hashes."""
    return F.when(
        F.size(t) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(t) - k),
            lambda i: F.md5(F.array_join(F.slice(t, i + 1, k), " ")),
        ),
    ).otherwise(F.array().cast("array<string>"))


def winnow_selections_of(grams: Column, w: int = 4) -> Column:
    """Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 §4) over an ALREADY-MATERIALIZED k-gram hash array: in
    every window of w consecutive gram hashes keep the minimum, ties
    broken by RIGHTMOST position — the robust-winnowing rule that
    guarantees any match of length >= w + k - 1 tokens shares a selected
    fingerprint, at expected density 2/(w+1). Docs with fewer than w
    grams get one window over all their grams. Returns
    array<struct<pos:int, fp:string>> (positions 0-based, duplicates
    across overlapping windows NOT yet removed — array_distinct or a
    downstream DISTINCT does that).

    The fold's zero is ("g", -1): every md5 hex digest is < "g"
    lexicographically, so the first gram always replaces it — this
    avoids seeding from element j, whose "iterate from j+1" sequence
    would DESCEND on single-gram windows. Cost O(g * w) comparisons per
    doc with w constant; the md5s were paid once in kgram_hashes_of."""
    ng = F.size(grams)
    n_win = F.greatest(ng - w + 1, F.lit(1))
    sel = F.transform(
        F.sequence(F.lit(0), n_win - 1),
        lambda j: F.aggregate(
            F.sequence(j, F.least(j + w - 1, ng - 1)),
            F.struct(
                F.lit("g").alias("fp"), F.lit(-1).cast("int").alias("pos")
            ),
            lambda acc, i: F.when(
                F.element_at(grams, i + 1) <= acc["fp"],
                F.struct(
                    F.element_at(grams, i + 1).alias("fp"),
                    i.cast("int").alias("pos"),
                ),
            ).otherwise(acc),
        ),
    )
    # gramless docs (shorter than k tokens) select nothing; without the
    # guard the single default window would element_at an empty array
    return F.when(ng > 0, sel).otherwise(
        F.array().cast("array<struct<fp:string,pos:int>>")
    )


def winnow_fingerprint_rows(df, id_col: str = "doc_id", text_col: str = "text",
                            k: int = 5, w: int = 4):
    """Winnowing selection as a mapInPandas kernel: per doc, md5 per
    k-token shingle (hashlib, C-backed) + the O(g·w) window-min scan in
    a plain Python loop, emitting DISTINCT (id, pos, fp) rows.

    Bit-identical to the Column pipeline tokens → kgram_hashes_of →
    array_distinct(winnow_selections_of) → explode (regression-pinned
    in test_properties), but ~15× cheaper per row: the interpreted-HOF
    path paid per-element lambda eval for every md5 AND every window
    comparison — at 10^9 docs that is the difference between the scan
    riding the parquet read and a CPU-bound straggler stage. Same
    robust-winnowing rule (rightmost min via <=), same tokenizer image
    as split(trim(text), '\\s+'): strip SPACES only (Spark trim), Java
    \\s class, and KEEP leading/trailing empty tokens (Spark split uses
    Java limit=-1 semantics)."""
    import hashlib
    import re

    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    id_type = df.schema[id_col].dataType.simpleString()

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids, poss, fps = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                toks = ws.split((text or "").strip(" "))
                ng = len(toks) - k + 1
                if ng <= 0:
                    continue
                grams = [
                    hashlib.md5(" ".join(toks[i:i + k]).encode()).hexdigest()
                    for i in range(ng)
                ]
                seen = set()
                for j in range(max(ng - w + 1, 1)):
                    best, pos = "g", -1
                    for i in range(j, min(j + w, ng)):
                        if grams[i] <= best:
                            best, pos = grams[i], i
                    if (pos, best) not in seen:
                        seen.add((pos, best))
                        ids.append(doc_id)
                        poss.append(pos)
                        fps.append(best)
            yield pd.DataFrame({id_col: pd.Series(ids, dtype="object"),
                                "pos": pd.Series(poss, dtype="int32"),
                                "fp": pd.Series(fps, dtype="object")})

    return df.select(id_col, text_col).mapInPandas(
        gen, f"{id_col} {id_type}, pos int, fp string"
    )


def winnow_fp_set_rows(df, id_col: str = "doc_id", text_col: str = "text",
                       k: int = 5, w: int = 4):
    """Winnowing fingerprint SETS as a mapInPandas kernel: per doc, the
    DISTINCT selected fingerprints plus their count — the exploded
    (id, n_fp, fp) table winnow_plagiarism_pairs joins on.

    Bit-identical to tokens → kgram_hashes_of → array_distinct(
    transform(winnow_selections_of, s.fp)) → size + explode, but one
    pass of C md5 + a tight window loop. The Column chain was O(L²)
    per row in interpreted eval once CollapseProject inlined the
    tokenization (and any upstream text expression, e.g. the
    winnow_pairs augmentation join's CASE/concat) into the per-element
    lambdas — each gram re-split the whole text. Docs with no grams
    (< k tokens) emit nothing, matching the WHERE size > 0 guard."""
    import hashlib
    import re

    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    id_type = df.schema[id_col].dataType.simpleString()

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids, nfps, fps_out = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                toks = ws.split((text or "").strip(" "))
                ng = len(toks) - k + 1
                if ng <= 0:
                    continue
                grams = [
                    hashlib.md5(" ".join(toks[i:i + k]).encode()).hexdigest()
                    for i in range(ng)
                ]
                seen: dict[str, None] = {}
                for j in range(max(ng - w + 1, 1)):
                    best = "g"
                    for i in range(j, min(j + w, ng)):
                        if grams[i] <= best:
                            best = grams[i]
                    if best not in seen:
                        seen[best] = None
                n = len(seen)
                for fp in seen:
                    ids.append(doc_id)
                    nfps.append(n)
                    fps_out.append(fp)
            yield pd.DataFrame({
                id_col: pd.Series(ids, dtype="object"),
                "n_fp": pd.Series(nfps, dtype="int32"),
                "fp": pd.Series(fps_out, dtype="object"),
            })

    return df.select(id_col, text_col).mapInPandas(
        gen, f"{id_col} {id_type}, n_fp int, fp string"
    )


# ---------------------------------------------------------------------------
# Hashed-linear quality classifier (fastText-style inference as a scan)

HASHED_LM_BUCKETS = 512
_HASH_MULT = 2654435761  # Knuth's multiplicative constant
_W_MOD = 2003  # prime > 2*buckets so bucket->weight is injective at 512


def hashed_bucket(token: Column, buckets: int = HASHED_LM_BUCKETS) -> Column:
    """Engine-portable feature hashing: first 8 hex chars of md5 as an
    unsigned 32-bit int, mod the bucket count.  (DuckDB image:
    ('0x' || substr(md5(t),1,8))::BIGINT % buckets.)"""
    return (
        F.conv(F.substring(F.md5(token), 1, 8), 16, 10).cast("long") % buckets
    )


def bucket_weight(bucket: Column) -> Column:
    """Deterministic integer weight in [-1001, 1001] derived from the
    bucket id — the stand-in for a trained weight vector.  A REAL model's
    weights would ride as a broadcast `F.create_map` literal over the same
    bucket expression (config-sized: `buckets` ints), keeping the exact
    same zero-shuffle plan; deriving them arithmetically here keeps the
    cross-engine oracle derivable with no side-channel weight file."""
    return (bucket * _HASH_MULT) % _W_MOD - (_W_MOD - 1) // 2


def hashed_linear_logit(
    tok_array: Column, buckets: int = HASHED_LM_BUCKETS
) -> Column:
    """Linear-model inference as ONE zero-shuffle fold: the sum over
    tokens of the hashed feature's weight (fastText-style bag-of-hashed-
    words scoring, Joulin et al. 2016).  Integer arithmetic end-to-end,
    so results are bit-identical across engines and partitionings.

    Scale shape: no explode, no groupBy, no join — the classifier is a
    map-side Column over the corpus scan, which is what lets quality
    filtering run inside the same stage as the parquet read at 100 TB.
    The fold's lambda touches only (acc, tok) — one md5 per token,
    O(tokens) per row (the interpreted-HOF trap is re-deriving OUTER
    expressions per element, which this avoids)."""
    return F.aggregate(
        tok_array,
        F.lit(0).cast("long"),
        lambda acc, t: acc + bucket_weight(hashed_bucket(t, buckets)),
    )


# ---------------------------------------------------------------------------
# Unicode script profiling — the script-level complement to the n-gram
# language heuristic above: codepoint-range counts per writing system,
# used for script filtering/routing in multilingual corpus prep (e.g.
# route CJK to a different tokenizer, drop scripts outside the training
# mix). Counts are exact integers (length minus length-after-removal),
# so the whole profile is oracle-gated; character classes are built
# from literal BMP codepoints, giving identical semantics to Java
# regex and RE2.

_SCRIPT_RANGES: list[tuple[str, list[tuple[int, int]]]] = [
    ("latin", [(0x41, 0x5A), (0x61, 0x7A), (0xC0, 0x24F)]),
    ("cyrillic", [(0x400, 0x4FF)]),
    ("arabic", [(0x600, 0x6FF)]),
    ("devanagari", [(0x900, 0x97F)]),
    ("cjk", [(0x3040, 0x30FF), (0x4E00, 0x9FFF)]),  # kana + unified han
    ("hangul", [(0xAC00, 0xD7AF)]),
]

SCRIPT_NAMES = [name for name, _ in _SCRIPT_RANGES]


def script_char_class(name: str) -> str:
    """The literal-codepoint regex character class for one script."""
    ranges = dict(_SCRIPT_RANGES)[name]
    return "[" + "".join(f"{chr(a)}-{chr(b)}" for a, b in ranges) + "]"


def script_count(text: Column, name: str) -> Column:
    """Exact count of ``text``'s characters in the script's ranges."""
    return (
        F.length(text)
        - F.length(F.regexp_replace(text, script_char_class(name), ""))
    ).cast("long")


def dominant_script(text: Column) -> Column:
    """The script with the most characters; first in SCRIPT_NAMES order
    wins ties; 'none' when no profiled script appears."""
    counts = [script_count(text, n) for n in SCRIPT_NAMES]
    m = F.greatest(*counts)
    expr = F.lit("none")
    for name, c in reversed(list(zip(SCRIPT_NAMES, counts))):
        expr = F.when((m > 0) & (c == m), F.lit(name)).otherwise(expr)
    return expr


def readability_cols(text: Column) -> list[Column]:
    """Integer readability surrogates — the Flesch-family signals in
    the repo's rational form (no float constants, no syllable
    guessing; the terms.py no-transcendentals rule):

      * n_words            whitespace tokens
      * n_sents            [.!?]+ sentence terminators (min 1: a
                           fragment is one sentence)
      * words_per_sent_c   centiwords: n_words·100 DIV n_sents
      * chars_per_word_c   centichars over LETTERS only (digits and
                           punctuation don't make prose harder the
                           way long words do): letters·100 DIV words

    Long sentences and long words are the two axes every readability
    formula (Flesch, ARI, Coleman-Liau) weighs; keeping them separate
    and integer lets a curation rule threshold each axis exactly and
    portably. All pure Columns riding the scan — zero shuffle."""
    toks = tokens(text)
    n_words = F.greatest(F.size(toks), F.lit(1))
    n_sents = F.greatest(
        F.size(F.filter(F.split(text, r"[.!?]+"), lambda s: F.trim(s) != "")),
        F.lit(1),
    )
    letters = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    # floor(double-div) == integer floor-div here (exact: operands far
    # below 2^53, quotient either exact or >= 1/denominator from an
    # integer — the kmeans_assign mean argument)
    return [
        n_words.cast("long").alias("n_words"),
        n_sents.cast("long").alias("n_sents"),
        F.floor((n_words * 100).cast("double") / n_sents)
        .cast("long")
        .alias("words_per_sent_c"),
        F.floor((letters * 100).cast("double") / n_words)
        .cast("long")
        .alias("chars_per_word_c"),
    ]


def quotes_of(text: Column, min_len: int = 10, max_len: int = 400) -> Column:
    """Direct-quotation spans — the classic news-NLP extraction (who
    said what): every double-quoted span whose inner text is
    min_len..max_len chars. The length floor drops scare-quotes and
    quoted single words; the ceiling drops markup accidents that
    would otherwise swallow paragraphs when a closing quote is lost.

    Deliberately RE2-compatible (no lookaround/backreference — the
    redact_pii rule) so the same pattern text runs on Spark and
    DuckDB, and a negated-class body ([^"]) so matching is linear and
    non-overlapping in one pass. Returns the array of quote bodies
    (quotes stripped), document order; pure Column, rides the scan."""
    pat = '"([^"]{%d,%d})"' % (min_len, max_len)
    return F.regexp_extract_all(text, F.lit(pat), 1)


def normalize_text(text: Column) -> Column:
    """Portable text normalization — the C4-style preprocessing pass a
    corpus gets before tokenization/hashing so cosmetic variants stop
    defeating exact dedup:

      * curly quotes → ASCII quotes, en/em dashes → '-',
        ellipsis char → '...', NBSP → space (explicit per-char
        translate — deliberately NOT full NFKC: the mapping is pinned,
        engine-portable, and auditable, where NFKC output depends on
        the runtime's Unicode table version)
      * C0 control chars (except \\t \\n) dropped
      * horizontal whitespace runs collapse to one space, per line
      * trailing/leading whitespace stripped per line; blank-line runs
        collapse to one newline

    Pure Column chain (translate + RE2-compatible regexp_replace),
    rides the scan."""
    t = F.translate(
        text,
        "‘’“”–— ",
        "''\"\"--  ",
    )
    t = F.regexp_replace(t, "…", "...")
    t = F.regexp_replace(t, r"[\x00-\x08\x0B-\x1F]", "")
    t = F.regexp_replace(t, r"[ \t]+", " ")
    t = F.regexp_replace(t, r" ?\n ?", "\n")
    t = F.regexp_replace(t, r"\n{2,}", "\n")
    return F.regexp_replace(t, r"^\s+|\s+$", "")


# --- mojibake / encoding-artifact detection -------------------------------
# Double-encoding fingerprints: the UTF-8 byte sequences of common
# non-ASCII chars re-decoded as cp1252/latin-1. 'A-tilde'+tail is the
# 0xC3 lead byte of the Latin-1 letter block (e->"Ã©",
# u-umlaut->"Ã¼", ...), 'â€'+tail is the 0xE2 0x80
# lead pair of the general-punctuation block (right quote ->
# "â€™", left dquote -> "â€œ", em dash ->
# "â€”"), and a stray 'Â' before punctuation is the
# 0xC2 lead of NBSP/guillemets/degree. The reference avoids creating
# this class by trusting the HTTP charset then falling back through a
# codec cascade (reference newsplease/crawler/simple_crawler.py:34-52;
# our S3 tree sources/fetch.py:31); this column-level detector is the
# corpus-side AUDIT for text that arrived already damaged upstream.
_MOJI_LATIN = "Ã[©¨ª«¼±³¶¤ºµ§¡¢£]"
_MOJI_PUNCT = "â€[™œ”“˜¦¹]"
_MOJI_C2 = "Â[ «»°·]"


def mojibake_counts(text: Column) -> list[Column]:
    """Three integer artifact counts (latin-letter block, punctuation
    block, stray-C2 block) — native regexp_extract_all sizes, zero
    shuffle, rides the scan."""
    return [
        F.size(F.regexp_extract_all(text, F.lit(_MOJI_LATIN), 0)).alias("moji_latin"),
        F.size(F.regexp_extract_all(text, F.lit(_MOJI_PUNCT), 0)).alias("moji_punct"),
        F.size(F.regexp_extract_all(text, F.lit(_MOJI_C2), 0)).alias("moji_c2"),
    ]


def unwrap_text(text: Column) -> Column:
    """Hard-wrap repair for digitized/OCR/PDF-extracted text — the
    cleanup pass normalize_text deliberately does NOT do (that one
    folds unicode/whitespace; this one restores logical lines):

      1. de-hyphenate line-break hyphens: a letter, '-', newline,
         lowercase letter  ->  the two word halves joined ("exam-\\nple"
         -> "example"; "state-\\nof-the-art" keeps its interior
         hyphens). Uppercase after the break is left alone (likely a
         real compound or proper noun, the conservative choice).
      2. unwrap newlines inside a paragraph: split on blank-line runs
         (2+ newlines), replace every remaining newline with a space
         inside each paragraph, rejoin with exactly one blank line.
         (The paragraph-domain formulation — a sequential
         "[^\\n]\\n[^\\n]" replace skips alternating one-char lines
         because the match consumes its right neighbor.) Blank-line
         runs longer than 2 collapse to one blank line.

    Order matters (de-hyphenate BEFORE unwrap, or the hyphen's newline
    is already a space). RE2-compatible regexps + one array HOF, zero
    shuffle."""
    t = F.regexp_replace(text, r"([A-Za-z])-\n([a-z])", r"$1$2")
    paras = F.split(t, r"\n{2,}")
    return F.array_join(
        F.transform(paras, lambda p: F.regexp_replace(p, r"\n", " ")),
        "\n\n",
    )
