"""Text-analysis operators for training-data pipelines.

These are first-class pipeline components beyond the reference's own
inventory (SURVEY.md §2 extension): language ID, quality scoring, token
counting, and document fingerprinting over a ``documents``-shaped table.
All JVM-side ``pyspark.sql.functions`` except the fingerprint (Arrow UDF).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from ..functions.shingle import shingle_hashes

# -------------------------------------------------------------- token count

_TOKEN_SPLIT = r"\s+"


def token_count(text: Column) -> Column:
    """Whitespace token count (0 for empty/null)."""
    t = F.trim(text)
    return F.when(F.coalesce(F.length(t), F.lit(0)) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, _TOKEN_SPLIT))
    )


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish subword proxy: word-boundary pieces + digit runs + punct.

    A regex segmentation (letters runs, digit runs, single punctuation)
    counted JVM-side — the standard cheap token estimator when no real
    tokenizer is shipped.
    """
    pieces = F.regexp_extract_all(
        text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0
    )
    return F.coalesce(F.size(pieces), F.lit(0))


# ------------------------------------------------------------ quality score


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / digit / stopword-ratio features, all JVM-side.

    Ratios are rounded to 6dp so results are stable across engines (the
    DuckDB oracle computes identical expressions).
    """
    t = F.col(text_col)
    n = F.length(t).cast("double")
    tokens = token_count(t).cast("double")
    punct = F.length(F.regexp_replace(t, r"[^.,;:!?]", "")).cast("double")
    digits = F.length(F.regexp_replace(t, r"[^0-9]", "")).cast("double")
    stop = F.size(
        F.regexp_extract_all(
            F.lower(t), F.lit(r"\b(the|a|an|and|or|of|to|in|is|it)\b"), 0
        )
    ).cast("double")
    safe_n = F.greatest(n, F.lit(1.0))
    safe_tok = F.greatest(tokens, F.lit(1.0))
    return df.select(
        "doc_id",
        n.cast("long").alias("n_chars_m"),
        tokens.cast("long").alias("n_tokens"),
        F.round(punct / safe_n, 6).alias("punct_ratio"),
        F.round(digits / safe_n, 6).alias("digit_ratio"),
        F.round(stop / safe_tok, 6).alias("stopword_ratio"),
        F.round(n / safe_tok, 6).alias("mean_token_len"),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite 0-1 quality score from the features (documented weights)."""
    feats = quality_features(df, text_col)
    score = (
        F.lit(1.0)
        - F.least(F.col("punct_ratio") * 4.0, F.lit(0.3))
        - F.least(F.col("digit_ratio") * 3.0, F.lit(0.3))
        - F.when(F.col("n_tokens") < 10, 0.4).otherwise(0.0)
    )
    return feats.select(
        "doc_id", F.round(F.greatest(score, F.lit(0.0)), 6).alias("quality")
    )


# ------------------------------------------------------------- language ID

# tiny per-language marker lexicons (n-gram heuristic; deterministic)
_LANG_MARKERS = {
    "en": r"\b(the|and|of|to|is|that|with)\b",
    "de": r"\b(der|die|das|und|ist|nicht|mit)\b",
    "fr": r"\b(le|la|les|et|est|que|pour)\b",
    "es": r"\b(el|la|los|y|es|que|para)\b",
}


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: argmax of marker-word hit counts (JVM-side).

    Ties / no hits → 'und'.  A production system would swap in fastText;
    the operator contract (doc_id → lang_pred) is the same.
    """
    t = F.lower(F.col(text_col))
    hits = [
        F.size(F.regexp_extract_all(t, F.lit(rx), 0)).alias(f"h_{lang}")
        for lang, rx in _LANG_MARKERS.items()
    ]
    scored = df.select("doc_id", *hits)
    langs = list(_LANG_MARKERS)
    best = F.greatest(*[F.col(f"h_{lang}") for lang in langs])
    pred = F.when(best == 0, F.lit("und"))
    for lang in langs:  # first-match tie-break, fixed order
        pred = pred.when(F.col(f"h_{lang}") == best, F.lit(lang))
    return scored.select("doc_id", pred.otherwise(F.lit("und")).alias("lang_pred"))


# ------------------------------------------------------ repetition signals


def word_ngrams(words: Column, n: int) -> Column:
    """Array of space-joined word n-grams (JVM-side higher-order funcs).

    Empty array when the doc has fewer than ``n`` words — guarded because
    ``F.sequence(0, -1)`` would produce a DESCENDING sequence, not [].
    """
    n_grams = F.size(words) - (n - 1)
    idx = F.sequence(F.lit(0), n_grams - 1)
    gram = lambda i: F.concat_ws(" ", *[F.get(words, i + j) for j in range(n)])
    return F.when(n_grams <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(idx, gram)
    )


def repetition_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style per-document repetition features (Rae et al. 2021 §A1.1):

    * ``dup_trigram_frac`` — fraction of the doc's word trigram occurrences
      that are repeats of an earlier trigram (1 - distinct/total);
    * ``top_bigram_frac`` — fraction of the doc's word bigram occurrences
      taken by its single most frequent bigram.

    High values flag boilerplate/spam ("lorem lorem lorem...") that n-gram
    LMs otherwise overweight.  BOTH features stay fully inside one row —
    the operator is narrow end to end (round-6 rewrite): grams are folded
    to ``xxhash64(w_i, …, w_{i+n-1})`` longs (never built as strings),
    the trigram feature is a distinct-count over the hashed array, and
    the top-bigram count is the longest equal-run of the SORTED hashed
    bigram array — an aggregate() scan, no per-(doc, bigram) shuffle.
    The previous shape exploded bigram *strings* into two corpus-wide
    hash aggregations (2 exchanges; 3.1s at sf0.1 vs 0.9s narrow).
    Hash adjudication: a within-document 64-bit collision merges two
    gram counts; at ~10^3 grams/doc that is ~3e-14 per doc — the
    ``duplicate_passage_frac`` precedent, where the oracle computes the
    identical statistics over the strings.
    """
    # Bind `words` to an attribute first: higher-order functions
    # (transform/aggregate) are CodegenFallback — the lambda body is
    # interpreted PER ELEMENT, and an inlined split(trim(text)) would
    # re-run the regex split for every F.get (measured 122s → ~2s at
    # sf0.01 when this operator was first written).
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    wdf = df.select("doc_id", words.alias("words"))

    def gram_hashes(n: int):
        n_grams = F.size("words") - (n - 1)
        idx = F.sequence(F.lit(0), n_grams - 1)
        gram = lambda i: F.xxhash64(*[F.get("words", i + j) for j in range(n)])
        return F.when(n_grams <= 0, F.array().cast("array<bigint>")).otherwise(
            F.transform(idx, gram)
        )

    gdf = wdf.select(
        "doc_id",
        gram_hashes(3).alias("tgh"),
        F.array_sort(gram_hashes(2)).alias("bgh"),
    )
    # longest equal-run over the sorted bigram hashes == the max
    # per-(doc, bigram) count; eqNullSafe so the first element starts a
    # run of 1 against the NULL initial state
    step_run = F.aggregate(
        F.col("bgh"),
        F.struct(
            F.lit(None).cast("bigint").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(acc["prev"].eqNullSafe(x), acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(acc["prev"].eqNullSafe(x), acc["run"] + 1).otherwise(
                    F.lit(1)
                ),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return gdf.select(
        "doc_id",
        F.round(
            F.when(F.size("tgh") <= 0, F.lit(0.0)).otherwise(
                1.0 - F.size(F.array_distinct("tgh")) / F.size("tgh").cast("double")
            ),
            6,
        ).alias("dup_trigram_frac"),
        F.round(
            F.when(F.size("bgh") <= 0, F.lit(0.0)).otherwise(
                step_run / F.size("bgh").cast("double")
            ),
            6,
        ).alias("top_bigram_frac"),
    )


def duplicate_passage_frac(
    df: DataFrame, text_col: str = "text", n: int = 8
) -> DataFrame:
    """Corpus-wide duplicated-passage signal (Dolma/RedPajama-style): for
    each document, the fraction of its DISTINCT word ``n``-grams that also
    occur in at least one OTHER document.

    Unlike :func:`repetition_signals` this is a global property — the
    aggregation is keyed on the n-gram across the whole corpus.  The
    n-grams are folded to ``xxhash64`` before the shuffle so ~50-byte
    passage strings never move (same 64-bit-key adjudication as
    ``exact.with_doc_ids``: at 10^12 distinct grams the birthday bound
    expects ~3e4 colliding pairs, i.e. a <1e-7 relative error on a
    filter *signal* — acceptable where it would not be for an id).

    Returns (doc_id, n_grams, dup_passage_frac); docs shorter than ``n``
    words have n_grams = 0 and frac 0.0.
    """
    # same CodegenFallback re-evaluation hazard as repetition_signals:
    # bind `words` to an attribute before the gram lambda touches it
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    grams = df.select("doc_id", words.alias("words")).select(
        "doc_id",
        F.explode_outer(
            F.array_distinct(word_ngrams(F.col("words"), n))
        ).alias("gram"),
    ).select(
        "doc_id",
        # xxhash64(NULL) yields the SEED (42), not NULL — an unguarded hash
        # would give every <n-word doc the same phantom gram and flag them
        # all as mutual duplicates
        F.when(F.col("gram").isNull(), F.lit(None).cast("long"))
        .otherwise(F.xxhash64("gram"))
        .alias("g"),
    )
    # one hash-partitioned count per distinct gram; broadcast never needed
    docs_per_gram = grams.where(F.col("g").isNotNull()).groupBy("g").agg(
        F.count(F.lit(1)).alias("nd")
    )
    flagged = grams.join(docs_per_gram, "g", "left").groupBy("doc_id").agg(
        F.count(F.col("g")).alias("n_grams"),
        F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)).alias("n_dup"),
    )
    return flagged.select(
        "doc_id",
        "n_grams",
        F.round(
            F.when(F.col("n_grams") <= 0, F.lit(0.0)).otherwise(
                F.col("n_dup") / F.col("n_grams").cast("double")
            ),
            6,
        ).alias("dup_passage_frac"),
    )


# --------------------------------------------------------- fingerprinting


def fingerprint_udf(k: int = 8):
    """Rolling-hash document fingerprint: min k-gram hash (winnowing-style
    1-of-set selection) — a compact content id robust to reordering-free
    edits at the margins.  Arrow-batched; numpy kernel."""

    @F.pandas_udf(T.LongType())
    def _fp(text: pd.Series) -> pd.Series:
        out = np.zeros(len(text), dtype=np.int64)
        for i, t in enumerate(text):
            s = shingle_hashes(t or "", k)
            out[i] = int(s.min().view(np.int64)) if s.shape[0] else 0
        return pd.Series(out)

    return _fp


# ------------------------------------------------------------ vocabulary


def vocab_topk(df: DataFrame, k: int = 100, text_col: str = "text") -> DataFrame:
    """Corpus-wide top-``k`` word frequencies (deterministic order).

    The tokenizer-building / corpus-stats primitive: explode whitespace
    tokens, one map-side-combined hash aggregation on the word, then a
    global top-k.  Ties are broken by the word itself so the result set is
    a pure function of the corpus.  At 100 TB the explode is a flatMap
    (no shuffle), the aggregation shuffles only (word, partial-count)
    pairs, and the top-k is a TakeOrdered over |vocab| rows, not |tokens|.
    """
    words = F.explode(
        F.split(F.trim(F.col(text_col)), _TOKEN_SPLIT)
    ).alias("word")
    return (
        df.select(words)
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("word").asc())
        .limit(k)
    )


# -------------------------------------------------- Gopher quality rules


def gopher_quality_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style document-level quality rules (Rae et al. 2021 §A1.1):
    word-count window, mean word length window, bullet-line / ellipsis-line
    fractions, alphabetic-word fraction — plus the composite
    ``passes_gopher`` gate over the published thresholds.

    All JVM-side (split + array higher-order functions + regex), with the
    word/line arrays bound to attributes first (the CodegenFallback
    re-evaluation discipline, see COVERAGE.md).  Ratios round to 6dp and
    the gate compares the ROUNDED values so the DuckDB oracle reproduces
    the exact bytes.
    """
    t = F.col(text_col)
    s1 = df.select(
        "doc_id",
        t.alias("__t"),
        F.split(t, "\n").alias("__lines0"),
        F.split(F.trim(t), r"\s+").alias("__words"),
    )
    s2 = s1.select(
        "doc_id",
        "__t",
        "__words",
        F.filter(F.col("__lines0"), lambda l: F.length(F.trim(l)) > 0).alias(
            "__lines"
        ),
    )
    n_tokens = token_count(F.col("__t"))
    safe_tok = F.greatest(n_tokens, F.lit(1)).cast("double")
    n_lines = F.size("__lines")
    safe_lines = F.greatest(n_lines, F.lit(1)).cast("double")
    bullet = F.size(
        F.filter(
            F.col("__lines"),
            lambda l: F.ltrim(l).startswith("-")
            | F.ltrim(l).startswith("*")
            | F.ltrim(l).startswith("•"),
        )
    )
    ellipsis = F.size(
        F.filter(
            F.col("__lines"),
            lambda l: F.rtrim(l).endswith("...") | F.rtrim(l).endswith("…"),
        )
    )
    alpha = F.size(F.filter(F.col("__words"), lambda w: w.rlike("[A-Za-z]")))
    out = s2.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        F.round(
            F.length(F.regexp_replace("__t", r"\s+", "")).cast("double") / safe_tok, 6
        ).alias("mean_word_len"),
        F.round(bullet / safe_lines, 6).alias("frac_lines_bullet"),
        F.round(ellipsis / safe_lines, 6).alias("frac_lines_ellipsis"),
        F.round(alpha / safe_tok, 6).alias("frac_words_alpha"),
    )
    return out.withColumn(
        "passes_gopher",
        (F.col("n_tokens") >= 50)
        & (F.col("n_tokens") <= 100_000)
        & (F.col("mean_word_len") >= 3.0)
        & (F.col("mean_word_len") <= 10.0)
        & (F.col("frac_lines_bullet") <= 0.9)
        & (F.col("frac_lines_ellipsis") <= 0.3)
        & (F.col("frac_words_alpha") >= 0.8),
    )


# ------------------------------------------------------- script mix signals

# explicit codepoint RANGES, not named classes: Java regex spells scripts
# \p{script=Han} while RE2 (DuckDB) spells \p{Han} — ranges use the one
# syntax both engines parse identically, which keeps the oracle byte-exact
_SCRIPT_RANGES = {
    "latin": r"[A-Za-z\x{00C0}-\x{024F}]",
    "cjk": r"[\x{3040}-\x{30FF}\x{4E00}-\x{9FFF}]",
    "cyrillic": r"[\x{0400}-\x{04FF}]",
    "arabic": r"[\x{0600}-\x{06FF}]",
}


def script_mix(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document script composition: the fraction of non-whitespace
    characters in each major script range, plus the argmax
    ``dominant_script`` ('und' when nothing matches — e.g. pure
    digits/punctuation).

    The cheap routing signal upstream of language ID: a mislabeled-lang
    page with 90% CJK characters routes to the CJK shingling config no
    matter what the crawl metadata claims.  All JVM-side
    ``regexp_replace``/``length`` counting; ratios round to 6dp.
    """
    t = F.col(text_col)
    # count of matching chars = chars deleted by stripping the range
    # (every match is a single codepoint; Spark length() and DuckDB
    # length() both count codepoints — BMP-only ranges, so no surrogate
    # divergence)
    s1 = df.select(
        "doc_id",
        F.length(F.regexp_replace(t, r"\s", "")).cast("double").alias("__n"),
        *[
            (F.length(t) - F.length(F.regexp_replace(t, rx, "")))
            .cast("double")
            .alias(f"__c_{name}")
            for name, rx in _SCRIPT_RANGES.items()
        ],
    )
    safe_n = F.greatest(F.col("__n"), F.lit(1.0))
    fracs = {
        name: F.round(F.col(f"__c_{name}") / safe_n, 6)
        for name in _SCRIPT_RANGES
    }
    s2 = s1.select(
        "doc_id",
        F.col("__n").cast("long").alias("n_chars_nws"),
        *[fracs[name].alias(f"frac_{name}") for name in _SCRIPT_RANGES],
    )
    names = list(_SCRIPT_RANGES)
    best = F.greatest(*[F.col(f"frac_{n}") for n in names])
    dom = F.when(best <= 0.0, F.lit("und"))
    for n in names:  # fixed-order tie-break, same pattern as lang_id
        dom = dom.when(F.col(f"frac_{n}") == best, F.lit(n))
    return s2.withColumn("dominant_script", dom.otherwise(F.lit("und")))
