"""Benchmark decontamination: n-gram-overlap flagging against an eval set.

Every serious training-data pipeline removes documents that leak the
evaluation benchmarks (GPT-3 used 13-gram overlap; Gopher/Chinchilla and
Llama use the same shape with different n).  The operator is a
side-table-driven filter — the same dataflow row as the reference's BED
allowlist/denylist (``bed.cpp:110-169`` loads a small region table,
``bed.cpp:64-79`` tests each record against it): a small dimension input
decides which big-table rows survive.

Semantics
---------
A document is *contaminated* iff it shares at least one word ``n``-gram
(default 8, whitespace tokens, exact string match) with any document in
the eval set.  ``n_hits`` counts the **distinct** overlapping n-grams per
document (a doc repeating the leaked passage twice is not "more"
contaminated — same distinct-gram discipline as ``lines.line_dedup``).

Scale shape (the part that must survive 100 TB)
-----------------------------------------------
* The eval side is small by construction (benchmarks are thousands of
  documents, not billions) — its distinct n-gram set is **broadcast**, so
  the corpus side never shuffles: the explode is a map-side flatMap, the
  broadcast hash join filters in the same stage, and only the *hits*
  (rare by design) reach the one aggregation shuffle, keyed by doc id.
* N-grams are built with JVM builtins (``split``/``sequence``/
  ``transform``/``slice``/``array_join``) — no Python in the path, and no
  materialized per-row Python shingle sets (SURVEY §2.10 discipline).
* For eval sets too large to broadcast raw (hundreds of millions of
  grams), hash each gram to ``xxhash64`` first so the broadcast is 8
  bytes/gram, or swap the broadcast for a Bloom-filter prefilter + exact
  semi-join on survivors; the operator keeps the exact-join form because
  the eval side is a benchmark, not a corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .textstats import word_ngrams


def _exploded_grams(df: DataFrame, keep: list[str], text_col: str, n: int) -> DataFrame:
    """One row per (``keep``, distinct word n-gram) with the word array
    bound to an attribute before the gram lambda touches it:
    ``word_ngrams``'s transform lambda is CodegenFallback, and an inlined
    ``split`` re-runs the regex at every ``F.get`` (n per gram element —
    measured 13.9s → 2.9s at sf0.1 for n=8)."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    return df.select(*keep, words.alias("__words")).select(
        *keep,
        F.explode(F.array_distinct(word_ngrams(F.col("__words"), n))).alias("gram"),
    )


def contamination_flags(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document contamination flags vs ``eval_docs``.

    Returns one row per ``docs`` row: ``(id_col, n_hits, contaminated)``
    where ``n_hits`` is the number of distinct word n-grams the document
    shares with the eval set and ``contaminated = n_hits > 0``.
    """
    doc_grams = _exploded_grams(docs, [id_col], text_col, n)
    eval_grams = _exploded_grams(eval_docs, [], text_col, n).distinct()
    hits = (
        doc_grams.join(F.broadcast(eval_grams), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    # hits is |contaminated docs| — rare by the operator's purpose (a
    # benchmark leaking into a meaningful corpus fraction is a data bug,
    # not a workload) — so broadcasting it keeps the corpus side entirely
    # shuffle-free end to end.  A corpus where contamination is NOT rare
    # should use the un-hinted join (drop to contamination_hits directly).
    return (
        docs.select(id_col)
        .join(F.broadcast(hits), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop contaminated documents; returns the surviving ``docs`` rows.

    The filter itself is a broadcast **anti**-join on the flagged ids —
    the big side still never shuffles (flags are rare, collected small).
    """
    flagged = (
        contamination_flags(docs, eval_docs, n, text_col, id_col)
        .filter(F.col("contaminated"))
        .select(id_col)
    )
    return docs.join(F.broadcast(flagged), id_col, "left_anti")
