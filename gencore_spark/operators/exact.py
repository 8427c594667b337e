"""Stage 1-2: id assignment, routing, exact-dup prepass, signatures.

Reference analogs:
* unmapped passthrough (``gencore.cpp:255-266``) → short-text bypass routing;
* secondary/supplementary filter (``gencore.cpp:269-271``) → null/empty drop;
* singleton fast-path (``group.cpp:73-77``) → the exact-hash prepass: only
  one representative per distinct text flows through the expensive
  MinHash/LSH/verify path; identical-text rows rejoin at cluster fan-out.

At 10^12-doc scale the exact prepass is the single biggest saver: the
signature/LSH stages run on |distinct texts| rows, not |docs| rows, and the
fan-out back is one hash join on ``text_hash``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import DedupConfig
from ..functions.udfs import signatures_udf


def normalize_expr(col):
    """THE canonical shingling normalization, as a JVM expression:
    ``trim(regexp_replace(lower(text), '\\s+', ' '))``.

    JVM-side on purpose — a pandas-UDF normalization costs a full Arrow
    round trip of the text column.  Java's non-unicode ``\\s`` is exactly
    ``[ \\t\\n\\x0B\\f\\r]``; the Python mirror
    (:func:`gencore_spark.functions.textnorm.normalize_for_shingling`)
    is pinned to the same class so kernels and pipeline agree byte-for-byte.
    """
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def with_doc_ids(pages: DataFrame) -> DataFrame:
    """Stable 64-bit doc id from (url, warc_ts).

    The timestamp is part of the key because re-crawls of one url are
    distinct fetches in the data model (consensus tie-breaks order by
    warc_ts): hashing the url alone would give two refetches — possibly
    with different texts — the same doc_id and silently merge them.

    Width: 64-bit, by MEASURED adjudication (round 4).  A
    struct(hi, lo) 128-bit id was implemented and was semantically clean —
    every consumer (grouping, joins, min/least anchors, lag-over-order
    chains, CC star rounds, min_by election) needs ids only to be hashable
    + orderable, which Spark structs are, and the full suite + all oracles
    stayed green.  But interleaved A/B at 60k pages put the struct
    pipeline's best-of-9 wall at 88.3s vs 50.4s for the long id on the
    same corpus (~1.76x floor; micro-benchmarks of the individual struct
    ops are near-parity, so the cost lives in the fused whole-stage plans
    — see BENCH/BASELINE.md round-4 notes).  The birthday bound for the
    64-bit id is ~1e4 expected collisions at 10^12 fetches; each would
    mis-attach one doc's text/vote.  At sandbox-to-10^10 scale it is
    collision-free w.h.p.; a 10^12 deployment that cannot accept a ~1e-8
    row error rate should pay the measured 1.76x (the struct swap is
    mechanical — commit 5b1bc3f holds the full working change, and
    connected_components remains id-type-agnostic on purpose).
    """
    return pages.withColumn("doc_id", F.xxhash64("url", "warc_ts"))


def is_main(cfg: DedupConfig):
    """The routing rule on a non-empty ``text``: true when it is long
    enough to be deduplicated, false when it bypasses dedup."""
    return F.length("text") >= cfg.min_text_len


def route(pages: DataFrame, cfg: DedupConfig) -> tuple[DataFrame, DataFrame]:
    """(main, bypass): docs shorter than ``min_text_len`` bypass dedup
    entirely (each is its own singleton cluster), mirroring the unmapped
    passthrough.  Null/empty text is dropped (the F1 filter)."""
    clean = pages.filter(F.col("text").isNotNull() & (F.length("text") > 0))
    main = clean.filter(is_main(cfg))
    bypass = clean.filter(~is_main(cfg))
    return main, bypass


# second seed for the 128-bit exact-text key: xxhash64 prepends the literal
# to the hashed input, giving an independent 64-bit family member
_H2_SEED = -6_148_914_691_236_517_205


def with_text_hash(docs: DataFrame) -> DataFrame:
    """Exact-duplicate key: TWO independent 64-bit hashes of the RAW text
    bytes (byte-identical semantics, not normalized) — two rows are exact
    dups iff text matches byte for byte.  A single 64-bit key expects ~1e4
    false merges at 10^12 distinct texts (birthday bound); the two-hash
    128-bit key expects ~1e-15."""
    return docs.withColumn("text_hash", F.xxhash64("text")).withColumn(
        "text_hash2", F.xxhash64(F.lit(_H2_SEED), "text")
    )


def distinct_text_reps(docs: DataFrame) -> DataFrame:
    """One representative row per distinct text: (text_hash, text_hash2,
    rep_id, text, norm_text).  rep_id = min doc_id in the exact group
    (deterministic)."""
    return (
        docs.groupBy("text_hash", "text_hash2")
        .agg(
            F.min("doc_id").alias("rep_id"),
            F.first("text").alias("text"),  # identical within group by key def
        )
        .withColumn("norm_text", normalize_expr(F.col("text")))
    )


def with_signatures(reps: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Attach MinHash signature + SimHash fingerprint to each distinct text.

    Column pruning matters here: callers must select only
    (text_hash, rep_id, norm_text) into this stage — never html.

    Explicit repartition: AQE coalesces the upstream groupBy output by BYTE
    size, which under-parallelizes the Python/Arrow UDF work (CPU-bound, not
    byte-bound).  Repartitioning to the cluster's core count is the
    documented pattern for UDF-heavy stages.
    """
    # 3x cores: finer partitions smooth text-length skew across the
    # Arrow/UDF workers (round-robin rows, uneven bytes)
    parallelism = reps.sparkSession.sparkContext.defaultParallelism * 3
    return (
        reps.repartition(parallelism)
        .withColumn("sig", signatures_udf(cfg)(F.col("norm_text")))
        .withColumn("minhash", F.col("sig.minhash"))
        .withColumn("simhash", F.col("sig.simhash"))
        .drop("sig")
    )
