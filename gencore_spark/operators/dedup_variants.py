"""Deduplication variants over a ``documents``-shaped table
(doc_id, text, lang, source, n_chars).

Each variant is a self-contained operator suitable for a training-data
pipeline, sharing the kernels of the main pages pipeline:

* :func:`exact_dedup` — hash-groupBy on raw text (byte-identical).
* :func:`minhash_lsh_clusters` — char-shingle MinHash + LSH + verify + CC
  (the main pipeline's engine applied to bare documents).
* :func:`simhash_clusters` — SimHash hamming<=d clustering via pigeonhole
  chunk bucketing (hamming<=3 pairs share one of 4 16-bit chunks — exact,
  no LSH probability involved), skew-capped like the band join.
* :func:`ngram_jaccard_clusters` — token n-gram Jaccard (word-level
  near-dup, robust to punctuation/casing noise).
* :func:`embedding_cosine_clusters` — near-dup by embedding cosine >= tau
  (semantic dedup), banded sign-LSH candidates + exact re-rank.

Scale discipline shared by ALL variants (mirrors ``pipeline.py``):
every signature/verify kernel runs on |distinct texts| rows, never |docs|
rows — the exact-dup prepass (:func:`_text_reps`) collapses byte-identical
copies first and the cluster assignment fans back out through the
(128-bit) text key.  On a naturally duplicated web corpus that is a
multiple-x reduction of the most expensive stage.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..config import DEFAULT_CONFIG, DedupConfig
from ..functions.shingle import gram_hashes
from ..functions.similarity import jaccard
from ..functions.udfs import minhash_udf, simhash_udf
from .exact import _H2_SEED, normalize_expr
from .components import connected_components
from .lsh import bucketed_pairs, candidate_pairs
from .verify import attach_pair_payload, verify_pairs

def _text_key(df: DataFrame) -> DataFrame:
    return df.withColumn("th1", F.xxhash64("text")).withColumn(
        "th2", F.xxhash64(F.lit(_H2_SEED), "text")
    )


def _text_reps(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Exact-dup prepass: (reps, mapping).

    reps — one row per distinct text: (th1, th2, rep_id = min doc_id, text);
    mapping — (doc_id, th1, th2) to fan cluster ids back out to every row.
    """
    keyed = _text_key(docs.select("doc_id", "text"))
    reps = keyed.groupBy("th1", "th2").agg(
        F.min("doc_id").alias("rep_id"),
        F.first("text").alias("text"),  # identical within group by key def
    )
    return reps, keyed.select("doc_id", "th1", "th2")


def _fan_out(mapping: DataFrame, reps: DataFrame, cc: DataFrame) -> DataFrame:
    """(doc_id, cluster_id): every doc inherits its text-rep's component;
    reps without a component are their own singleton cluster."""
    rep_assign = (
        reps.select("th1", "th2", "rep_id")
        .join(cc, "rep_id", "left")
        .select("th1", "th2", F.coalesce("cluster_id", "rep_id").alias("cluster_id"))
    )
    return mapping.join(rep_assign, ["th1", "th2"]).select("doc_id", "cluster_id")


def exact_dedup(docs: DataFrame) -> DataFrame:
    """One canonical row per byte-identical text: (canonical_id, fr).

    canonical = min doc_id (deterministic); fr = group size.  The group key
    is the two-seed 128-bit text hash (64-bit alone expects ~1e4 false
    merges at 10^12 distinct texts).
    """
    return (
        _text_key(docs.select("doc_id", "text"))
        .groupBy("th1", "th2")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("fr"),
        )
        .select("canonical_id", "fr")
    )


def minhash_lsh_clusters(
    docs: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG
) -> DataFrame:
    """(doc_id, cluster_id) near-dup assignment via the main engine.

    Signs one representative per DISTINCT text (see module docstring), so
    byte-identical copies cost one signature, not one each.
    """
    from .exact import with_signatures

    reps, mapping = _text_reps(docs)
    signed = with_signatures(
        reps.withColumn("norm_text", normalize_expr(F.col("text"))).select(
            "th1", "th2", "rep_id", "norm_text"
        ),
        cfg,
    ).select("th1", "th2", "rep_id", "norm_text", "minhash", "simhash")
    # signed is referenced ~6x downstream (bands, sig joins, text joins,
    # fan-out); persist so the signature UDF runs once per rep, not per ref
    signed = signed.persist()
    caches: list[DataFrame] = [signed]
    try:
        n_reps = signed.count()  # materializes the persist; drives the
        # broadcast-vs-fold text attach inside verify_pairs
        edges, stats = candidate_pairs(signed.select("rep_id", "minhash"), cfg)
        caches.append(stats)
        verified = verify_pairs(edges, signed, cfg, n_payload_rows=n_reps)
        # connected_components eagerly materializes its input edge set — the
        # fan-out action for everything cached above.  Release the caches in
        # the finally (cache lifetime = this call, success or failure): the
        # remaining lazy reference (fan-out) only reads (th1, th2, rep_id),
        # which column-prunes the signature UDF away entirely (plan-tested),
        # so the recompute is one cheap groupBy.
        cc = connected_components(verified.select("id_a", "id_b"), cfg)
    finally:
        for c in caches:
            c.unpersist()
    return _fan_out(mapping, signed, cc)


def simhash_clusters(
    docs: DataFrame, max_hamming: int = 3, cfg: DedupConfig = DEFAULT_CONFIG
) -> DataFrame:
    """(doc_id, cluster_id) via SimHash hamming <= ``max_hamming``.

    Pigeonhole bucketing: split the 64-bit fingerprint into
    ``max_hamming + 1`` chunks; any pair within hamming d shares at least
    one unchanged chunk, so bucketing by (chunk_idx, chunk_value) has
    RECALL 1.0 by construction (gencore's UMI hamming<=1 grouping has the
    same exactness property, ``cluster.cpp:41-53``).  Chunk buckets carry
    the same size cap + anchor-star policy as the band join (boilerplate
    corpora produce 16-bit-chunk mega-buckets otherwise); only the SimHash
    kernel runs — no MinHash work in this variant.
    """
    n_chunks = max_hamming + 1
    bits = 64 // n_chunks
    reps, mapping = _text_reps(docs)
    sh = reps.select(
        "th1", "th2", "rep_id",
        simhash_udf(cfg)(normalize_expr(F.col("text"))).alias("simhash"),
    ).persist()  # referenced by chunks, both pair sides, and fan-out
    chunks = F.array(
        *[
            F.shiftrightunsigned("simhash", i * bits)
            .bitwiseAND(F.lit((1 << bits) - 1))
            for i in range(n_chunks)
        ]
    )
    exploded = sh.select(
        "rep_id", F.posexplode(chunks).alias("chunk_idx", "chunk_val")
    )
    caches: list[DataFrame] = [sh]
    try:
        cand, stats = bucketed_pairs(
            exploded, ["chunk_idx", "chunk_val"], cfg.bucket_size_cap
        )
        caches.append(stats)
        fps = sh.select("rep_id", "simhash")
        pairs = (
            cand.join(fps.select(F.col("rep_id").alias("id_a"), F.col("simhash").alias("sim_a")), "id_a")
            .join(fps.select(F.col("rep_id").alias("id_b"), F.col("simhash").alias("sim_b")), "id_b")
            .filter(F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))) <= max_hamming)
            .select("id_a", "id_b")
        )
        cc = connected_components(pairs, cfg)  # eager: materializes the caches
    finally:
        for c in caches:
            c.unpersist()
    return _fan_out(mapping, sh, cc)


def _token_ngram_hashes(text: str, n: int, memo: dict[str, int]) -> np.ndarray:
    """Hashes of word n-grams via ONE numpy rolling hash over a token-hash
    array (no per-gram Python loop).  Token hashes are crc32 (C-speed,
    deterministic across processes), memoized per Arrow batch."""
    toks = text.lower().split()
    if not toks:
        return np.zeros(0, dtype=np.uint64)
    th = np.empty(len(toks), dtype=np.uint64)
    get = memo.get
    for i, t in enumerate(toks):
        h = get(t)
        if h is None:
            h = zlib.crc32(t.encode())
            memo[t] = h
        th[i] = h
    length = min(n, len(toks))
    return np.unique(gram_hashes(th, length))


def _token_ngram_jaccard_udf(n: int):
    @F.pandas_udf(T.DoubleType())
    def _j(ta: pd.Series, tb: pd.Series) -> pd.Series:
        out = np.empty(len(ta), dtype=np.float64)
        memo: dict[str, int] = {}
        gram_memo: dict[str, np.ndarray] = {}

        def grams(t: str) -> np.ndarray:
            g = gram_memo.get(t)
            if g is None:
                g = _token_ngram_hashes(t, n, memo)
                gram_memo[t] = g
            return g

        for i, (x, y) in enumerate(zip(ta, tb)):
            out[i] = jaccard(grams(x or ""), grams(y or ""))
        return pd.Series(out)

    return _j


def ngram_jaccard_clusters(
    docs: DataFrame,
    n: int = 3,
    tau: float = 0.8,
    cfg: DedupConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """(doc_id, cluster_id) via token n-gram Jaccard >= tau.

    Candidates come from the char-shingle LSH (a superset of token-level
    near-dups at these thresholds); verification recomputes Jaccard on the
    token n-gram sets.  Runs on distinct texts only.
    """
    reps, mapping = _text_reps(docs)
    signed = (
        reps.withColumn("norm_text", normalize_expr(F.col("text")))
        .withColumn("minhash", minhash_udf(cfg)(F.col("norm_text")))
        .select("th1", "th2", "rep_id", "norm_text", "minhash")
        .persist()  # referenced by bands, both verify sides, and fan-out
    )
    caches: list[DataFrame] = [signed]
    try:
        edges, stats = candidate_pairs(signed.select("rep_id", "minhash"), cfg)
        caches.append(stats)
        # texts attach via the shared size-adaptive attach_pair_payload —
        # broadcast double-join under the cap, explode+fold above it —
        # same shape as verify_pairs
        paired = attach_pair_payload(
            edges, signed, "norm_text", "ta", "tb",
            payload_rows=signed.count(),
            broadcast_max_rows=cfg.attach_broadcast_max_rows,
        )
        verified = (
            paired.withColumn("j", _token_ngram_jaccard_udf(n)(F.col("ta"), F.col("tb")))
            .filter(F.col("j") >= tau)
            .select("id_a", "id_b")
        )
        cc = connected_components(verified, cfg)  # eager: materializes the caches
    finally:
        for c in caches:
            c.unpersist()
    return _fan_out(mapping, signed, cc)


def embedding_cosine_clusters(
    vectors: DataFrame,
    tau: float = 0.95,
    dim: int = 64,
    cfg: DedupConfig = DEFAULT_CONFIG,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 12,
    planes_per_band: int = 8,
) -> DataFrame:
    """(vec_id, cluster_id): near-dup groups where cosine >= tau.

    Banded sign-LSH (OR-construction, see
    :func:`gencore_spark.operators.ann.banded_hyperplane_codes_udf`)
    generates candidates with ~0.98+ pair recall at tau>=0.9; exact cosine
    verifies; CC resolves transitivity.  Buckets carry the standard size
    cap + anchor-star + chain policy.
    """
    from .ann import _cosine, banded_hyperplane_codes_udf

    code = banded_hyperplane_codes_udf(dim, bands, planes_per_band, cfg.seed)
    v = vectors.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("vec"),
        code(F.col(vec_col)).alias("codes"),
    ).persist()  # referenced by buckets and both cosine-verify sides
    exploded = v.select(F.col("vid").alias("rep_id"), F.explode("codes").alias("bucket"))
    caches: list[DataFrame] = [v]
    try:
        cand, stats = bucketed_pairs(exploded, ["bucket"], cfg.bucket_size_cap)
        caches.append(stats)
        # same size-adaptive attach as the text variants (vectors are
        # ~500 B each — broadcast under the cap, explode+fold above it)
        paired = attach_pair_payload(
            cand, v.select(F.col("vid").alias("rep_id"), "vec"), "vec", "va", "vb",
            payload_rows=v.count(),
            broadcast_max_rows=cfg.attach_broadcast_max_rows,
        )
        pairs = (
            paired.withColumn("cos", _cosine(F.col("va"), F.col("vb")))
            .filter(F.col("cos") >= tau)
            .select("id_a", "id_b")
        )
        cc = connected_components(pairs, cfg)  # eager: materializes the caches
    finally:
        for c in caches:
            c.unpersist()
    return (
        vectors.select(F.col(id_col).alias("rep_id"))
        .join(cc, "rep_id", "left")
        .select(
            F.col("rep_id").alias(id_col),
            F.coalesce("cluster_id", "rep_id").alias("cluster_id"),
        )
    )
