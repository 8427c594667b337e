"""Stage 4: candidate pair verification.

Reference analog: ``Pair::isDupWith`` (``pair.cpp:307-326``) — a cheap
key-equality test AND'd with a UMI hamming gate — plus the cigar containment
check ``isPartOf`` (``bamutil.cpp:293-336``).

Ours is a three-gate AND, ordered cheap→expensive so the expensive gate runs
on the fewest rows:

1. **SimHash hamming** (pure JVM: ``bit_count(a ^ b)`` — whole-stage
   codegen, no Python) prunes grossly dissimilar pairs;
2. **exact char-shingle Jaccard** >= ``jaccard_threshold`` (vectorized
   pandas UDF; the decisive gate);
3. **LCS** >= ``lcs_min_ratio * min(len)`` (rolling-hash binary search,
   same UDF pass) — the containment analog: rejects bag-of-words collisions
   that share vocabulary but no contiguous run.

Verification only *removes* candidate pairs; the LSH config guarantees the
candidate set already contains >=0.9998 of true pairs at J >= 0.7 (see
DedupConfig recall math), so end-to-end recall stays above the 0.99 gate.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..config import DedupConfig
from ..functions.shingle import shingle_hashes
from ..functions.similarity import has_common_substring


def _verify_udf(cfg: DedupConfig):
    # TASK-level shingle memo (closure state): the UDF closure is pickled
    # by value per task, so this dict starts empty for each task and
    # persists across that task's Arrow batches — near-dup clusters and
    # anchor-star edges repeat one text across many pairs, and the
    # per-batch memo was recomputing each text's shingles once per batch
    # boundary.  Capped so a pathological partition cannot grow it
    # unboundedly (~4k entries x (text + shingle array) ≈ 75 MB/worker).
    memo: dict[str, np.ndarray] = {}

    @F.pandas_udf(
        T.StructType(
            [
                T.StructField("jaccard", T.DoubleType()),
                T.StructField("lcs_ok", T.BooleanType()),
                T.StructField("cont_a", T.DoubleType()),
                T.StructField("cont_b", T.DoubleType()),
            ]
        )
    )
    def _verify(ta: pd.Series, tb: pd.Series) -> pd.DataFrame:
        jac = np.empty(len(ta), dtype=np.float64)
        lcs_ok = np.zeros(len(ta), dtype=bool)
        cont_a = np.empty(len(ta), dtype=np.float64)
        cont_b = np.empty(len(ta), dtype=np.float64)
        k = cfg.shingle_k
        if len(memo) > 4096:
            memo.clear()

        def sh(t: str) -> np.ndarray:
            # keyed by the string itself: dict equality handles hash
            # collisions, same amortized speed
            s = memo.get(t)
            if s is None:
                s = shingle_hashes(t, k)
                memo[t] = s
            return s

        for i, (x, y) in enumerate(zip(ta, tb)):
            x = x or ""
            y = y or ""
            if x == y:
                jac[i] = 1.0
                lcs_ok[i] = True
                cont_a[i] = cont_b[i] = 1.0
                continue
            sa, sb = sh(x), sh(y)
            na, nb = sa.shape[0], sb.shape[0]
            # shingle_hashes output is unique AND sorted, so the
            # intersection size is a searchsorted probe of the smaller
            # set into the larger — O(min log max), ~3x cheaper than
            # np.intersect1d's concatenate+sort (round-6 A/B: identical
            # outputs, verify stage 7.9s -> 5.7s at 368k pairs)
            if na > nb:
                small, big = sb, sa
            else:
                small, big = sa, sb
            if big.shape[0] == 0:
                inter = 0
            else:
                pos = np.searchsorted(big, small)
                np.clip(pos, 0, big.shape[0] - 1, out=pos)
                inter = int((big[pos] == small).sum())
            j = inter / max(na + nb - inter, 1)
            # shingle containment of each side in the other — the
            # representative-election signal (isPartOf, bamutil.cpp:293-336):
            # a truncated doc has containment ≈ 1 in its source
            cont_a[i] = inter / na if na else 1.0
            cont_b[i] = inter / nb if nb else 1.0
            jac[i] = j
            if j < cfg.jaccard_threshold or cfg.lcs_min_ratio <= 0:
                # LCS is only decision-relevant when Jaccard passed — skip
                # (early-exit, cf. the reference's quorum break
                # group.cpp:231-232)
                lcs_ok[i] = True
            elif j >= 0.85:
                # bag-of-words false collisions (the gate's only target)
                # cannot reach J 0.85 on char shingles; skip the scan
                lcs_ok[i] = True
            else:
                m = int(cfg.lcs_min_ratio * min(len(x), len(y)))
                lcs_ok[i] = has_common_substring(x, y, m)
        return pd.DataFrame(
            {"jaccard": jac, "lcs_ok": lcs_ok, "cont_a": cont_a, "cont_b": cont_b}
        )

    # nondeterministic marking stops Catalyst from re-inlining the UDF once
    # per struct-field reference (observed: 4 ArrowEvalPython nodes = the
    # kernel executing 4x per pair).  The UDF is pure; this is purely an
    # evaluate-once fence.
    return _verify.asNondeterministic()


def attach_pair_payload(
    pairs: DataFrame,
    payload: DataFrame,
    value_col: str,
    out_a: str,
    out_b: str,
    id_col: str = "rep_id",
    extra_cols: tuple[str, ...] = (),
    payload_rows: int | None = None,
    broadcast_max_rows: int = 0,
) -> DataFrame:
    """Attach a per-item payload column to BOTH sides of candidate pairs —
    size-adaptively, because the right join shape flips with payload size.

    **Broadcast path** (``payload_rows`` known and <=
    ``broadcast_max_rows``): two broadcast-hash joins.  The payload ships
    once per executor, the pair rows never shuffle at all (they arrive
    hash-distributed from the candidate ``distinct()``), and there is no
    sort — profiled at 60k pages this removes the fold's two exchanges
    plus a 724k-row SortAggregate over text-laden rows (~430 CPU-s incl.
    GC).  Same cutover logic as Spark's own autoBroadcastJoinThreshold,
    but driven by an exact row count the caller already has instead of
    Catalyst's estimate (which cannot see through pandas-UDF columns).

    **Fold path** (payload too big to broadcast — the 100 TB shape):
    explode each pair into its two (pair, side, item) rows, attach the
    payload with ONE equi-join on the item id, and fold back to one row
    per pair with a hash-partitioned aggregation.  No single executor
    ever holds the payload table, and the one exchange that moves payload
    bytes compresses the near-dup-heavy rows ~10x under zstd.  The
    explicit ``repartition(3x cores, id_a, id_b)`` both feeds the groupBy
    (hash partitioning satisfies its required distribution — no extra
    exchange) and gives downstream CPU-bound UDFs fine enough partitions
    to balance payload-length skew (measured: with exactly `cores`
    partitions the verify stage scaled at 0.63 efficiency 2->8 cores;
    AQE's byte-based coalescing would make it worse).

    ``pairs`` must have (id_a, id_b, *extra_cols); ``payload`` must have
    (id_col, value_col).  Output: (id_a, id_b, *extra_cols, out_a, out_b).
    """
    # internal column names: longer than every caller column name, so none
    # can collide with them
    pre = "_" * (1 + max(len(c) for c in [*pairs.columns, out_a, out_b]))
    rid, v, side = pre + "rid", pre + "v", pre + "side"
    vals = payload.select(F.col(id_col).alias(rid), F.col(value_col).alias(v))
    if payload_rows is not None and payload_rows <= broadcast_max_rows:
        # ONE broadcast relation joined twice (a-side and b-side): the two
        # broadcast subtrees are canonically identical, so ReuseExchange
        # builds and ships the payload hash relation ONCE — the previous
        # per-side aliased selects made the subtrees differ and the
        # (payload-sized) broadcast was collected and shipped twice.
        bv = F.broadcast(vals)
        return (
            pairs.join(bv, F.col("id_a") == F.col(rid))
            .drop(rid)
            .withColumnRenamed(v, out_a)
            .join(bv, F.col("id_b") == F.col(rid))
            .drop(rid)
            .withColumnRenamed(v, out_b)
            .select("id_a", "id_b", *extra_cols, out_a, out_b)
        )

    par = pairs.sparkSession.sparkContext.defaultParallelism * 3
    sides = pairs.select(
        "id_a",
        "id_b",
        *extra_cols,
        F.explode(
            F.array(
                F.struct(F.lit("a").alias(side), F.col("id_a").alias(rid)),
                F.struct(F.lit("b").alias(side), F.col("id_b").alias(rid)),
            )
        ).alias(pre),
    ).select("id_a", "id_b", *extra_cols, f"{pre}.*")
    # exactly one non-null per (pair, side), so first(ignorenulls) is
    # deterministic — and works for any payload type (string, array, ...)
    return (
        sides.join(vals, rid)
        .repartition(par, "id_a", "id_b")
        .groupBy("id_a", "id_b")
        .agg(
            F.first(F.when(F.col(side) == "a", F.col(v)), ignorenulls=True).alias(out_a),
            F.first(F.when(F.col(side) == "b", F.col(v)), ignorenulls=True).alias(out_b),
            *[F.first(c).alias(c) for c in extra_cols],
        )
    )


def verify_pairs(
    edges: DataFrame,
    signed: DataFrame,
    cfg: DedupConfig,
    n_payload_rows: int | None = None,
) -> DataFrame:
    """edges (id_a, id_b) → verified edges with (jaccard, sim_hamming, lcs).

    ``signed`` must carry (rep_id, norm_text, simhash); it is joined twice
    (the reference's qname-keyed mate lookup, ``cluster.cpp:260-273``).

    ``n_payload_rows`` — exact row count of ``signed`` if the caller has
    it (a cached/checkpointed frame makes it one cheap job); drives the
    broadcast-vs-fold cutover in :func:`attach_pair_payload`.
    """
    # Join order is deliberate: signatures first (1 KB/side), texts LAST and
    # only for gate survivors — candidate pairs that fail the cheap gates
    # never shuffle their (multi-KB) text payloads at all.
    sig_side = signed.select("rep_id", "simhash", "minhash")
    sa = sig_side.select(
        F.col("rep_id").alias("id_a"),
        F.col("simhash").alias("sim_a"),
        F.col("minhash").alias("mh_a"),
    )
    sb = sig_side.select(
        F.col("rep_id").alias("id_b"),
        F.col("simhash").alias("sim_b"),
        F.col("minhash").alias("mh_b"),
    )
    # Repartition the THIN pair rows (16 B each) before any payload is
    # attached: the candidate edges arrive from a byte-coalesced distinct
    # (368k pairs ≈ 6 MB → AQE leaves ~8 partitions at 60k pages), and
    # because every downstream join here is a broadcast, that partition
    # count would be inherited by the est-Jaccard gate AND the Arrow
    # verify UDF after the attach fans bytes ~250x — measured 4x
    # under-parallelized (verify stage 13.4s → 5.4s at 60k pages with
    # this exchange, which itself moves only the pair ids).
    par = edges.sparkSession.sparkContext.defaultParallelism * 3
    joined = edges.repartition(par, "id_a", "id_b").join(sa, "id_a").join(sb, "id_b")

    # gate 0 — JVM-side popcount.  ONE codegen'd instruction per pair
    # (bit_count(xor)), so it runs first: even at the lenient hamming<=16
    # cut it rejects the bulk of false band collisions (dissimilar same-
    # domain docs sit at hamming ~24-32) for essentially zero CPU.
    survivors = joined.withColumn(
        "sim_hamming",
        F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("int"),
    ).filter(F.col("sim_hamming") <= cfg.simhash_max_hamming)

    # gate 1 — MinHash-estimated Jaccard, pure JVM but *interpreted*
    # (zip_with/aggregate higher-order functions don't codegen): one
    # lambda eval per slot per pair makes this the priciest JVM gate —
    # profiled at 405 CPU-s on 60k docs when it ran first over all 128
    # slots — so it runs only on popcount survivors AND over a
    # cfg.est_gate_slots prefix of the signature.  The estimator's std
    # dev is sqrt(J(1-J)/slots); gating at threshold − 3σ (margin
    # recomputed from the slot count) rejects essentially no true pairs
    # while pruning the false collisions the hamming cut let through,
    # before any Python runs.  A pair that band-collided inside the
    # prefix carries up to rows_per_band guaranteed-equal slots — an
    # UPWARD bias only, so it can never reject a true pair; it just
    # passes a few extra junk pairs on to the decisive exact gate.
    j = cfg.jaccard_threshold
    slots = min(cfg.est_gate_slots, cfg.num_perms)
    margin = 3.0 * (j * (1.0 - j) / slots) ** 0.5
    est = F.aggregate(
        F.zip_with(
            F.slice("mh_a", 1, slots),
            F.slice("mh_b", 1, slots),
            lambda x, y: (x == y).cast("int"),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(slots)
    survivors = (
        survivors.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= j - margin)
        .drop("mh_a", "mh_b")
    )

    # now (and only now) fetch texts for the survivors, via the shared
    # explode+fold shape (see attach_pair_payload): each text moves at most
    # twice, never once per candidate edge.
    gated = attach_pair_payload(
        survivors, signed, "norm_text", "text_a", "text_b",
        extra_cols=("sim_hamming",),
        payload_rows=n_payload_rows,
        broadcast_max_rows=cfg.attach_broadcast_max_rows,
    )

    # gates 2+3 — one vectorized UDF pass
    v = gated.withColumn("v", _verify_udf(cfg)(F.col("text_a"), F.col("text_b")))
    verified = (
        v.filter((F.col("v.jaccard") >= cfg.jaccard_threshold) & F.col("v.lcs_ok"))
        .select(
            "id_a",
            "id_b",
            F.col("v.jaccard").alias("jaccard"),
            F.col("v.cont_a").alias("cont_a"),
            F.col("v.cont_b").alias("cont_b"),
            "sim_hamming",
        )
    )
    return verified


def rep_containment(verified: DataFrame) -> DataFrame:
    """(rep_id, containment): each rep's best shingle-containment within any
    verified neighbor — the election score (most-contained wins ties,
    mirroring the reference's representative pick, ``group.cpp:196-267``)."""
    a = verified.select(F.col("id_a").alias("rep_id"), F.col("cont_a").alias("c"))
    b = verified.select(F.col("id_b").alias("rep_id"), F.col("cont_b").alias("c"))
    return a.unionByName(b).groupBy("rep_id").agg(F.max("c").alias("containment"))
