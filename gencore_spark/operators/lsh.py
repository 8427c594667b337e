"""Stage 3: LSH band bucketing → candidate pair generation, skew-aware.

Reference analog: the coordinate hash-agg that routes reads into
``clusters[tid][left][right]`` (``gencore.cpp:295-316,449-467``) — the
shuffle IS the cluster index — plus the low-complexity-cluster guard
(``group.cpp:142-175``, threshold ``options.cpp:31``) that kills quadratic
blowup on pathological groups.

Skew strategy (explicit, logged — BASELINE.json north_star requires it):

* buckets with ``size <= bucket_size_cap``: all-pairs self-join within the
  bucket (exact candidate semantics);
* buckets larger than the cap (boilerplate mega-buckets): **anchor-star +
  random-order chain** edges — every member pairs with the bucket's min-id
  member AND with its neighbor in a per-bucket pseudorandom order.  Still
  O(n) edges instead of O(n^2).  The star connects a HOMOGENEOUS mega-dup
  bucket through its anchor; the chains protect the HETEROGENEOUS case
  (two distinct near-dup groups colliding in one bucket, where the
  non-anchor group's star edges all fail verification): same-group members
  adjacent in the chain produce verified edges, and because the chain
  order is re-randomized per band, a group's members connect w.h.p. across
  the several bands a J>=0.7 pair collides in.  Every capped-bucket edge
  still goes through full verification — capped members are re-verified,
  never silently reduced (SURVEY §7).  Unlike the reference (which
  silently drops such clusters, ``group.cpp:170-173``), recall is
  preserved; the choice is logged in the metrics (``n_capped_buckets``).

All joins below are equi-joins on ``(band_id, band_hash)``; AQE skew-join
splitting handles residual imbalance inside the cap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import DedupConfig


def band_explode(
    signed: DataFrame, cfg: DedupConfig, passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """(rep_id, minhash) → one row per (rep_id, band_id, band_hash).

    Pure JVM: band key = ``xxhash64(band_id, slice(minhash, band))`` —
    whole-stage-codegen'd, no Arrow round trip of the signature arrays.
    (The numpy ``band_hashes`` kernel remains as the tested reference
    implementation of band mixing; the pipeline key only needs to be a
    deterministic injective-ish mix, not that exact one.)

    ``passthrough`` — extra columns carried through the explode unchanged
    (used by the streaming near-dup gate to keep url/event-time on the
    band rows; the batch path leaves it empty so the shuffle stays thin).
    """
    r = cfg.rows_per_band
    bands_expr = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_id"),
                F.xxhash64(F.lit(i), F.slice(F.col("minhash"), i * r + 1, r)).alias(
                    "band_hash"
                ),
            )
            for i in range(cfg.bands)
        ]
    )
    return signed.select(
        "rep_id", *passthrough, F.explode(bands_expr).alias("b")
    ).select("rep_id", *passthrough, "b.band_id", "b.band_hash")


def bucketed_pairs(
    exploded: DataFrame, bucket_cols: list[str], cap: int, id_col: str = "rep_id"
) -> tuple[DataFrame, DataFrame]:
    """Generic skew-capped bucket self-join.

    ``exploded`` has one row per (item, bucket membership); returns
    ``(edges, bucket_stats)``:

    * edges — distinct (id_a < id_b): all-pairs within buckets of size
      <= ``cap``; anchor-star PLUS pseudorandom-order chain edges within
      larger buckets (module docstring: the quarantine re-verify — capped
      members keep O(1) candidate edges each, all fully verified
      downstream, covering both homogeneous and heterogeneous
      mega-buckets);
    * bucket_stats — one row per bucket: size + capped flag.  The returned
      df is **persisted** (it feeds both the pair join and the caller's
      metrics); the CALLER owns the cache and must ``unpersist()`` it once
      edges and stats are materialized — a long-lived session running many
      dedup queries would otherwise accumulate executor storage.

    Shared by the MinHash band join, the SimHash pigeonhole join, and the
    embedding sign-LSH join — one skew policy, tested once.
    """
    from pyspark.sql import Window

    stats = (
        exploded.groupBy(*bucket_cols)
        .agg(
            F.count(F.lit(1)).alias("bucket_size"),
            F.min(id_col).alias("anchor_id"),
        )
        .withColumn("capped", F.col("bucket_size") > cap)
        .persist()
    )
    # singleton buckets generate no pairs — drop them before the join
    # (the dominant case: unique docs)
    active = stats.filter(F.col("bucket_size") >= 2)

    tagged = exploded.join(active, bucket_cols)

    # Small buckets: all-pairs WITHIN the bucket via one groupBy +
    # collect_list + in-bucket JVM pair expansion.  The buffer is bounded
    # by the cap (<= 64 members per collected bucket — the ONLY reason a
    # collect_list is admissible here; mega-buckets never reach it), and
    # it replaces the previous a-side/b-side self-join, which evaluated
    # AND shuffled the exploded table twice more (round-6 measurement:
    # the exploded/tagged subtree was evaluated ~5x across the small/
    # star/chain branches — each branch is a separate evaluation of its
    # unmaterialized lineage, and pinning `tagged` is not scale-safe
    # because it is corpus x bands sized).  Members arrive pre-sorted so
    # the nested transform emits exactly the (id_a < id_b) pairs the
    # join produced; the strict filter after the explode drops the (x, x)
    # pair an id listed twice in one bucket would otherwise expand to.
    small = tagged.filter(~F.col("capped"))
    members = F.array_sort(F.collect_list(id_col))
    pair_arr = F.flatten(
        F.transform(
            F.col("ms"),
            lambda x, i: F.transform(
                F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    pairs_small = (
        small.groupBy(*bucket_cols)
        .agg(members.alias("ms"))
        .select(F.explode(pair_arr).alias("p"))
        .select("p.id_a", "p.id_b")
        .filter(F.col("id_a") < F.col("id_b"))
    )

    # capped mega-buckets: anchor-star ∪ per-bucket random-order chain,
    # BOTH emitted from one window pass (star and chain branches used to
    # be two separate evaluations of the tagged lineage).  O(2n) edges;
    # the chain order hash mixes the bucket key, so each band
    # re-randomizes adjacency (heterogeneous-bucket recovery).
    #
    # The chain is SALTED into ~cap-sized sub-groups: a window partitioned
    # by the bucket key alone sorts the ENTIRE mega-bucket in one task —
    # at 100× scale a 10^7-member boilerplate bucket becomes one O(n log n)
    # straggler, the exact shape the cap exists to avoid.  Instead the
    # order hash is bucketed into ceil(size/cap) sub-groups and each
    # sub-group chains independently (one ~cap-row sort per task).
    # Connectivity is unchanged: the star reaches every member through the
    # anchor, and for heterogeneous buckets the expected number of
    # same-group adjacencies in the salted chain equals the unsalted
    # chain's (members land in sub-groups and positions uniformly), with
    # both salt and order re-randomized per band.
    big = tagged.filter(F.col("capped"))
    order = F.xxhash64(F.lit(0x51A), *bucket_cols, id_col)
    n_sub = F.ceil(F.col("bucket_size") / F.lit(cap)).cast("long")
    salt = F.pmod(F.xxhash64(F.lit(0x5A17), *bucket_cols, id_col), n_sub)
    w = Window.partitionBy(*bucket_cols, "chain_salt").orderBy("chain_ord")
    star_edge = F.when(
        F.col(id_col) != F.col("anchor_id"),
        F.struct(
            F.least("anchor_id", id_col).alias("id_a"),
            F.greatest("anchor_id", id_col).alias("id_b"),
        ),
    )
    chain_edge = F.when(
        F.col("prev").isNotNull() & (F.col("prev") != F.col(id_col)),
        F.struct(
            F.least("prev", id_col).alias("id_a"),
            F.greatest("prev", id_col).alias("id_b"),
        ),
    )
    pairs_big = (
        big.withColumn("chain_ord", order)
        .withColumn("chain_salt", salt)
        .withColumn("prev", F.lag(id_col).over(w))
        .select(F.explode(F.array(star_edge, chain_edge)).alias("p"))
        .filter(F.col("p").isNotNull())
        .select("p.id_a", "p.id_b")
    )

    edges = pairs_small.unionByName(pairs_big).distinct()
    return edges, stats


def candidate_pairs(
    signed: DataFrame, cfg: DedupConfig
) -> tuple[DataFrame, DataFrame]:
    """Distinct candidate edges (id_a < id_b) + bucket-stat metrics df.

    Returns ``(edges, bucket_stats)``.  Capped buckets contribute
    anchor-star + chain edges (see :func:`bucketed_pairs`), so neither
    homogeneous nor heterogeneous mega-buckets cost recall.
    """
    exploded = band_explode(signed, cfg)
    return bucketed_pairs(exploded, ["band_id", "band_hash"], cfg.bucket_size_cap)
