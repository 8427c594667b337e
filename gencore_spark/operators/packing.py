"""Corpus splitting and token-budget shard packing.

Two operators a pretraining-data pipeline runs after cleaning/dedup:

* :func:`hash_split` — deterministic train/val/test assignment.  Every doc
  lands in exactly one split, the assignment is a pure function of the doc
  id (stable across reruns, partitionings, and cluster sizes — the
  property that matters; a ``rand()`` split changes under retry).
* :func:`pack_into_token_shards` — assign docs to fixed-token-budget
  shards (the unit a trainer streams).  Requires a GLOBAL running total
  over an explicit total order — the textbook distributed prefix-sum:
  range-partition on the order key, partition-local window cumsum, then
  add per-partition offsets (a driver-side array of ``P`` numbers, not a
  single-task global window — ``sum() OVER (ORDER BY ...)`` with no
  partition key collapses Spark to ONE task and is the anti-pattern this
  operator exists to avoid).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

# Knuth multiplicative hash, 32-bit golden ratio.  Chosen over xxhash64
# ONLY because the split must be recomputable in plain SQL by the DuckDB
# oracle (no xxhash there); the id is folded to 31 bits first so the
# product stays inside int64 under ANSI overflow checking.  A deployment
# keyed on adversarial ids would swap in F.xxhash64 — one line.
_KNUTH = 2654435761
_SPLIT_BUCKETS = 10_000
# Salt separating the SAMPLING hash from the SPLIT hash (any public odd
# constant; this is the Numerical Recipes LCG increment).  The two
# decisions must be independent: if sampling reused split_bucket, a
# stratum sampled at rate r < 0.98 would keep only buckets [0, r*10^4) —
# all inside train's [0, 9800) — and val/test would receive ZERO rows
# from every downsampled stratum.
_SAMPLE_SALT = 1_013_904_223


def split_bucket32(id_col: Column) -> Column:
    """Deterministic value in [0, 2^32) from an integer id — the full-width
    Knuth hash (``split_bucket`` is this mod 10⁴; the 32-bit form is the
    sort key for hash-ordered shard packing, where 10⁴ buckets would leave
    corpus-order runs inside each bucket)."""
    folded = F.pmod(id_col, F.lit(2_147_483_648))
    return F.pmod(folded * F.lit(_KNUTH), F.lit(1 << 32))


def split_bucket(id_col: Column) -> Column:
    """Deterministic bucket in [0, 10000) from an integer id."""
    return split_bucket32(id_col) % _SPLIT_BUCKETS


def sample_bucket(id_col: Column) -> Column:
    """Deterministic bucket in [0, 10000) for SAMPLING decisions —
    decorrelated from :func:`split_bucket` by a salted second Knuth fold
    (fold the 32-bit split hash to 31 bits with a salt, multiply again).
    Still a pure int64 expression a SQL oracle recomputes exactly.
    Measured on 5x10^5 sequential ids: within the val/test bucket ranges
    of ``split_bucket``, ``sample_bucket < r*10^4`` holds for r +- 0.002 —
    i.e. sampling is independent of the split assignment."""
    folded = F.pmod(
        split_bucket32(id_col) + F.lit(_SAMPLE_SALT), F.lit(2_147_483_648)
    )
    return F.pmod(folded * F.lit(_KNUTH), F.lit(1 << 32)) % _SPLIT_BUCKETS


def hash_split(
    df: DataFrame,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Add a ``split`` column partitioning the corpus by ``weights``
    (default 98/1/1 train/val/test).  Buckets are contiguous ranges of
    ``split_bucket``, so proportions are exact to 1/10000 and every doc
    maps to exactly one split.  Narrow (no shuffle, no Python)."""
    weights = weights or {"train": 0.98, "val": 0.01, "test": 0.01}
    total = sum(weights.values())
    bucket = split_bucket(F.col(id_col))
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total * _SPLIT_BUCKETS
        branch = F.when(bucket < int(round(acc)), F.lit(name))
        expr = branch if expr is None else expr.when(
            bucket < int(round(acc)), F.lit(name)
        )
    split = F.lit(names[-1]) if expr is None else expr.otherwise(F.lit(names[-1]))
    return df.withColumn("split", split)


def pack_into_token_shards(
    df: DataFrame,
    token_budget: int,
    size_col: str = "n_tokens",
    id_col: str = "doc_id",
    num_partitions: int | None = None,
    order_by: str = "size_desc",
) -> DataFrame:
    """Assign each doc a ``shard_id`` so consecutive docs (in a fixed total
    order) fill ~``token_budget`` tokens per shard:
    ``shard_id = floor(running_total_before_doc / budget)``.

    ``order_by`` picks the total order:

    * ``"size_desc"`` (default) — ``size_col`` DESC, ``id_col`` ASC: the
      bin-packing-ish order that minimizes shard-count overshoot.
    * ``"hash"`` — ``split_bucket32(id)`` ASC, ``id_col`` ASC: a
      deterministic PSEUDO-RANDOM document order, so shards double as a
      global training-data shuffle (a trainer streaming shard 0, 1, 2…
      sees documents in hash order, not corpus/source order — the
      standard requirement that neighboring training batches not share a
      crawl segment).  Same determinism contract as :func:`hash_split`.

    A doc larger than the budget gets a shard to itself (the next doc
    starts a new shard).  Deterministic for any partitioning because the
    order is total and the prefix sum is exact.

    Scale shape — distributed prefix sum:

    1. ``repartitionByRange`` on the order key (P parallel sorted ranges);
    2. window cumsum *within* each range partition (parallel — the window
       is keyed on ``spark_partition_id``, never a global ORDER BY);
    3. per-partition totals → P-row collect → cumulative offsets rejoined
       as a tiny broadcast.

    The only driver-side data is one number per partition.
    """
    p = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    if order_by == "hash":
        order = [split_bucket32(F.col(id_col)).asc(), F.col(id_col).asc()]
    elif order_by == "size_desc":
        order = [F.col(size_col).desc(), F.col(id_col).asc()]
    else:
        raise ValueError(f"order_by must be 'size_desc' or 'hash', got {order_by!r}")
    # cache: the partition-id column must be IDENTICAL in the totals job
    # and the cumsum job; caching pins one materialization of the range
    # partitioning for both
    ranged = (
        df.select(id_col, size_col)
        .repartitionByRange(p, *order)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy("_pid").orderBy(*order)
    local = ranged.withColumn(
        "_cum_in_part", F.sum(size_col).over(w)
    )
    totals = (
        ranged.groupBy("_pid").agg(F.sum(size_col).alias("_tot"))
        .orderBy("_pid")
        .collect()
    )
    offsets = {}
    acc = 0
    for r in totals:
        offsets[r["_pid"]] = acc
        acc += r["_tot"] or 0
    off_df = df.sparkSession.createDataFrame(
        [(pid, off) for pid, off in offsets.items()], "_pid int, _off long"
    )
    out = (
        local.join(F.broadcast(off_df), "_pid")
        .withColumn("_cum", F.col("_cum_in_part") + F.col("_off"))
        .select(
            id_col,
            F.col(size_col).cast("long").alias(size_col),
            # integer DIV, not floor(double /): a double is exact only to
            # 2^53 and the running total is corpus-sized
            F.expr(
                f"(_cum - cast({size_col} AS BIGINT)) DIV {int(token_budget)}"
            ).cast("long").alias("shard_id"),
        )
    )
    return out


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str = "lang",
    default_rate: float = 0.0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum downsampling: keep a row iff its
    ``sample_bucket(id)`` falls under the stratum's rate (in units of
    1/10000).  It rebalances a corpus by language / source / quality
    bucket after dedup.

    Same determinism contract as :func:`hash_split` (pure function of the
    id — stable across reruns, retries, partitionings, cluster sizes; a
    ``df.sample``/``rand()`` sample is none of these), and an equally
    SQL-recomputable hash so the operator stays oracle-checkable.  The
    keep decision uses :func:`sample_bucket`, a hash INDEPENDENT of
    hash_split's bucket, so a sampled-then-split corpus keeps its
    train/val/test proportions within every stratum (sampling on the
    split bucket itself would starve val/test of any stratum sampled
    below the train weight — the bug this salt exists to prevent).

    Scale shape: a narrow filter — no shuffle, no Python.  The rates dict
    compiles to a literal CASE chain (strata are things like languages:
    tens of values, far under codegen's 64KB method limit); a rates TABLE
    of thousands of strata would swap in a broadcast join — one line.
    """
    bucket = sample_bucket(F.col(id_col))
    threshold = None
    for value, rate in rates.items():
        t = F.when(F.col(stratum_col) == value, F.lit(int(round(rate * _SPLIT_BUCKETS))))
        threshold = t if threshold is None else threshold.when(
            F.col(stratum_col) == value, F.lit(int(round(rate * _SPLIT_BUCKETS)))
        )
    threshold = (
        F.lit(int(round(default_rate * _SPLIT_BUCKETS)))
        if threshold is None
        else threshold.otherwise(F.lit(int(round(default_rate * _SPLIT_BUCKETS))))
    )
    return df.filter(bucket < threshold)
