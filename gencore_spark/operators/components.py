"""Stage 5: connected components — alternating large-star / small-star.

Reference analog: greedy transitive UMI grouping (``cluster.cpp:55-100``) —
gencore absorbs every pair within hamming<=d of the current top UMI and
repeats, which computes exactly the connected components of the
hamming-ball graph.  Ours computes CC of the verified-pair graph with the
large-star/small-star algorithm (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14) — O(log n) rounds of pure DataFrame
joins/aggregations, no driver-side graph state.

Per-round ops (all equi-joins + groupBy — shuffle on node id):

* large-star: for each node u, m = min(N(u) ∪ {u}); emit (v, m) for every
  neighbor v > u.
* small-star: orient edges (a > b); for each a, m = min(N(a) ∪ {a});
  emit (v, m) for v in N(a) ∪ {a} \\ {m}.

Convergence: small-star output points every edge at a smaller node, so
it is the final labelling exactly when it is a star forest — every node
has at most one outgoing edge, and no edge's target has an outgoing edge
of its own.  One aggregation per cycle tests both; the loop stops on the
cycle that reaches the forest, with no confirming cycle after it.  A
forest test without the out-degree half is not enough: large-star on
3-5, 3-6, 2-5, 1-6 gives 5→2, 5→3, 6→1, 6→3, and small-star then gives
3→1, 3→2, 5→2, 6→1 — no target is a source, yet node 3 carries two
labels.  ``localCheckpoint`` truncates lineage each round (the one place
iterative lineage can blow up a long job); once a cycle's forest test has
materialized its output, the generations it was built from are unpersisted,
so a call leaves one pinned frame behind — the one its result reads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import DEFAULT_CONFIG, DedupConfig


def _large_star(edges: DataFrame) -> DataFrame:
    sym = edges.select("a", "b").unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    mins = sym.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("m"))
    return (
        sym.join(mins, "a")
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    oriented = edges.select(
        F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
    ).filter(F.col("a") != F.col("b"))
    mins = oriented.groupBy("a").agg(F.min("b").alias("m"))
    nbrs = oriented.join(mins, "a")
    to_min = nbrs.filter(F.col("b") != F.col("m")).select(
        F.col("b").alias("a"), F.col("m").alias("b")
    )
    self_to_min = mins.select(F.col("a"), F.col("m").alias("b"))
    return to_min.unionByName(self_to_min).distinct()


def _is_star_forest(edges: DataFrame) -> bool:
    """True when the distinct, smaller-pointing ``edges`` form a star
    forest: no node has two outgoing edges, and no node has both an
    outgoing and an incoming edge."""
    roles = edges.select(
        F.col("a").alias("n"), F.lit(1).alias("out"), F.lit(0).alias("in")
    ).unionByName(
        edges.select(F.col("b").alias("n"), F.lit(0).alias("out"), F.lit(1).alias("in"))
    )
    bad = (
        roles.groupBy("n")
        .agg(F.sum("out").alias("out"), F.max("in").alias("in"))
        .filter((F.col("out") > 1) | ((F.col("out") > 0) & (F.col("in") > 0)))
    )
    return bad.isEmpty()


def _unpin(df: DataFrame) -> None:
    """Drop the blocks of a ``localCheckpoint`` frame nothing reads any more
    (no Spark job: the RDD is removed from the persisted set at once and its
    blocks asynchronously)."""
    df._jdf.logicalPlan().rdd().unpersist(False)


def connected_components(
    edges: DataFrame, cfg: DedupConfig | None = None
) -> DataFrame:
    """edges (id_a, id_b) → assignment (rep_id, cluster_id).

    ``cluster_id`` is the minimum node id of the component (deterministic,
    resume-stable).  Every node appearing in ``edges`` gets a row; isolated
    nodes are the caller's concern (they keep their own id).  Duplicate
    or reversed input edges need no dedup: the first large-star takes one
    min per node and ends in ``distinct()``.
    """
    cfg = cfg or DEFAULT_CONFIG
    # Node ids are type-agnostic: any hashable + orderable Spark type works
    # (long for table-keyed graphs, struct(hi, lo) for the pipeline's
    # 128-bit doc ids) — the star rounds only group, join, and min() them.
    #
    # Materialize the input ONCE before iterating: every star round
    # references its input 2-3x, so an unmaterialized upstream (e.g. the
    # full signature+verify tree) would be recomputed ~(2-3)^rounds times.
    # localCheckpoint (not persist): truncating the physical plan each
    # cycle keeps per-round stage latency flat — a measured 6x per-round
    # difference versus persist-chained lineage.  The pin is lazy: the
    # first cycle's forest test materializes the input.
    cur = (
        edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .localCheckpoint(eager=False)
    )

    # Checkpoint + forest test FUSED into one job per CYCLE: both
    # checkpoints are lazy and the test is the action that materializes
    # them.  Pinning after EACH star (measured, round 6): each star
    # references its input 3-4x, so an unpinned chain duplicates the base
    # plan per star and DRIVER-SIDE CATALYST PLANNING of the lazy
    # checkpoint (Dataset.localCheckpoint compiles the physical plan
    # eagerly) becomes the loop's dominant cost — 1.3-3.5s per checkpoint
    # on a 6k-edge graph with a 12-leaf tree, 0.1-0.3s with 3-4 leaves.
    #
    # The forest test reads every partition of the new small-star frame
    # (its groupBy shuffles them all), so after it the frame's blocks are
    # complete and the cycle's input and large-star frames are superseded.
    for _ in range(cfg.cc_max_iterations):
        prev = cur
        large = _large_star(prev).localCheckpoint(eager=False)
        cur = _small_star(large).localCheckpoint(eager=False)
        done = _is_star_forest(cur)
        _unpin(prev)
        _unpin(large)
        if done:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in cc_max_iterations="
            f"{cfg.cc_max_iterations} large-star/small-star cycles"
        )

    # converged: edges form stars (node -> component min). Add the roots.
    assign = cur.select(F.col("a").alias("rep_id"), F.col("b").alias("cluster_id"))
    roots = cur.select(F.col("b").alias("rep_id"), F.col("b").alias("cluster_id"))
    return assign.unionByName(roots).distinct()
