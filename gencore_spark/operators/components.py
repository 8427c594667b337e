"""Stage 5: connected components — union-find on the driver for small
graphs, alternating large-star / small-star above that.

Reference analog: greedy transitive UMI grouping (``cluster.cpp:55-100``) —
gencore absorbs every pair within hamming<=d of the current top UMI and
repeats, which computes exactly the connected components of the
hamming-ball graph.  Ours computes CC of the verified-pair graph.

Size cutover (``_DRIVER_MAX_EDGES``, the same role as
``attach_broadcast_max_rows``): the input is pinned once and one bounded
fetch of the pin takes at most ``bound + 1`` edges to the driver.  If the
graph has no more than ``bound`` edges, union-find with min-id roots
labels it there and the result goes back through ``createDataFrame`` — a
handful of Spark jobs instead of three AQE jobs per cycle.  Not
distributing a small input is the argument of "To Partition, or Not to
Partition" (SIGMOD'21).  Larger graphs — the 10^14-byte design point —
run on the pin the fetch materialized, so the caller's upstream runs once
on either side of the cutover, with the large-star/small-star algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14): O(log n) rounds of pure DataFrame joins/aggregations, no
driver-side graph state.

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

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..config import DEFAULT_CONFIG, DedupConfig

# Graphs with at most this many edges are labelled on the driver.  Measured
# on a 4-core local[4] host (one JVM, alternating calls): at 10^5 edges the
# driver path took 0.46x the star rounds' time on a dedup-shaped graph and
# 0.09x on a random one; at 10^6 it lost on the dedup shape (1.2x).  About
# 16 MB of driver memory at 10^5 edges.
_DRIVER_MAX_EDGES = 100_000


def _union_find(pairs) -> dict:
    """node → minimum node id of its component, for (a, b) pairs with
    a != b.  Every root is its component's minimum: a union hangs the
    larger root under the smaller one."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return {x: find(x) for x in parent}


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
    or reversed input edges need no dedup: union-find ignores them, and
    the first large-star takes one min per node and ends in ``distinct()``.
    """
    cfg = cfg or DEFAULT_CONFIG
    # Materialize the input ONCE: every star round references its input
    # 2-3x, so an unmaterialized upstream (e.g. the full signature+verify
    # tree) would be recomputed ~(2-3)^rounds times.  localCheckpoint (not
    # persist): truncating the physical plan each cycle keeps per-round
    # stage latency flat — a measured 6x per-round difference versus
    # persist-chained lineage.  The pin is lazy: the bounded fetch below
    # materializes it (each task caches its whole partition before the
    # limit takes from it), or, for non-integral ids, the first cycle's
    # forest test does.
    cur = (
        edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .localCheckpoint(eager=False)
    )
    # The driver path orders ids as Python ints, which is Spark's order for
    # integral types only; any other id type always takes the star rounds.
    # Node ids are type-agnostic there: any hashable + orderable Spark type
    # works — the star rounds only group, join, and min() them.
    id_type = cur.schema["a"].dataType
    if isinstance(id_type, T.IntegralType):
        # one bounded fetch, one Spark job: every task keeps bound + 1 edges
        # of its partition and the limit keeps bound + 1 of them; the tasks
        # read in parallel (a coalesce(1) would run the upstream in one)
        fetched = cur.limit(_DRIVER_MAX_EDGES + 1).toArrow()
        if fetched.num_rows <= _DRIVER_MAX_EDGES:
            _unpin(cur)
            labels = _union_find(
                zip(fetched.column("a").to_pylist(), fetched.column("b").to_pylist())
            )
            schema = T.StructType([
                T.StructField("rep_id", id_type), T.StructField("cluster_id", id_type)
            ])
            # one partition: a local table otherwise splits into up to
            # defaultParallelism slices, one snapshot file each
            return edges.sparkSession.createDataFrame(
                pa.table({"rep_id": list(labels), "cluster_id": list(labels.values())}),
                schema,
            ).coalesce(1)

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
