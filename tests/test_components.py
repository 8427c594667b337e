"""Connected-components correctness on known graphs (Spark)."""

import pytest

from gencore_spark.config import DedupConfig
from gencore_spark.operators.components import connected_components


def _cc(spark, edge_list):
    df = spark.createDataFrame(edge_list, ["id_a", "id_b"])
    rows = connected_components(df).collect()
    return {r["rep_id"]: r["cluster_id"] for r in rows}


def test_cc_two_components(spark):
    out = _cc(spark, [(1, 2), (2, 3), (10, 11)])
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_cc_chain_collapses(spark):
    # a path graph — worst case for naive label propagation
    edges = [(i, i + 1) for i in range(1, 40)]
    out = _cc(spark, edges)
    assert set(out.values()) == {1}
    assert len(out) == 40


def test_cc_star_and_duplicates(spark):
    edges = [(5, 1), (5, 2), (5, 3), (1, 5), (2, 5), (3, 3)]
    out = _cc(spark, edges)
    # duplicate/reversed edges and self-loops are harmless; all connect via 5
    assert out == {1: 1, 2: 1, 3: 1, 5: 1}


def test_cc_deterministic_min_label(spark):
    out = _cc(spark, [(100, 7), (7, 55), (55, 100), (200, 100)])
    assert set(out.values()) == {7}


def test_cc_handles_negative_ids(spark):
    # xxhash64 ids are full-range signed longs
    out = _cc(spark, [(-5, 3), (3, -1)])
    assert out == {-5: -5, 3: -5, -1: -5}


def _union_find(edge_list):
    """Reference labelling: node → min node id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        if a == b:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_cc_matches_union_find_oracle(spark):
    import random

    rng = random.Random(7)
    path = list(range(1, 50))
    rng.shuffle(path)
    clique = [(a, b) for a in range(60, 68) for b in range(60, 68) if a < b]
    graphs = {
        # one probe of targets against sources stops here too early:
        # small-star leaves 3→1 and 3→2, yet no target is a source
        "two_parents": [(3, 5), (3, 6), (2, 5), (1, 6)],
        "long_path": [(i, i + 1) for i in range(1, 64)],
        "shuffled_path": list(zip(path, path[1:])),
        "star_center_not_min": [(50, v) for v in (3, 70, 90, 51, 8)],
        "clique": clique,
        "several": clique + [(1, 2), (2, 3), (100, 101), (103, 102), (7, 300)],
        "negative_ids": [(-9, 4), (4, -2), (-2, 11), (30, -30), (-31, 31)],
        "dups_reversed": [(5, 9), (9, 5), (5, 9), (9, 12), (12, 9), (12, 12),
                          (20, 21), (21, 20)],
        "random": [(rng.randrange(80), rng.randrange(80)) for _ in range(60)],
    }
    for name, edge_list in graphs.items():
        assert _cc(spark, edge_list) == _union_find(edge_list), name


def test_cc_raises_when_cycles_run_out(spark):
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="cc_max_iterations=1"):
        connected_components(df, DedupConfig(cc_max_iterations=1))
    out = connected_components(df).collect()
    assert {r["cluster_id"] for r in out} == {1} and len(out) == 40


def test_cc_unpins_superseded_generations(spark):
    """Each cycle pins two frames and the call pins its input; only the
    frame the result reads may stay pinned once the call returns.  Checked
    while the result is alive, so no GC or ContextCleaner timing enters."""
    jsc = spark.sparkContext._jsc

    def pins() -> set[int]:
        rdds = jsc.getPersistentRDDs()
        return {
            int(k) for k in rdds.keySet().toArray()
            if rdds.get(k).rdd().isLocallyCheckpointed()
        }

    # a 40-node path needs several large-star/small-star cycles
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)], ["id_a", "id_b"]
    )
    before = pins()
    out = connected_components(df)
    left = pins() - before
    assert len(left) == 1, f"pinned frames left by one call: {sorted(left)}"
    rows = out.collect()
    assert {r["cluster_id"] for r in rows} == {1} and len(rows) == 40
