"""Connected-components correctness on known graphs (Spark)."""

import contextlib

import pytest

from gencore_spark.config import DedupConfig
from gencore_spark.operators import components
from gencore_spark.operators.components import connected_components


@contextlib.contextmanager
def driver_bound(n: int):
    """Run with the driver-path cutover at ``n`` edges; 0 sends every
    non-empty graph to the distributed large-star/small-star rounds."""
    with pytest.MonkeyPatch.context() as m:
        m.setattr(components, "_DRIVER_MAX_EDGES", n)
        yield


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
        want = _union_find(edge_list)
        with driver_bound(0):
            assert _cc(spark, edge_list) == want, f"{name} (distributed)"
        assert _cc(spark, edge_list) == want, f"{name} (driver)"


def test_cc_raises_when_cycles_run_out(spark):
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)], ["id_a", "id_b"]
    )
    with driver_bound(0):
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
    with driver_bound(0):
        out = connected_components(df)
    left = pins() - before
    assert len(left) == 1, f"pinned frames left by one call: {sorted(left)}"
    rows = out.collect()
    assert {r["cluster_id"] for r in rows} == {1} and len(rows) == 40


def test_cc_driver_path_keeps_id_type(spark):
    """The driver path hands back the input's id type: full-range negative
    longs stay longs, and int ids stay ints."""
    from pyspark.sql import types as T

    lo, hi = -(2**63), 2**63 - 1
    longs = spark.createDataFrame(
        [(hi, -7), (-7, lo), (5, -3)], "id_a long, id_b long"
    )
    out = connected_components(longs)
    assert out.schema["rep_id"].dataType == T.LongType()
    assert out.schema["cluster_id"].dataType == T.LongType()
    got = {r["rep_id"]: r["cluster_id"] for r in out.collect()}
    assert got == {hi: lo, -7: lo, lo: lo, 5: -3, -3: -3}
    ints = spark.createDataFrame([(4, -2), (-2, 9)], "id_a int, id_b int")
    out = connected_components(ints)
    assert out.schema["cluster_id"].dataType == T.IntegerType()
    assert {r["rep_id"]: r["cluster_id"] for r in out.collect()} == {
        4: -2, -2: -2, 9: -2
    }


def test_cc_driver_bound_is_a_cutover(spark):
    """A graph with exactly ``_DRIVER_MAX_EDGES`` edges is labelled on the
    driver (no localCheckpoint pin); one edge more runs the star rounds,
    which leave their result's pin behind.  Both label the same."""
    jsc = spark.sparkContext._jsc

    def pins() -> set[int]:
        rdds = jsc.getPersistentRDDs()
        return {
            int(k) for k in rdds.keySet().toArray()
            if rdds.get(k).rdd().isLocallyCheckpointed()
        }

    edges = [(i, i + 1) for i in range(1, 11)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    want = _union_find(edges)
    for bound, n_pins in ((10, 0), (9, 1)):
        before = pins()
        with driver_bound(bound):
            out = connected_components(df)
        assert len(pins() - before) == n_pins, bound
        assert {r["rep_id"]: r["cluster_id"] for r in out.collect()} == want


def test_cc_runs_the_upstream_once_on_both_paths(spark):
    """The bounded fetch reads the input's pin, and a graph above the bound
    runs its star rounds on that same pin: the caller's upstream (here a
    Python UDF, as verify's is) runs once per edge on either path."""
    from pyspark.sql import functions as F

    base = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)], ["id_a", "id_b"]
    )
    for bound in (components._DRIVER_MAX_EDGES, 9):
        calls = spark.sparkContext.accumulator(0)

        def tick(x, calls=calls):
            calls.add(1)
            return x

        # nondeterministic: the optimizer may not duplicate it into the
        # self-loop filter, so each evaluation is one upstream run
        udf = F.udf(tick, "long").asNondeterministic()
        with driver_bound(bound):
            out = connected_components(base.select(udf("id_a").alias("id_a"), "id_b"))
        rows = out.collect()
        assert {r["cluster_id"] for r in rows} == {1} and len(rows) == 40, bound
        assert calls.value == 39, bound


def test_cc_paths_give_equal_stage_snapshots(spark, tmp_path):
    """On a fixture batch and one merge into it, ``s4_cc`` and
    ``s5_canonical`` are the same rows whichever CC path runs, and the
    merge reports as affected the clusters of every text with a new doc."""
    import json

    from pyspark.sql import functions as F

    from gencore_spark import dedup_pages, dedup_pages_incremental
    from gencore_spark.fixtures import PAGES_COLUMNS, pages_with_truth

    full, _ = pages_with_truth(spark, 300)
    full = full.select(*PAGES_COLUMNS).cache()
    h = F.pmod(F.xxhash64("url", "warc_ts"), F.lit(4))
    # two new pages short enough to bypass dedup: singleton clusters the
    # merge votes but does not count as affected
    short = spark.createDataFrame(
        [(f"https://short.example/{i}", None, None, "tiny", "en") for i in (1, 2)],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    ).select(*[F.col(c).cast(full.schema[c].dataType) for c in PAGES_COLUMNS])
    base, delta = full.filter(h != 0), full.filter(h == 0).unionByName(short)

    def rows(workdir, name):
        df = spark.read.parquet(f"{workdir}/{name}")
        return sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())

    def affected(run):
        key = ["text_hash", "text_hash2"]
        new_docs = spark.read.parquet(f"{run}/merge/s1_docs").join(
            spark.read.parquet(f"{run}/base/s1_docs").select("doc_id"),
            "doc_id", "left_anti",
        )
        return (
            spark.read.parquet(f"{run}/merge/s2_reps")
            .join(new_docs.filter(~F.col("bypass")).select(*key), key, "left_semi")
            .join(spark.read.parquet(f"{run}/merge/s4_cc"), "rep_id", "left")
            .select(F.coalesce("cluster_id", "rep_id")).distinct().count()
        )

    snaps = {}
    for label, bound in (("stars", 0), ("driver", components._DRIVER_MAX_EDGES)):
        run = tmp_path / label
        with driver_bound(bound):
            dedup_pages(spark, base, str(run / "base"))
            dedup_pages_incremental(
                spark, delta, str(run / "base"), str(run / "merge")
            )
        snaps[label] = {
            (w, s): rows(str(run / w), s)
            for w in ("base", "merge") for s in ("s4_cc", "s5_canonical")
        }
        with open(run / "merge" / "REPORT.json") as f:
            reported = json.load(f)["stages"]["s5_canonical"]["n_affected_clusters"]
        assert reported == affected(str(run)) > 0, label
    full.unpersist()
    for key, want in snaps["stars"].items():
        assert want, key
        assert snaps["driver"][key] == want, key
