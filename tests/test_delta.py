"""Incremental consolidation (gencore_spark.delta): the updated state must
match a full recompute on old ∪ delta in everything except cluster-id
LABELS — incremental ids are first-seen-stable (delta.py docstring), while
a full recompute re-derives ids as the global min doc-id hash, so the two
agree on the PARTITION of fetches into clusters, the elected canonical
rows, and every vote field, but not necessarily on the id values.

Corpus sizing note: below ~420 docs the fixture's skew block stays under
``bucket_size_cap`` (64), so candidate generation is exhaustive all-pairs
and the id-free equality is EXACT.  The capped-bucket case (edge lists may
differ inside mega-buckets) is tested at partition level.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from gencore_spark import dedup_pages, dedup_pages_incremental
from gencore_spark.fixtures import PAGES_COLUMNS, pages_with_truth


def _split(full):
    """Deterministic ~1/4 delta split that crosses every planted group
    boundary (hash of the fetch key, not the index, so exact/near/mirror
    groups straddle the batches)."""
    keyed = full.withColumn("_h", F.pmod(F.xxhash64("url", "warc_ts"), F.lit(4)))
    base = keyed.filter(F.col("_h") != 0).drop("_h")
    delta = keyed.filter(F.col("_h") == 0).drop("_h")
    return base, delta


def _idfree_rows(canon):
    """Canonical rows minus the relabelable cluster_id (doc_id stays: the
    elected winner must be the same document either way)."""
    cols = sorted(c for c in canon.columns if c != "cluster_id")
    return sorted(tuple(r[c] for c in cols) for r in canon.select(*cols).collect())


def _partition(workdir, spark):
    """frozenset-of-frozensets view of the cluster partition: which fetches
    ended up together, independent of what the clusters are named."""
    docs = spark.read.parquet(f"{workdir}/s1_docs").select(
        "url", "warc_ts", "doc_id", "text_hash", "text_hash2", "bypass"
    )
    reps = spark.read.parquet(f"{workdir}/s2_reps").select(
        "text_hash", "text_hash2", "rep_id"
    )
    cc = spark.read.parquet(f"{workdir}/s4_cc")
    assign = (
        docs.join(reps, ["text_hash", "text_hash2"], "left")
        .join(cc, "rep_id", "left")
        .select(
            "url", "warc_ts",
            F.when(F.col("bypass"), F.col("doc_id"))
            .otherwise(F.coalesce("cluster_id", "rep_id", "doc_id"))
            .alias("c"),
        )
    )
    groups: dict = {}
    for r in assign.collect():
        groups.setdefault(r.c, set()).add((r.url, r.warc_ts))
    return frozenset(frozenset(g) for g in groups.values())


def test_incremental_equals_full_uncapped(spark, tmp_path):
    full, _ = pages_with_truth(spark, 400)
    full = full.select(*PAGES_COLUMNS).cache()
    base, delta = _split(full)

    canon_full = dedup_pages(spark, full, str(tmp_path / "full"))
    dedup_pages(spark, base, str(tmp_path / "base"))
    canon_inc = dedup_pages_incremental(
        spark, delta, str(tmp_path / "base"), str(tmp_path / "inc")
    )
    assert _idfree_rows(canon_inc) == _idfree_rows(canon_full)
    assert _partition(str(tmp_path / "inc"), spark) == _partition(
        str(tmp_path / "full"), spark
    )
    # one REPORT.json schema: the merge reports the batch's stages, plus
    # its affected-cluster count, and the same summary over old ∪ delta
    rep_full = _report(tmp_path / "full")
    rep_inc = _report(tmp_path / "inc")
    assert set(rep_inc) == set(rep_full)
    assert "n_affected_clusters" in rep_inc["s5_canonical"]
    for key in ("docs_in", "docs_out", "distinct_texts"):
        assert rep_inc["summary"][key] == rep_full["summary"][key], key
    full.unpersist()


def _report(workdir):
    with open(workdir / "REPORT.json") as f:
        return json.load(f)["stages"]


def test_incremental_state_chains_and_is_idempotent(spark, tmp_path):
    """out_dir is itself a valid state: apply the delta in two slices, and
    re-delivering an already-ingested fetch is a no-op (same doc_id)."""
    full, _ = pages_with_truth(spark, 300)
    full = full.select(*PAGES_COLUMNS).cache()
    base, delta = _split(full)
    d1 = delta.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 0)
    d2 = delta.filter(F.pmod(F.xxhash64("url"), F.lit(2)) != 0)

    canon_full = dedup_pages(spark, full, str(tmp_path / "full"))
    dedup_pages(spark, base, str(tmp_path / "base"))
    dedup_pages_incremental(spark, d1, str(tmp_path / "base"), str(tmp_path / "i1"))
    canon2 = dedup_pages_incremental(
        spark, d2, str(tmp_path / "i1"), str(tmp_path / "i2")
    )
    assert _idfree_rows(canon2) == _idfree_rows(canon_full)

    # idempotent re-delivery: d2 again is a pure no-op (ids INCLUDED this
    # time — re-delivery must not even relabel)
    canon3 = dedup_pages_incremental(
        spark, d2, str(tmp_path / "i2"), str(tmp_path / "i3")
    )
    cols = sorted(canon2.columns)
    assert sorted(map(tuple, canon3.select(*cols).collect())) == sorted(
        map(tuple, canon2.select(*cols).collect())
    )
    # ...and a no-op on the STATE, not just the output: re-delivered
    # doc_ids must not be appended to s1_docs (duplicate rows there would
    # inflate fr/n_variants on the NEXT delta touching their clusters)
    s1_before = spark.read.parquet(str(tmp_path / "i2" / "s1_docs")).count()
    s1_after = spark.read.parquet(str(tmp_path / "i3" / "s1_docs")).count()
    assert s1_after == s1_before
    full.unpersist()


def test_incremental_id_stability_across_updates(spark, tmp_path):
    """The guarantee full recompute CANNOT give: clusters untouched by the
    delta keep their exact canonical row, cluster_id included."""
    full, _ = pages_with_truth(spark, 300)
    full = full.select(*PAGES_COLUMNS).cache()
    base, delta = _split(full)

    canon_base = dedup_pages(spark, base, str(tmp_path / "base"))
    canon_inc = dedup_pages_incremental(
        spark, delta, str(tmp_path / "base"), str(tmp_path / "inc")
    )
    base_rows = {r.cluster_id: r for r in canon_base.collect()}
    inc_rows = {r.cluster_id: r for r in canon_inc.collect()}
    kept = set(base_rows) & set(inc_rows)
    assert kept, "some clusters must survive the delta untouched"
    same = sum(1 for c in kept if base_rows[c] == inc_rows[c])
    # every surviving id either kept its row verbatim or legitimately
    # gained members (fr grew); ids never mutate in place
    for c in kept:
        if base_rows[c] != inc_rows[c]:
            assert inc_rows[c].fr >= base_rows[c].fr
    assert same > 0
    full.unpersist()


def test_incremental_membership_with_capped_bucket(spark, tmp_path):
    """Above the cap (1200-doc corpus ⇒ 180-row skew bucket > 64) edge
    lists may differ from a full recompute inside the mega-bucket, but the
    cluster PARTITION must still match: the anchor-star edges connect a
    homogeneous skew block deterministically either way."""
    full, _ = pages_with_truth(spark, 1200)
    full = full.select(*PAGES_COLUMNS).cache()
    base, delta = _split(full)

    dedup_pages(spark, full, str(tmp_path / "full"))
    dedup_pages(spark, base, str(tmp_path / "base"))
    dedup_pages_incremental(
        spark, delta, str(tmp_path / "base"), str(tmp_path / "inc")
    )
    assert _partition(str(tmp_path / "inc"), spark) == _partition(
        str(tmp_path / "full"), spark
    )
    full.unpersist()


def test_incremental_requires_complete_state(spark, tmp_path):
    full, _ = pages_with_truth(spark, 50)
    with pytest.raises(ValueError, match="missing snapshots"):
        dedup_pages_incremental(
            spark, full.select(*PAGES_COLUMNS), str(tmp_path / "nope"),
            str(tmp_path / "out"),
        )
