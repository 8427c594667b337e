"""Incremental batch consolidation: merge a DELTA of newly crawled pages
into an existing dedup state without recomputing the corpus.

At the 10^12-doc design point the full pipeline is a bootstrap job you run
once; the job you run every day is THIS one: yesterday's state (the five
stage snapshots) + today's crawl delta → updated state.  The reference has
the same split in miniature — its coordinate watermark lets it emit
finished clusters and keep only the active frontier in memory
(``gencore.cpp:318-390``); ours keeps the finished state in tables and
re-touches only what the delta can affect:

* **signatures** run only on delta texts never seen before (the exact-dup
  prepass extends across batches: a re-crawled byte-identical text costs
  one anti-join row, not a MinHash);
* **LSH + verify** run only on buckets containing a fresh rep, and only
  for pairs with a fresh rep on at least one side — old×old pairs are
  already in the edge snapshot and cannot change;
* **connected components** runs on the delta's verified pairs plus one
  (rep → cluster) CONTRACTION edge per previously clustered rep: adding
  edges can only merge components, never split them, so the old
  assignment is a sound contraction of the old edge set, and because
  ``cluster_id`` is the component's minimum node id, a merge
  deterministically keeps the smaller of the merged cluster ids (min
  over a union is the min of the mins — over THIS state's first-seen rep
  ids; see the exactness paragraph below on how those relate to a full
  recompute's ids);
* **consensus vote** re-runs only for AFFECTED clusters — those that
  gained a member, merged, or formed — and every other canonical row is
  carried over from the previous snapshot byte-for-byte.

Exactness: for every uncapped bucket (the common case — candidate
generation there is exhaustive all-pairs) the updated state equals a full
recompute on old ∪ delta in everything EXCEPT cluster-id labels: the
partition of fetches into clusters, the elected canonical document, and
every vote/count field (fr, rr, n_variants, vote_ratio, low_confidence)
are identical, but a cluster keeps the rep id minted when its text was
FIRST seen, whereas a full recompute re-derives ids as the global min
doc-id hash.  First-seen ids are deliberate — they are the stability
guarantee an incremental consumer actually wants: a cluster's id never
changes when new members arrive, and only changes on a merge (to the
older/smaller of the merged ids).  Inside size-capped mega-buckets the
*edge list* can additionally differ (the salted chain re-randomizes with
membership, and old chain edges are kept rather than re-drawn), so
membership still matches w.h.p. but a containment-based election tie may
pick a different (equally valid) canonical.  This is the documented price
of never re-verifying old pairs; the batch pipeline's own capped buckets
carry the same per-run randomization note (``operators/lsh.py``).

State layout: ``state_dir`` must hold the five ``stages``-mode snapshots
of a previous :func:`gencore_spark.dedup_pages` (or incremental) run; the
updated snapshots are written to ``out_dir`` (the old state is never
mutated — snapshot-in/snapshot-out, the Iceberg model), which is itself a
valid state for the next delta.

Shared with the batch (``pipeline.py``): the snapshot schema and its
stale-state check (``STAGE_COLUMNS``, ``read_snapshot``), the s1 builder
(``build_docs``), the s3 verify and ``s3_buckets`` fold, the s5 member
build + vote (``vote_clusters``), and ``DedupPipeline._stage``, which
writes, reads back and counts all five snapshots.  So the merge writes
the batch's ``REPORT.json`` schema, plus
``s5_canonical.n_affected_clusters``.  Only merge logic lives here; it
rebuilds ``out_dir`` on every call (no resume).

I/O cost note: each updated table is expressed as ``old ∪ delta``.  Under
an Iceberg catalog that union is an O(delta) metadata append — the new
snapshot shares the old data files (``writeTo(...).append()`` on a
branched table; only computing the delta rows costs work).  The sandbox's
directory-of-parquet fallback has no shared-file snapshots, so there the
union physically rewrites the table — O(corpus) sequential I/O per delta,
narrow (no shuffle), a sandbox artifact of the fallback, not the model.
Every OTHER cost in this job — signatures, bucketing, verify, CC, vote —
is O(delta + touched), which is the point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .config import DEFAULT_CONFIG, DedupConfig
from .operators.components import connected_components
from .operators.exact import distinct_text_reps, with_signatures
from .operators.lsh import band_explode, bucketed_pairs
from .operators.verify import rep_containment
from .pipeline import (
    STAGE_COLUMNS,
    DedupPipeline,
    build_docs,
    read_snapshot,
    vote_clusters,
)
from .sources import TableIO


def dedup_pages_incremental(
    spark: SparkSession,
    new_pages: DataFrame,
    state_dir: str,
    out_dir: str,
    cfg: DedupConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Merge ``new_pages`` into the dedup state at ``state_dir``; write the
    updated five-stage state to ``out_dir`` and return the new canonical
    table.  See the module docstring for semantics and cost model.
    """
    old = TableIO(spark, state_dir)
    missing = [s for s in STAGE_COLUMNS if not old.exists(s)]
    if missing:
        raise ValueError(
            f"state_dir {state_dir} is not a complete dedup state: "
            f"missing snapshots {missing} (run dedup_pages with "
            f"checkpoint='stages' first)"
        )
    old_docs, old_reps, old_edges, old_cc, old_canon = (
        read_snapshot(old, s) for s in STAGE_COLUMNS
    )
    pipe = DedupPipeline(spark, out_dir, cfg)

    # ---- s1: append the delta -------------------------------------------
    # re-delivered fetches (same url+warc_ts → same doc_id) are dropped
    # BEFORE the write: without this anti-join a re-delivery would append
    # duplicate rows to s1_docs, and the NEXT delta touching those clusters
    # would double-count them in the vote (fr/n_variants inflation)
    new_docs = build_docs(new_pages, cfg).join(
        old_docs.select("doc_id"), "doc_id", "left_anti"
    )
    docs = pipe._stage("s1_docs", lambda: old_docs.unionByName(new_docs), force=True)
    delta = docs.join(old_docs.select("doc_id"), "doc_id", "left_anti")

    # ---- s2: sign only never-seen texts ---------------------------------
    delta_main = delta.filter(~F.col("bypass")).select(
        "doc_id", "text", "text_hash", "text_hash2"
    )
    # per-text delta member counts (also used to refresh n_members)
    delta_counts = delta_main.groupBy("text_hash", "text_hash2").agg(
        F.count(F.lit(1)).alias("d_members")
    )
    fresh = distinct_text_reps(delta_main, cfg).join(
        old_reps.select("text_hash", "text_hash2"),
        ["text_hash", "text_hash2"],
        "left_anti",
    )
    fresh_signed = with_signatures(fresh, cfg).select(*STAGE_COLUMNS["s2_reps"])
    refreshed_old = (
        old_reps.join(delta_counts, ["text_hash", "text_hash2"], "left")
        .withColumn(
            "n_members", F.col("n_members") + F.coalesce("d_members", F.lit(0))
        )
        .drop("d_members")
        .select(*old_reps.columns)
    )
    reps = pipe._stage(
        "s2_reps", lambda: refreshed_old.unionByName(fresh_signed), force=True
    )

    # ---- s3: candidates only where a fresh rep can matter ----------------
    # bands of ALL reps are a narrow JVM pass over the STORED minhash
    # (no signature UDF re-runs); restrict to buckets a fresh rep touches,
    # then to pairs with a fresh rep on >=1 side.
    fresh_ids = reps.join(
        old_reps.select("rep_id"), "rep_id", "left_anti"
    ).select("rep_id")
    exploded = band_explode(reps.select("rep_id", "minhash"), cfg)
    touched = (
        exploded.join(fresh_ids, "rep_id")
        .select("band_id", "band_hash")
        .distinct()
    )
    cand, bucket_stats = bucketed_pairs(
        exploded.join(touched, ["band_id", "band_hash"]),
        ["band_id", "band_hash"],
        cfg.bucket_size_cap,
    )
    try:
        is_fresh_a = fresh_ids.select(
            F.col("rep_id").alias("id_a"), F.lit(True).alias("fa")
        )
        is_fresh_b = fresh_ids.select(
            F.col("rep_id").alias("id_b"), F.lit(True).alias("fb")
        )
        cand_new = (
            cand.join(is_fresh_a, "id_a", "left")
            .join(is_fresh_b, "id_b", "left")
            .filter(F.coalesce("fa", F.lit(False)) | F.coalesce("fb", F.lit(False)))
            .select("id_a", "id_b")
        )
        edges = pipe._stage(
            "s3_edges",
            lambda: old_edges.unionByName(pipe._verify(cand_new, reps)),
            force=True,
        )
        # stats materialized as a side effect of the s3 write
        pipe._record_bucket_stats(bucket_stats)
    finally:
        bucket_stats.unpersist()
    delta_verified = edges.join(
        old_edges.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti"
    )

    # ---- s4: CC over delta edges + old-assignment contraction ------------
    contraction = old_cc.select(
        F.col("rep_id").alias("id_a"), F.col("cluster_id").alias("id_b")
    )
    cc = pipe._stage(
        "s4_cc",
        lambda: connected_components(
            delta_verified.select("id_a", "id_b").unionByName(contraction), cfg
        ),
        force=True,
    )

    # ---- s5: re-vote only affected clusters ------------------------------
    new_assign = (
        reps.select("text_hash", "text_hash2", "rep_id")
        .join(cc, "rep_id", "left")
        .select(
            "text_hash", "text_hash2", "rep_id",
            F.coalesce("cluster_id", "rep_id").alias("cluster_id"),
        )
    )
    old_assign = (
        old_reps.select("rep_id")
        .join(old_cc, "rep_id", "left")
        .select(
            "rep_id", F.coalesce("cluster_id", "rep_id").alias("old_cluster_id")
        )
    )
    moved = new_assign.join(old_assign, "rep_id").filter(
        F.col("cluster_id") != F.col("old_cluster_id")
    )
    affected = (
        # clusters holding a fresh rep
        new_assign.join(fresh_ids, "rep_id").select("cluster_id")
        # clusters that gained members of an already-known text
        .unionByName(
            new_assign.join(delta_counts, ["text_hash", "text_hash2"])
            .select("cluster_id")
        )
        # merge targets: the surviving (min) id of any merged component
        .unionByName(moved.select("cluster_id"))
        .distinct()
    )
    # merge SOURCES: ids that vanished in a merge.  A component merge moves
    # every rep of the old cluster at once, so any old id seen in `moved`
    # no longer names a cluster — its previous canonical row must not be
    # carried over (it would sit next to the merged cluster's new row).
    vanished = moved.select(F.col("old_cluster_id").alias("cluster_id")).distinct()

    # containment scores for the affected members, over old + delta edges
    aff_assign = new_assign.join(affected, "cluster_id")
    aff_reps = aff_assign.select("rep_id")
    aff_edges = (
        edges.join(aff_reps.withColumnRenamed("rep_id", "id_a"), "id_a", "left_semi")
        .unionByName(
            edges.join(
                aff_reps.withColumnRenamed("rep_id", "id_b"), "id_b", "left_semi"
            )
        )
        .distinct()
    )
    aff_clusters = aff_assign.join(rep_containment(aff_edges), "rep_id", "left")

    # new bypass docs are brand-new singleton clusters (old bypass rows
    # are untouched and carried over)
    voted = vote_clusters(
        docs.filter(~F.col("bypass")), aff_clusters,
        delta.filter(F.col("bypass")), cfg,
    )
    carried = old_canon.join(
        affected.unionByName(vanished).distinct(), "cluster_id", "left_anti"
    )
    canonical = pipe._stage(
        "s5_canonical",
        lambda: carried.unionByName(voted.select(*old_canon.columns)),
        force=True,
    )
    pipe.report.stage("s5_canonical", n_affected_clusters=affected.count())
    pipe._finalize(docs, reps, edges, canonical)
    return canonical
