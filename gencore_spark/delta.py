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
* **connected components** runs on the delta graph CONTRACTED to old
  cluster ids: each endpoint of a newly verified pair is replaced by its
  old ``cluster_id`` (or kept, if it had none).  Adding edges can only
  merge components, never split them, so the old assignment is a sound
  contraction of the old edge set; and because ``cluster_id`` is the
  component's minimum node id, the contracted component's minimum is the
  merged cluster's minimum (min over a union is the min of the mins —
  over THIS state's first-seen rep ids; see the exactness paragraph below
  on how those relate to a full recompute's ids).  The contracted graph
  is delta-sized at any corpus size, so up to the CC cutover (100,000
  edges, ``operators/components.py``) it is labelled by union-find on
  the driver after one bounded fetch, and only a bigger delta runs the
  large-star/small-star rounds.  The small ``node → new cluster`` map
  this yields relabels the old assignment, and the rows of newly
  clustered reps are appended;
* **consensus vote** re-runs only for AFFECTED clusters — the new
  clusters of every text with a delta member.  Every contracted
  component holds a fresh rep (each new pair has a fresh side), so merge
  targets are among them.  Every other canonical row is carried over
  from the previous snapshot byte-for-byte, except the rows of cluster
  ids a merge made vanish.

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

State layout: ``state_dir`` must hold the five snapshots of a previous
:func:`gencore_spark.dedup_pages` or merge run; the updated snapshots are
written to ``out_dir`` (the old state is never mutated — snapshot-in/
snapshot-out, the Iceberg model), which is itself a valid state for the
next delta.

Shared with the batch (``pipeline.py``): the snapshot schema and its
stale-state check (``STAGE_COLUMNS``, ``read_snapshot``), the s1 builder
(``build_docs``), the s3 verify and ``s3_buckets`` fold, the s5 member
build + vote (``vote_clusters``), and ``DedupPipeline._stage``, which
writes, reads back and counts all five snapshots.  So the merge writes
the batch's ``REPORT.json`` schema, plus
``s5_canonical.n_affected_clusters``.  Only merge logic lives here; it
rebuilds ``out_dir`` on every call (no resume).

Cost model: each stage computes its delta-sized part ONCE and pins it
(``localCheckpoint``) — the new docs, the freshly signed reps, the newly
verified pairs, the CC map and the touched/affected clusters — and later
steps read those pins instead of re-deriving them from the corpus-sized
snapshots by anti-joins.  A join of a corpus-sized snapshot with a
delta-sized set broadcasts the delta side, so the snapshot is scanned,
not shuffled ("To Partition, or Not to Partition", SIGMOD'21).  Verify's
payload is the same kind of join: the reps are semi-joined to a broadcast
of the new pairs' endpoint ids (two per pair, so it grows with the
fresh-side candidate pairs), and the signature and text attach carry
O(delta + touched) rows; the recorded s2 row count bounds that payload
and drives the batch's broadcast-or-fold choice without a count job.  One
kind of join still builds on a corpus-sized side: the re-delivery and
seen-text anti-joins (s1, s2).  Signatures, bucketing, verify, CC and the
vote are O(delta + touched); the delta-sized CC graph runs on the driver
up to the CC cutover.  Each updated table is written as ``old ∪ delta``:
under an Iceberg catalog that union is an O(delta) metadata append — the
new snapshot shares the old data files (``writeTo(...).append()`` on a
branched table).  The sandbox's directory-of-parquet fallback has no
shared-file snapshots, so there the union physically rewrites the table —
O(corpus) sequential I/O per delta, narrow (no shuffle), an artifact of
the fallback, not the model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from .config import DEFAULT_CONFIG, DedupConfig
from .operators.components import connected_components
from .operators.consensus import size_gate
from .operators.exact import distinct_text_reps, is_main, with_signatures
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

_TEXT_KEY = ["text_hash", "text_hash2"]
_BAND_KEY = ["band_id", "band_hash"]


def _either_side_in(pairs: DataFrame, ids: DataFrame) -> DataFrame:
    """Rows of ``pairs`` (id_a, id_b, ...) with ``id_a`` or ``id_b`` in the
    small ``ids`` (unique rep_id): two broadcast probes, one pass, no
    shuffle."""
    ids = F.broadcast(ids.select("rep_id").withColumn("hit", F.lit(True)))
    a = ids.select(F.col("rep_id").alias("id_a"), F.col("hit").alias("_ha"))
    b = ids.select(F.col("rep_id").alias("id_b"), F.col("hit").alias("_hb"))
    return (
        pairs.join(a, "id_a", "left")
        .join(b, "id_b", "left")
        .filter(F.col("_ha").isNotNull() | F.col("_hb").isNotNull())
        .select(*pairs.columns)
    )


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
            f"missing snapshots {missing} (point it at the workdir of a "
            f"previous dedup_pages or merge run)"
        )
    old_docs, old_reps, old_edges, old_cc, old_canon = (
        read_snapshot(old, s) for s in STAGE_COLUMNS
    )
    pipe = DedupPipeline(spark, out_dir, cfg)
    # the delta-sized part of each stage, pinned (lazy localCheckpoint) by
    # the stage that builds it; under AQE a pin runs its shuffles at once
    # and its last stage in the first job that reads it
    d: dict[str, DataFrame] = {}

    # ---- s1: append the delta -------------------------------------------
    def build_s1() -> DataFrame:
        # re-delivered fetches (same url+warc_ts → same doc_id) are dropped
        # BEFORE the write: a re-delivery appended to s1_docs would make
        # the NEXT delta touching those clusters double-count it in the
        # vote (fr/n_variants inflation)
        d["docs"] = (
            build_docs(new_pages, cfg)
            .join(old_docs.select("doc_id"), "doc_id", "left_anti")
            .localCheckpoint(eager=False)
        )
        return old_docs.unionByName(d["docs"])

    docs = pipe._stage("s1_docs", build_s1, force=True)

    # ---- s2: sign only never-seen texts ---------------------------------
    def build_s2() -> DataFrame:
        delta_main = d["docs"].filter(~F.col("bypass")).select(
            "doc_id", "text", "text_hash", "text_hash2"
        )
        # one row per delta text: the texts whose clusters the vote must
        # revisit
        delta_reps = distinct_text_reps(delta_main, cfg).localCheckpoint(eager=False)
        d["texts"] = delta_reps.select(*_TEXT_KEY)
        fresh = delta_reps.join(old_reps.select(*_TEXT_KEY), _TEXT_KEY, "left_anti")
        d["reps"] = (
            with_signatures(fresh.drop("text"), cfg)
            .select(*STAGE_COLUMNS["s2_reps"])
            .localCheckpoint(eager=False)
        )
        # a pure append; the projection also reads a state whose s2_reps
        # still carries columns this version no longer writes
        return old_reps.select(*STAGE_COLUMNS["s2_reps"]).unionByName(d["reps"])

    reps = pipe._stage("s2_reps", build_s2, force=True)
    fresh_ids = d["reps"].select("rep_id")

    # ---- s3: candidates only where a fresh rep can matter ----------------
    # the buckets a fresh rep falls in, from the fresh reps' bands alone;
    # every rep's bands are a narrow JVM pass over the STORED minhash (no
    # signature UDF re-runs), probed against them by broadcast; then only
    # pairs with a fresh rep on >=1 side are verified
    fresh_keys = band_explode(d["reps"].select("rep_id", "minhash"), cfg).select(
        *_BAND_KEY
    )
    cand, bucket_stats = bucketed_pairs(
        band_explode(reps.select("rep_id", "minhash"), cfg).join(
            F.broadcast(fresh_keys), _BAND_KEY, "left_semi"
        ),
        _BAND_KEY,
        cfg.bucket_size_cap,
    )
    try:
        def build_s3() -> DataFrame:
            pairs = _either_side_in(cand, fresh_ids).localCheckpoint(eager=False)
            # verify's payload: only the reps these pairs touch, by a
            # broadcast of their endpoint ids.  It holds both ids of every
            # pair, duplicates included, so it grows with the fresh-side
            # candidate pairs (up to bucket_size_cap^2 per touched bucket),
            # not with the delta's reps.  The recorded s2 row count bounds
            # the payload for the broadcast-vs-fold choice
            ends = pairs.select(F.col("id_a").alias("rep_id")).unionByName(
                pairs.select(F.col("id_b").alias("rep_id"))
            )
            payload = reps.join(F.broadcast(ends), "rep_id", "left_semi")
            d["edges"] = pipe._verify(pairs, payload).localCheckpoint(eager=False)
            return old_edges.unionByName(d["edges"])

        edges = pipe._stage("s3_edges", build_s3, force=True)
        # stats materialized as a side effect of the s3 write
        pipe._record_bucket_stats(bucket_stats)
    finally:
        bucket_stats.unpersist()

    # ---- s4: CC on the delta graph contracted to old cluster ids --------
    def build_s4() -> DataFrame:
        new_edges = d["edges"].select("id_a", "id_b")
        ends = new_edges.select(F.col("id_a").alias("rep_id")).unionByName(
            new_edges.select(F.col("id_b").alias("rep_id"))
        )
        # clustered endpoint → its old cluster id; any other endpoint
        # stands for itself
        old_of = (
            old_cc.join(F.broadcast(ends), "rep_id", "left_semi")
            .localCheckpoint(eager=False)
        )
        node = F.broadcast(old_of)
        contracted = (
            new_edges.join(node.withColumnRenamed("rep_id", "id_a"), "id_a", "left")
            .select(F.coalesce("cluster_id", "id_a").alias("id_a"), "id_b")
            .join(node.withColumnRenamed("rep_id", "id_b"), "id_b", "left")
            .select("id_a", F.coalesce("cluster_id", "id_b").alias("id_b"))
            .filter(F.col("id_a") != F.col("id_b"))
        )
        # node → new cluster; the nodes are old cluster ids and reps that
        # had no cluster
        d["moves"] = connected_components(contracted, cfg).localCheckpoint(eager=False)
        relabel = F.broadcast(
            d["moves"].select(
                F.col("rep_id").alias("cluster_id"), F.col("cluster_id").alias("new_id")
            )
        )
        relabelled = old_cc.join(relabel, "cluster_id", "left").select(
            "rep_id", F.coalesce("new_id", "cluster_id").alias("cluster_id")
        )
        newly_clustered = d["moves"].join(
            F.broadcast(old_of.select(F.col("cluster_id").alias("rep_id"))),
            "rep_id", "left_anti",
        )
        return relabelled.unionByName(newly_clustered)

    cc = pipe._stage("s4_cc", build_s4, force=True)

    # ---- s5: re-vote only affected clusters ------------------------------
    n_affected = Observation()

    def build_s5() -> DataFrame:
        # every text with a delta member, with its new cluster; `single`
        # marks a rep with no s4 row, which is a cluster of its own
        touched_ids = reps.join(
            F.broadcast(d["texts"]), _TEXT_KEY, "left_semi"
        ).select("rep_id")
        touched_cc = cc.join(F.broadcast(touched_ids), "rep_id", "left_semi")
        touched = (
            touched_ids.join(F.broadcast(touched_cc), "rep_id", "left")
            .select(
                "rep_id",
                F.coalesce("cluster_id", "rep_id").alias("cluster_id"),
                F.col("cluster_id").isNull().alias("single"),
            )
            .localCheckpoint(eager=False)
        )
        affected = touched.select("cluster_id")
        # every member of an affected cluster: its clustered reps, plus the
        # touched reps that are clusters of their own
        assign = F.broadcast(
            cc.join(F.broadcast(affected), "cluster_id", "left_semi").unionByName(
                touched.filter("single").select("rep_id", "cluster_id")
            )
        )
        # containment scores for the affected members, over old + delta edges
        aff_clusters = (
            reps.select(*_TEXT_KEY, "rep_id")
            .join(assign, "rep_id")
            .join(rep_containment(_either_side_in(edges, assign)), "rep_id", "left")
            .localCheckpoint(eager=False)
        )
        # new bypass docs are brand-new singleton clusters (old bypass rows
        # are untouched and carried over).  Ungated, the vote emits one row
        # per cluster, and a main cluster's canonical text is routed main,
        # so the affected-cluster count is an observed metric of the s5
        # write, not a count job; the size gate applies after it.
        voted = vote_clusters(
            docs.filter(~F.col("bypass")), F.broadcast(aff_clusters),
            d["docs"].filter(F.col("bypass")), cfg, min_cluster_size=1,
        ).observe(n_affected, F.count_if(is_main(cfg)).alias("n")).filter(
            size_gate(cfg.min_cluster_size)
        )
        # merge SOURCES: cluster ids that vanished in a merge; their old
        # canonical rows must not sit next to the merged cluster's new row
        vanished = d["moves"].filter(F.col("rep_id") != F.col("cluster_id")).select(
            F.col("rep_id").alias("cluster_id")
        )
        carried = old_canon.join(
            F.broadcast(affected.unionByName(vanished)), "cluster_id", "left_anti"
        )
        return carried.unionByName(voted.select(*old_canon.columns))

    canonical = pipe._stage("s5_canonical", build_s5, force=True)
    pipe.report.stage("s5_canonical", n_affected_clusters=n_affected.get["n"])
    pipe._finalize(docs, reps, edges, canonical)
    return canonical
