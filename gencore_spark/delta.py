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

One stage list (:func:`run_stages`) serves both entry points.  The batch
(``pipeline.dedup_pages``) runs it over an empty old state: typed
``limit(0)`` frames, so Catalyst's empty-relation propagation removes every
restriction of the delta against the old state at plan time, and each
stage plans the batch's corpus-wide work.  Each of s1–s5 has one builder,
and ``DedupPipeline._stage`` writes, reads back and counts all five
snapshots, so both entry points write one ``REPORT.json`` schema, with
``s5_canonical.n_affected_clusters``.  The merge rebuilds ``out_dir`` on
every call (no resume).

Cost model: each stage computes its delta part ONCE and pins it
(``localCheckpoint``) — the new docs, the freshly signed reps, the newly
verified pairs, the CC map — and later steps read those pins instead of
re-deriving them from the corpus-sized snapshots by anti-joins.  A pin is
``eager=False``, but that defers only its final result stage: creating
it builds the plan's RDD, which runs the plan's broadcast jobs and, under
AQE, its shuffle stages at once.  So most of a merge stage's Spark jobs
run inside its ``build()``, before the snapshot write starts (at seed 7,
12 of s3's 13 and 11 of s5's 26).  Over an empty state the delta part is
the stage's snapshot read-back, which the batch neither pins nor counts.
A join of a corpus-sized snapshot with a small set broadcasts the small
side when its rows are within ``attach_broadcast_max_rows``, the cutover
verify's text attach uses.  A bound from observed counts decides (the
delta parts' rows, observed at their stage's write, or a stage's total
rows); when the bound is over the cutover the merge counts the side, and
above the cutover Spark plans the join itself, so a side the size of the
corpus is never broadcast ("To Partition, or Not to Partition",
SIGMOD'21).  Verify's payload is the fresh reps plus the old reps of the
touched buckets.  One kind of join still builds on a
corpus-sized side: the re-delivery and seen-text anti-joins (s1, s2).
Signatures, bucketing, verify, CC and the vote are O(delta + touched); the
delta-sized CC graph runs on the driver up to the CC cutover.  Each
updated table is written as ``old ∪ delta``.  The snapshots are parquet
directories (:class:`~gencore_spark.sources.TableIO`), which have no
shared-file snapshots, so the union physically rewrites the table —
O(corpus) sequential I/O per delta, narrow (no shuffle).  That cost is the
storage layout's, not the model's: under an Iceberg catalog the same union
is an O(delta) metadata append — the new snapshot shares the old data
files (``writeTo(...).append()`` on a branched table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from .config import DEFAULT_CONFIG, DedupConfig
from .operators.components import connected_components
from .operators.consensus import consensus_vote, size_gate
from .operators.exact import (
    distinct_text_reps,
    is_main,
    route,
    with_doc_ids,
    with_signatures,
    with_text_hash,
)
from .operators.lsh import band_explode, bucketed_pairs
from .operators.verify import rep_containment
from .pipeline import STAGE_COLUMNS, STAGE_SCHEMAS, DedupPipeline, read_snapshot
from .sources import TableIO

_TEXT_KEY = ["text_hash", "text_hash2"]
_BAND_KEY = ["band_id", "band_hash"]
# per-doc columns a consensus-vote member carries besides its cluster
_MEMBER_COLUMNS = ["doc_id", "url", "warc_ts", "text", "lang", "text_hash"]


def _ensure_text(pages: DataFrame) -> DataFrame:
    """html-only ingest path: rows arriving without ``text`` get it extracted
    from ``html`` (the input_hint's byte-identical extractor, as a pandas
    UDF).  Split-then-union rather than ``coalesce(text, udf(html))``: an
    ArrowEvalPython node computes its UDF for EVERY row in the batch before
    the conditional picks, so the naive coalesce would ship every page's
    html through Python even when text is already present — on a crawl
    where most rows carry text that is most of the input bytes."""
    from .functions.udfs import extract_text_udf

    if "text" not in pages.columns:
        return pages.withColumn("text", extract_text_udf()(F.col("html")))
    has_text = pages.filter(F.col("text").isNotNull())
    needs = pages.filter(F.col("text").isNull()).withColumn(
        "text", extract_text_udf()(F.col("html"))
    )
    return has_text.unionByName(needs)


def build_docs(pages: DataFrame, cfg: DedupConfig) -> DataFrame:
    """s1: doc ids, bypass routing and the exact text hash of every page."""
    main, bypass = route(with_doc_ids(_ensure_text(pages)), cfg)
    main = with_text_hash(main).withColumn("bypass", F.lit(False))
    bypass = with_text_hash(bypass).withColumn("bypass", F.lit(True))
    # html is dropped HERE and never read again
    return main.unionByName(bypass).select(*STAGE_COLUMNS["s1_docs"])


def vote_clusters(
    main_docs: DataFrame, clusters: DataFrame, bypass_docs: DataFrame,
    cfg: DedupConfig,
) -> DataFrame:
    """s5: consensus vote over cluster members, one row per cluster.  Each
    main doc joins its text's row in ``clusters`` ((text_hash, text_hash2)
    → (cluster_id, containment)); docs without a row there are not voted.
    Each bypass doc is a singleton cluster of its own."""
    main_members = main_docs.join(clusters, ["text_hash", "text_hash2"]).select(
        *_MEMBER_COLUMNS, "cluster_id", "containment"
    )
    bypass_members = bypass_docs.select(
        *_MEMBER_COLUMNS,
        F.col("doc_id").alias("cluster_id"),
        F.lit(None).cast("double").alias("containment"),
    )
    return consensus_vote(main_members.unionByName(bypass_members), cfg)


def run_stages(
    pipe: DedupPipeline, pages: DataFrame, old: dict[str, DataFrame] | None,
    force: bool,
) -> DataFrame:
    """The five stage builders: merge ``pages`` into the ``old`` state
    (stage name → snapshot) and write the new state through ``pipe``, or,
    with ``old=None``, dedup ``pages`` over an empty state (the batch).
    Returns the canonical table.  See the module docstring."""
    spark, cfg = pipe.spark, pipe.cfg
    merging = old is not None
    if not merging:
        # limit(0): an empty relation Catalyst can see, unlike an empty RDD
        old = {
            s: spark.createDataFrame([], schema).limit(0)
            for s, schema in STAGE_SCHEMAS.items()
        }
    o_docs, o_reps, o_edges, o_cc, o_canon = (old[s] for s in STAGE_SCHEMAS)
    d: dict[str, DataFrame] = {}  # each stage's delta part
    counted: dict[str, Observation] = {}

    def pin(df: DataFrame) -> DataFrame:
        # a pin would hide an empty frame's emptiness from Catalyst.  Lazy
        # only in its last step: creating it builds the plan's RDD, which
        # runs the plan's broadcasts and, under AQE, its shuffle stages
        # there and then (module docstring, "Cost model")
        return df.localCheckpoint(eager=False) if merging else df

    def part(name: str, df: DataFrame) -> DataFrame:
        """Stage ``name``'s delta part: pinned, its rows observed by the
        stage's write."""
        if merging:
            counted[name] = Observation()
            df = pin(df).observe(counted[name], F.count(F.lit(1)).alias("n"))
        d[name] = df
        return df

    def stage(name: str, build) -> DataFrame:
        out = pipe._stage(name, build, force)
        if not merging:
            d[name] = out  # the whole stage is the delta part
        return out

    def rows(name: str) -> int:
        """Rows of stage ``name``'s delta part."""
        if merging:
            return counted[name].get["n"]
        return pipe._recorded_rows(name, d[name])

    def small(df: DataFrame, bound: int) -> DataFrame:
        """``df`` as a broadcast join side when its rows are within the
        cutover.  ``bound`` is at least its rows; over the cutover a merge
        counts them (over an empty state the bounds that matter are
        exact)."""
        if merging and bound > cfg.attach_broadcast_max_rows:
            bound = df.count()
        return F.broadcast(df) if bound <= cfg.attach_broadcast_max_rows else df

    # ---- s1: append the delta -------------------------------------------
    def build_s1() -> DataFrame:
        # re-delivered fetches (same url+warc_ts → same doc_id) are dropped
        # BEFORE the write: a re-delivery appended to s1_docs would make
        # the NEXT delta touching those clusters double-count it in the
        # vote (fr/n_variants inflation)
        new = build_docs(pages, cfg).join(o_docs.select("doc_id"), "doc_id", "left_anti")
        return o_docs.unionByName(part("s1_docs", new))

    docs = stage("s1_docs", build_s1)

    # ---- s2: sign only never-seen texts ---------------------------------
    def build_s2() -> DataFrame:
        main = d["s1_docs"].filter(~F.col("bypass")).select(
            "doc_id", "text", *_TEXT_KEY
        )
        fresh = distinct_text_reps(main).join(
            o_reps.select(*_TEXT_KEY), _TEXT_KEY, "left_anti"
        )
        # drop the RAW text before with_signatures: its repartition
        # exchange otherwise ships text AND norm_text (2x the bytes) when
        # only norm_text feeds the signature UDF
        signed = with_signatures(fresh.drop("text"), cfg).select(
            *STAGE_COLUMNS["s2_reps"]
        )
        # a pure append
        return o_reps.unionByName(part("s2_reps", signed))

    reps = stage("s2_reps", build_s2)

    # ---- s3: candidates only where a fresh rep can matter ----------------
    buckets = Observation()

    def build_s3() -> DataFrame:
        # touched buckets: the fresh reps' bands, plus the old reps' bands
        # (a narrow JVM pass over the STORED minhash) in a bucket of theirs
        n_fresh = rows("s2_reps")
        n_old = pipe._recorded_rows("s2_reps", reps) - n_fresh
        fresh_bands = band_explode(d["s2_reps"].select("rep_id", "minhash"), cfg)
        keys = small(fresh_bands.select(*_BAND_KEY), n_fresh * cfg.bands)
        old_bands = pin(
            band_explode(o_reps.select("rep_id", "minhash"), cfg).join(
                keys, _BAND_KEY, "left_semi"
            )
        )
        cand, _ = bucketed_pairs(
            fresh_bands.unionByName(old_bands), _BAND_KEY, cfg.bucket_size_cap,
            # with no fresh rep no bucket is touched, and an empty aggregate
            # reports no observed row
            observation=buckets if n_fresh else None,
        )
        # the old reps of the touched buckets, one row each (``old_bands``
        # has one per touched band)
        olds = small(old_bands.select(F.col("rep_id").alias("_old")), n_old * cfg.bands)
        old_reps = o_reps.join(olds, F.col("rep_id") == F.col("_old"), "left_semi")
        # old×old pairs are already in the old edges: drop them.  Each end
        # probes the old reps once, so ``cand`` is referenced once
        old_ids = small(old_reps.select("rep_id"), n_old)
        pairs = (
            cand.join(old_ids.withColumnRenamed("rep_id", "_a"),
                      F.col("id_a") == F.col("_a"), "left")
            .join(old_ids.withColumnRenamed("rep_id", "_b"),
                  F.col("id_b") == F.col("_b"), "left")
            .filter(F.col("_a").isNull() | F.col("_b").isNull())
            .select("id_a", "id_b")
        )
        # verify's payload: the fresh reps and the old reps of the touched
        # buckets; the recorded s2 row count bounds it for the
        # broadcast-vs-fold attach
        payload = d["s2_reps"].unionByName(old_reps)
        return o_edges.unionByName(part("s3_edges", pipe._verify(pairs, payload)))

    edges = stage("s3_edges", build_s3)
    if pipe.report.stages["s3_edges"]["resumed"]:
        # the run rewrites REPORT.json: keep the skew counters of the run
        # that built s3, marked as carried
        pipe._carry_bucket_stats()
    else:
        # When no bucket holds two reps the pair join is empty, AQE drops
        # the plan below it, and the observation completes with an empty
        # row: every bucket is a singleton
        seen = {"capped": 0, "biggest": None}
        if rows("s2_reps"):
            seen = buckets.get if buckets._jo.getRow().length() else {"capped": 0, "biggest": 1}
        pipe.report.stage(
            "s3_buckets", n_capped_buckets=int(seen["capped"] or 0),
            max_bucket_size=seen["biggest"],
        )

    # ---- s4: CC on the delta graph contracted to old cluster ids --------
    def build_s4() -> DataFrame:
        new_edges = d["s3_edges"].select("id_a", "id_b")
        n_ends = 2 * rows("s3_edges")  # bounds every frame below
        ends = new_edges.select(F.col("id_a").alias("rep_id")).unionByName(
            new_edges.select(F.col("id_b").alias("rep_id"))
        )
        # clustered endpoint → its old cluster id; any other endpoint
        # stands for itself
        old_of = pin(o_cc.join(small(ends, n_ends), "rep_id", "left_semi"))
        node = small(old_of, n_ends)
        contracted = (
            new_edges.join(node.withColumnRenamed("rep_id", "id_a"), "id_a", "left")
            .select(F.coalesce("cluster_id", "id_a").alias("id_a"), "id_b")
            .join(node.withColumnRenamed("rep_id", "id_b"), "id_b", "left")
            .select("id_a", F.coalesce("cluster_id", "id_b").alias("id_b"))
            .filter(F.col("id_a") != F.col("id_b"))
        )
        # node → new cluster; the nodes are old cluster ids and reps that
        # had no cluster
        moves = part("s4_cc", connected_components(contracted, cfg))
        relabel = small(
            moves.select(
                F.col("rep_id").alias("cluster_id"), F.col("cluster_id").alias("new_id")
            ),
            n_ends,
        )
        relabelled = o_cc.join(relabel, "cluster_id", "left").select(
            "rep_id", F.coalesce("new_id", "cluster_id").alias("cluster_id")
        )
        newly_clustered = moves.join(
            small(old_of.select(F.col("cluster_id").alias("rep_id")), n_ends),
            "rep_id", "left_anti",
        )
        return relabelled.unionByName(newly_clustered)

    cc = stage("s4_cc", build_s4)

    # ---- s5: re-vote only affected clusters ------------------------------
    n_affected = Observation()

    def build_s5() -> DataFrame:
        # touched: every rep with a delta member, with its new cluster.
        # Every fresh rep is one, and its cluster (if any) is in the CC
        # map; an old rep is one if its text has a delta doc.
        n_docs = rows("s1_docs")  # bounds the touched reps
        fresh = d["s2_reps"].select(*_TEXT_KEY, "rep_id").join(
            small(d["s4_cc"], rows("s4_cc")), "rep_id", "left"
        ).select(
            *_TEXT_KEY, "rep_id", F.coalesce("cluster_id", "rep_id").alias("cluster_id")
        )
        texts = d["s1_docs"].filter(~F.col("bypass")).select(*_TEXT_KEY)
        old_touched = o_reps.select(*_TEXT_KEY, "rep_id").join(
            small(texts, n_docs), _TEXT_KEY, "left_semi"
        )
        their_cc = cc.join(small(old_touched.select("rep_id"), n_docs), "rep_id", "left_semi")
        old_touched = pin(old_touched.join(small(their_cc, n_docs), "rep_id", "left"))
        affected = fresh.select("cluster_id").unionByName(
            old_touched.select(F.coalesce("cluster_id", "rep_id").alias("cluster_id"))
        )
        # the other members of the affected clusters are old reps with a
        # cluster; s4's row count bounds them
        clustered = small(
            cc.join(small(affected, n_docs), "cluster_id", "left_semi"),
            pipe._recorded_rows("s4_cc", cc),
        )
        old_members = o_reps.select(*_TEXT_KEY, "rep_id").join(clustered, "rep_id")
        members = fresh.unionByName(old_members).unionByName(
            old_touched.filter(F.col("cluster_id").isNull()).select(
                *_TEXT_KEY, "rep_id", F.col("rep_id").alias("cluster_id")
            )
        )
        # containment scores over the members' edges: all new edges, and
        # the old edges of clustered members (both ends of an edge are in
        # one cluster, so one end decides)
        member_edges = d["s3_edges"].unionByName(
            o_edges.join(clustered.select(F.col("rep_id").alias("id_a")), "id_a", "left_semi")
        )
        clusters = pin(
            members.join(rep_containment(member_edges), "rep_id", "left").select(
                *_TEXT_KEY, "cluster_id", "containment"
            )
        )
        # new bypass docs are brand-new singleton clusters (old bypass rows
        # are untouched and carried over).  Ungated, the vote emits one row
        # per cluster, and a main cluster's canonical text is routed main,
        # so the affected-cluster count is an observed metric of the s5
        # write, not a count job; the size gate applies after it.
        voted = vote_clusters(
            docs.filter(~F.col("bypass")),
            small(clusters, pipe._recorded_rows("s2_reps", reps)),
            d["s1_docs"].filter(F.col("bypass")), cfg,
        ).observe(n_affected, F.count_if(is_main(cfg)).alias("n")).filter(
            size_gate(cfg.min_cluster_size)
        )
        # merge SOURCES: cluster ids that vanished in a merge; their old
        # canonical rows must not sit next to the merged cluster's new row
        vanished = d["s4_cc"].filter(F.col("rep_id") != F.col("cluster_id")).select(
            F.col("rep_id").alias("cluster_id")
        )
        carried = o_canon.join(
            small(affected.unionByName(vanished), n_docs + rows("s4_cc")),
            "cluster_id", "left_anti",
        ).select(*STAGE_COLUMNS["s5_canonical"])
        return carried.unionByName(voted)

    canonical = stage("s5_canonical", build_s5)
    if not pipe.report.stages["s5_canonical"]["resumed"]:
        pipe.report.stage("s5_canonical", n_affected_clusters=n_affected.get["n"])
    pipe._finalize(docs, reps, edges, canonical)
    return canonical


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
    state = {s: read_snapshot(old, s) for s in STAGE_COLUMNS}
    return run_stages(DedupPipeline(spark, out_dir, cfg), new_pages, state, force=True)
