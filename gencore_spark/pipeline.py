"""End-to-end near-dup dedup + consensus pipeline with checkpoint/resume.

Stage DAG (each stage materializes exactly once; a re-run skips every
stage whose snapshot exists — the resumability the reference gets from its
coordinate watermark, ``gencore.cpp:318-390``, re-expressed as table
snapshots):

    pages ──► s1_docs      ids, routing, exact text_hash        (exact.py)
          ──► s2_reps      distinct texts + MinHash/SimHash     (exact.py)
          ──► s3_edges     LSH buckets → candidates → verified  (lsh/verify)
          ──► s4_cc        connected components                 (components)
          ──► s5_canonical consensus vote + bypass re-union     (consensus)

Every stage snapshots to the work table and is read back, so a crashed or
re-run job resumes mid-pipeline without recomputation.  Stage row counts
are observed metrics of the snapshot write, not count jobs, and the
read-back declares the schema just written, so it infers none.

The daily merge (``delta.py``) writes its snapshots through the same
``_stage``, builders and ``STAGE_COLUMNS`` schema, so both entry points
write one ``REPORT.json`` schema: per-stage rows, ``s3_attach``,
``s3_buckets``, ``summary`` and ``lineage``.

Scale notes (the design is for 10^3 executors / 10^14 bytes):

* html:binary is projected OUT at s1 — no later stage ever reads it
  (column pruning is the single biggest I/O saver; SURVEY.md §4);
* every expensive stage runs on |distinct texts|, not |docs|;
* shuffles: s1 none (narrow), s2 one (groupBy text_hash), s3 two
  (bucket groupBy + pair join) + the size-adaptive verify text attach
  (broadcast double-join = zero exchanges when the reps table fits the
  broadcast cap; explode+fold above it),
  s4 none up to 100,000 verified pairs (the CC cutover: one bounded fetch,
  union-find on the driver) and O(log n) large-star/small-star rounds
  above it, s5 three hash aggs (no windows) — all keyed on
  ids or hashes, AQE handles skew inside the cap, the mega-bucket cap
  handles the rest;
* ``localCheckpoint`` truncates the CC rounds' lineage; stage
  materialization truncates everything else.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from .config import DEFAULT_CONFIG, DedupConfig
from .operators.components import connected_components
from .operators.consensus import consensus_vote
from .operators.exact import (
    distinct_text_reps,
    route,
    with_doc_ids,
    with_signatures,
    with_text_hash,
)
from .operators.lsh import candidate_pairs
from .operators.metrics import RunReport, partition_and_size_stats
from .operators.verify import verify_pairs
from .sources import TableIO

# One snapshot schema: the columns every reader of a stage snapshot relies
# on (batch resume, the incremental merge's state reads).
STAGE_COLUMNS = {
    "s1_docs": ["doc_id", "url", "warc_ts", "text", "lang", "text_hash",
                "text_hash2", "bypass"],
    "s2_reps": ["text_hash", "text_hash2", "rep_id", "norm_text", "minhash",
                "simhash"],
    "s3_edges": ["id_a", "id_b", "jaccard", "cont_a", "cont_b", "sim_hamming"],
    "s4_cc": ["rep_id", "cluster_id"],
    "s5_canonical": ["doc_id", "url", "warc_ts", "text", "lang", "cluster_id",
                     "fr", "rr", "n_variants", "vote_ratio", "low_confidence"],
}
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


def read_snapshot(io: TableIO, name: str) -> DataFrame:
    """Read stage snapshot ``name`` and fail FAST on a stale workdir: a
    snapshot written by an older pipeline version reads cleanly here but
    explodes mid-plan later with an opaque unresolved-column error."""
    out = io.read(name)
    missing = set(STAGE_COLUMNS[name]) - set(out.columns)
    if missing:
        raise ValueError(
            f"stale workdir: snapshot '{name}' at {io.root} is "
            f"missing columns {sorted(missing)} (written by an older "
            f"pipeline version?). Wipe the workdir or re-run with "
            f"force=True."
        )
    return out


def build_docs(pages: DataFrame, cfg: DedupConfig) -> DataFrame:
    """s1: doc ids, bypass routing and the exact text hash of every page."""
    main, bypass = route(with_doc_ids(_ensure_text(pages)), cfg)
    main = with_text_hash(main).withColumn("bypass", F.lit(False))
    bypass = with_text_hash(bypass).withColumn("bypass", F.lit(True))
    # html is dropped HERE and never read again
    return main.unionByName(bypass).select(*STAGE_COLUMNS["s1_docs"])


def vote_clusters(
    main_docs: DataFrame, clusters: DataFrame, bypass_docs: DataFrame,
    cfg: DedupConfig, min_cluster_size: int | None = None,
) -> DataFrame:
    """s5: consensus vote over cluster members.  Each main doc joins its
    text's row in ``clusters`` ((text_hash, text_hash2) → (cluster_id,
    containment)); docs without a row there are not voted.  Each bypass doc
    is a singleton cluster of its own.  ``min_cluster_size`` overrides the
    config's size gate (``consensus_vote``)."""
    main_members = main_docs.join(clusters, ["text_hash", "text_hash2"]).select(
        *_MEMBER_COLUMNS, "cluster_id", "containment"
    )
    bypass_members = bypass_docs.select(
        *_MEMBER_COLUMNS,
        F.col("doc_id").alias("cluster_id"),
        F.lit(None).cast("double").alias("containment"),
    )
    return consensus_vote(
        main_members.unionByName(bypass_members), cfg, min_cluster_size
    )


class DedupPipeline:
    def __init__(
        self, spark: SparkSession, workdir: str, cfg: DedupConfig = DEFAULT_CONFIG
    ):
        self.spark = spark
        self.cfg = cfg
        self.io = TableIO(spark, workdir)
        self.workdir = workdir
        self.report = RunReport()

    # -- stages ------------------------------------------------------------

    def _stage(self, name: str, build, force: bool) -> DataFrame:
        """Build, write and read back stage ``name``.  Its record's ``sec``
        is the stage's own duration: build, write and read-back."""
        t0 = time.perf_counter()

        def record(**counters) -> None:
            self.report.stage(
                name, sec=round(time.perf_counter() - t0, 3), **counters
            )

        if not force and self.io.exists(name):
            out = read_snapshot(self.io, name)
            record(resumed=True)
            return out
        # the row count is an observed metric of the write itself: no
        # count job over the read-back; the read-back declares the schema
        # just written, so it runs no schema-inference job either
        rows = Observation()
        built = build()
        self.io.write(built.observe(rows, F.count(F.lit(1)).alias("n")), name)
        out = self.io.read(name, schema=built.schema)
        record(rows=rows.get["n"], resumed=False)
        return out

    def _verify(self, edges: DataFrame, reps: DataFrame) -> DataFrame:
        """s3 verify of candidate ``edges`` against the s2 ``reps`` (or the
        subset of them the edges touch, as the merge passes)."""
        # the reps count drives the broadcast-vs-fold text attach in
        # verify_pairs: the s2 stage record (an upper bound for a subset),
        # or a count of ``reps`` when s2 was resumed.
        n_reps = self._recorded_rows("s2_reps", reps)
        broadcast = n_reps <= self.cfg.attach_broadcast_max_rows
        self.report.stage(
            "s3_attach", n_reps=n_reps, mode="broadcast" if broadcast else "fold"
        )
        signed = reps.select("rep_id", "norm_text", "simhash", "minhash")
        return verify_pairs(edges, signed, self.cfg, n_payload_rows=n_reps)

    def _record_bucket_stats(self, bucket_stats: DataFrame) -> None:
        """Fold the LSH bucket stats into the ``s3_buckets`` counters.  Run
        it after s3 has materialized: the persisted stats were populated as
        a side effect, so this is a tiny cached-scan job instead of a
        standalone explode+groupBy job."""
        row = bucket_stats.agg(
            F.sum(F.col("capped").cast("int")).alias("capped"),
            F.max("bucket_size").alias("biggest"),
        ).collect()[0]
        self.report.stage(
            "s3_buckets",
            n_capped_buckets=int(row["capped"] or 0),
            max_bucket_size=row["biggest"],
        )

    def run(self, pages: DataFrame, force: bool = False) -> DataFrame:
        cfg = self.cfg
        docs = self._stage("s1_docs", lambda: build_docs(pages, cfg), force)

        def build_reps() -> DataFrame:
            main = docs.filter(~F.col("bypass")).select(
                "doc_id", "text", "text_hash", "text_hash2"
            )
            # drop the RAW text before with_signatures: its repartition
            # exchange otherwise ships text AND norm_text (2x the bytes)
            # when only norm_text feeds the signature UDF (guide §2.3:
            # project before the exchange)
            return with_signatures(
                distinct_text_reps(main, cfg).drop("text"), cfg
            ).select(*STAGE_COLUMNS["s2_reps"])

        reps = self._stage("s2_reps", build_reps, force)

        bucket_stats_holder: list[DataFrame] = []

        def build_edges() -> DataFrame:
            edges, bucket_stats = candidate_pairs(reps.select("rep_id", "minhash"), cfg)
            bucket_stats_holder.append(bucket_stats)
            return self._verify(edges, reps)

        # try/finally owns the bucket-stats cache lifetime: a failure
        # between candidate_pairs and the post-s4 agg (e.g. a failed CC
        # job) must not leak the persist for the session lifetime.
        try:
            verified = self._stage("s3_edges", build_edges, force)

            def build_cc() -> DataFrame:
                return connected_components(verified.select("id_a", "id_b"), cfg)

            cc = self._stage("s4_cc", build_cc, force)

            # Bucket-stat metrics AFTER s4: by now the s3 snapshot write
            # has materialized them, so the fold reads the populated cache
            # — one less barrier on the fixed-cost path.
            if bucket_stats_holder:
                self._record_bucket_stats(bucket_stats_holder[0])
            else:
                # s3 resumed from its snapshot, so the bucket stats were
                # never recomputed this run — but this run REWRITES
                # REPORT.json, and silently dropping the skew counters from
                # the report would read as "no buckets were capped".  Carry
                # the prior run's record forward, marked as such.
                self._carry_bucket_stats()
        finally:
            # cache lifetime is exactly this run, success or not
            for bs in bucket_stats_holder:
                bs.unpersist()

        def build_canonical() -> DataFrame:
            from .operators.verify import rep_containment

            # every distinct text gets a cluster: CC assignment or itself,
            # plus its election score (best containment in a verified
            # neighbor — the A6 most-contained rule)
            rep_clusters = (
                reps.select("text_hash", "text_hash2", "rep_id")
                .join(cc, "rep_id", "left")
                .join(rep_containment(verified), "rep_id", "left")
                .select(
                    "text_hash", "text_hash2",
                    F.coalesce("cluster_id", "rep_id").alias("cluster_id"),
                    "containment",
                )
            )
            return vote_clusters(
                docs.filter(~F.col("bypass")), rep_clusters,
                docs.filter(F.col("bypass")), cfg,
            )

        canonical = self._stage("s5_canonical", build_canonical, force)
        self._finalize(docs, reps, verified, canonical)
        return canonical

    # -- reporting ----------------------------------------------------------

    def _carry_bucket_stats(self) -> None:
        """Re-record the previous run's ``s3_buckets`` counters when s3 was
        resumed from snapshot (stats are a side effect of building s3)."""
        import json

        prior_path = os.path.join(self.workdir, "REPORT.json")
        try:
            with open(prior_path) as f:
                prior = json.load(f).get("stages", {}).get("s3_buckets")
        except (OSError, ValueError):
            return
        if prior:
            counters = {
                k: v
                for k, v in prior.items()
                if k not in ("t_elapsed_sec", "carried_from_prior_run")
            }
            self.report.stage("s3_buckets", carried_from_prior_run=True,
                              **counters)

    def _recorded_rows(self, name: str, df) -> int:
        """Row count from the stage record when available (saves a job —
        fixed per-run job latency is the scaling-efficiency tax)."""
        rows = self.report.stages.get(name, {}).get("rows")
        return rows if rows is not None else df.count()

    def _finalize(self, docs, reps, verified, canonical) -> None:
        n_docs = self._recorded_rows("s1_docs", docs)
        n_out = self._recorded_rows("s5_canonical", canonical)
        self.report.stage(
            "summary",
            docs_in=n_docs,
            distinct_texts=self._recorded_rows("s2_reps", reps),
            verified_edges=self._recorded_rows("s3_edges", verified),
            docs_out=n_out,
            dup_rate=round(1.0 - n_out / max(n_docs, 1), 6),
        )
        lineage, histogram = partition_and_size_stats(canonical)
        self.report.stage(
            "lineage",
            canonical_partitions=lineage,
            cluster_size_histogram=histogram,
        )
        self.report.write(os.path.join(self.workdir, "REPORT.json"))
        self.report.write_html(os.path.join(self.workdir, "REPORT.html"))


def dedup_pages(
    spark: SparkSession,
    pages: DataFrame,
    workdir: str,
    cfg: DedupConfig = DEFAULT_CONFIG,
    force: bool = False,
) -> DataFrame:
    """One-call entry: pages(url, warc_ts, html, text, lang) → canonical."""
    return DedupPipeline(spark, workdir, cfg).run(pages, force=force)
