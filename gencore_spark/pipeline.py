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

One stage list serves both entry points: :func:`dedup_pages` runs the daily
merge's five builders (``delta.run_stages``) over an empty old state; this
module holds the stage schemas, the snapshot runner and the report.  The
empty state is typed (``STAGE_SCHEMAS``) and statically empty, so Catalyst
removes every join with it at plan time, and the batch plans exactly the
corpus-wide work it needs.  Over an empty state a stage's delta part is its
snapshot read-back, so the batch resumes stage by stage.

Every stage snapshots to the work table and is read back, so a crashed or
re-run job resumes mid-pipeline without recomputation.  Stage row counts
are observed metrics of the snapshot write, not count jobs, and every read
declares its stage's schema, so it infers none; a stale snapshot is caught
from one parquet footer on the driver.  Both entry points write one
``REPORT.json`` schema: per-stage rows, ``s3_attach`` (``n_reps_bound``,
the s2 row count that bounds verify's text payload, and the attach
``mode``), ``s3_buckets``, ``summary`` and ``lineage``.

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
  above it, s5 three hash aggregations (no windows) — all keyed on
  ids or hashes, AQE handles skew inside the cap, the mega-bucket cap
  handles the rest;
* ``localCheckpoint`` truncates the CC rounds' lineage; stage
  materialization truncates everything else.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql import types as T

from .config import DEFAULT_CONFIG, DedupConfig
from .operators.metrics import RunReport, partition_and_size_stats
from .operators.verify import verify_pairs
from .sources import TableIO


_L, _S, _D, _I = T.LongType(), T.StringType(), T.DoubleType(), T.IntegerType()
_B, _TS = T.BooleanType(), T.TimestampType()


def _schema(**fields: T.DataType) -> T.StructType:
    return T.StructType([T.StructField(name, typ) for name, typ in fields.items()])


# One snapshot schema per stage: what every stage writes and every reader
# declares (batch resume, the merge's state reads, the empty batch state).
STAGE_SCHEMAS = {
    "s1_docs": _schema(doc_id=_L, url=_S, warc_ts=_TS, text=_S, lang=_S,
                       text_hash=_L, text_hash2=_L, bypass=_B),
    "s2_reps": _schema(text_hash=_L, text_hash2=_L, rep_id=_L, norm_text=_S,
                       minhash=T.ArrayType(_L), simhash=_L),
    "s3_edges": _schema(id_a=_L, id_b=_L, jaccard=_D, cont_a=_D, cont_b=_D,
                        sim_hamming=_I),
    "s4_cc": _schema(rep_id=_L, cluster_id=_L),
    # the vote's output order
    "s5_canonical": _schema(doc_id=_L, cluster_id=_L, text_hash=_L, url=_S,
                            warc_ts=_TS, lang=_S, fr=_L, n_variants=_L, rr=_I,
                            vote_ratio=_D, low_confidence=_B, text=_S),
}
STAGE_COLUMNS = {name: schema.fieldNames() for name, schema in STAGE_SCHEMAS.items()}
def read_snapshot(io: TableIO, name: str) -> DataFrame:
    """Read stage snapshot ``name`` with its declared schema (no Spark job)
    and fail FAST on a stale workdir: a snapshot written by an older
    pipeline version would otherwise explode mid-plan later with an opaque
    unresolved-column error.  Columns the schema does not declare are not
    read."""
    missing = set(STAGE_COLUMNS[name]) - set(io.columns(name))
    if missing:
        raise ValueError(
            f"stale workdir: snapshot '{name}' at {io.root} is "
            f"missing columns {sorted(missing)} (written by an older "
            f"pipeline version?). Wipe the workdir or re-run with "
            f"force=True."
        )
    return io.read(name, schema=STAGE_SCHEMAS[name])


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
            "s3_attach", n_reps_bound=n_reps, mode="broadcast" if broadcast else "fold"
        )
        signed = reps.select("rep_id", "norm_text", "simhash", "minhash")
        return verify_pairs(edges, signed, self.cfg, n_payload_rows=n_reps)

    def run(self, pages: DataFrame, force: bool = False) -> DataFrame:
        # the stage list lives with the merge (delta.py imports this module)
        from .delta import run_stages

        return run_stages(self, pages, None, force)

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
