"""Correctness gate run on every timed call.

Reads the five-stage state a call wrote (``s1_docs``, ``s2_reps``,
``s4_cc``) to rebuild each page's output cluster, then checks it against
the generator's closed-form ground truth:

* dup-pair recall >= MIN_RECALL: planted duplicate pairs (same
  ``true_cluster_id``) that land in one output cluster, over planted pairs;
* no output cluster mixes two true clusters;
* every input page has exactly one output cluster;
* mass conservation: the canonical rows' ``fr`` sum to the input doc count.

Pages are matched on ``(url, warc_ts)``: the fixture's refetch groups reuse
one url across fetches, so url alone is not a row key.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import SparkSession, functions as F

MIN_RECALL = 0.99


def assignment(spark: SparkSession, state_dir: str) -> pd.DataFrame:
    """(url, ts, out_cluster) for every page in the state at ``state_dir``."""
    docs = spark.read.parquet(f"{state_dir}/s1_docs")
    reps = spark.read.parquet(f"{state_dir}/s2_reps").select(
        "text_hash", "text_hash2", "rep_id"
    )
    cc = spark.read.parquet(f"{state_dir}/s4_cc")
    return (
        docs.join(reps, ["text_hash", "text_hash2"], "left")
        .join(cc, "rep_id", "left")
        .select(
            "url",
            F.col("warc_ts").cast("long").alias("ts"),
            F.when(F.col("bypass"), F.col("doc_id"))
            .otherwise(F.coalesce("cluster_id", "rep_id", "doc_id"))
            .alias("out_cluster"),
        )
        .toPandas()
    )


def _pairs(sizes: pd.Series) -> int:
    return int((sizes * (sizes - 1) // 2).sum())


@dataclass
class Verdict:
    recall: float
    mixed_clusters: int
    missing_pages: int
    fr_sum: int
    n_docs: int
    errors: list[str]

    @property
    def ok(self) -> bool:
        return not self.errors


def check(truth: pd.DataFrame, assign: pd.DataFrame, fr_sum: int) -> Verdict:
    """Gate one call's output.  ``truth`` has url, ts, true_cluster_id."""
    j = truth.merge(assign, on=["url", "ts"], how="left")
    missing = int(j["out_cluster"].isna().sum())
    j = j.dropna(subset=["out_cluster"])
    found = _pairs(j.groupby(["true_cluster_id", "out_cluster"]).size())
    planted = _pairs(truth.groupby("true_cluster_id").size())
    recall = found / planted if planted else 1.0
    mixed = int((j.groupby("out_cluster")["true_cluster_id"].nunique() > 1).sum())
    errors = []
    if recall < MIN_RECALL:
        errors.append(f"dup_pair_recall {recall:.6f} < {MIN_RECALL}")
    if mixed:
        errors.append(f"{mixed} output clusters mix true clusters")
    if missing:
        errors.append(f"{missing} input pages have no output cluster")
    if len(assign) != len(truth):
        errors.append(f"state holds {len(assign)} pages, input has {len(truth)}")
    if fr_sum != len(truth):
        errors.append(f"sum(fr) {fr_sum} != docs in {len(truth)}")
    return Verdict(recall, mixed, missing, fr_sum, len(truth), errors)

