"""Plan shapes: over an empty state, s3's old×old drop references the
candidate pairs once, so the batch analyzes the bucket and verify subtree
once before Catalyst prunes the merge-only joins; the consensus vote is
three hash aggregations and two joins, with no window."""

from __future__ import annotations

import re

from gencore_spark import dedup_pages
from gencore_spark.config import DedupConfig
from gencore_spark.fixtures import PAGES_COLUMNS, pages_with_truth
from gencore_spark.operators.consensus import consensus_vote
from gencore_spark.sources import TableIO


def test_batch_s3_analyzes_the_bucket_window_once(spark, tmp_path, monkeypatch):
    plans = {}
    write = TableIO.write

    def capture(self, df, name):
        plans[name] = df._jdf.queryExecution().analyzed().toString()
        return write(self, df, name)

    monkeypatch.setattr(TableIO, "write", capture)
    pages = pages_with_truth(spark, 100)[0].select(*PAGES_COLUMNS)
    dedup_pages(spark, pages, str(tmp_path / "w"))
    # the capped buckets' chain window (``lsh.bucketed_pairs``)
    windows = re.findall(r"^[\s:+-]*Window ", plans["s3_edges"], re.M)
    assert len(windows) == 1


def test_consensus_vote_is_two_levels_and_a_mirror_count(spark):
    """Level 1 per (cluster, text), level 2 per cluster and the mirror
    counts; joined once on the winner's mirror key and once for the text."""
    rows = [
        (i, f"https://a/{i % 3}", None, f"text-{i % 2}", "en", i % 2, i // 4)
        for i in range(8)
    ]
    members = spark.createDataFrame(
        rows,
        "doc_id long, url string, warc_ts timestamp, text string, lang string,"
        " text_hash long, cluster_id long",
    )
    plan = consensus_vote(members, DedupConfig())._jdf.queryExecution().analyzed()
    counts = [
        len(re.findall(rf"^[\s:+-]*{n} ", plan.toString(), re.M))
        for n in ("Aggregate", "Join", "Window")
    ]
    assert counts == [3, 2, 0]
