"""Plan shape of the stage list over an empty state: s3's old×old drop
references the candidate pairs once, so the batch analyzes the bucket and
verify subtree once before Catalyst prunes the merge-only joins."""

from __future__ import annotations

import re

from gencore_spark import dedup_pages
from gencore_spark.fixtures import PAGES_COLUMNS, pages_with_truth
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
