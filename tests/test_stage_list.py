"""The one stage list (``delta.run_stages``) behind both entry points: the
batch resumes stage by stage after a fault, and the ``min_cluster_size``
gate gives the same rows on both paths."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from gencore_spark import (
    DedupConfig,
    DedupPipeline,
    dedup_pages,
    dedup_pages_incremental,
)
from gencore_spark import delta
from gencore_spark.fixtures import PAGES_COLUMNS, pages_with_truth
from gencore_spark.pipeline import STAGE_COLUMNS
from test_delta import _idfree_rows, _split

# the layer function each stage's builder calls, made to raise
_FAULTS = {
    "s2_reps": "with_signatures",
    "s3_edges": "bucketed_pairs",
    "s4_cc": "connected_components",
    "s5_canonical": "rep_containment",
}


def _rows(canon):
    cols = sorted(canon.columns)
    return sorted(tuple(r[c] for c in cols) for r in canon.select(*cols).collect())


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    pages = pages_with_truth(spark, 200)[0].select(*PAGES_COLUMNS).cache()
    clean = dedup_pages(spark, pages, str(tmp_path_factory.mktemp("clean")))
    yield pages, _rows(clean)
    pages.unpersist()


@pytest.mark.parametrize("failing", list(_FAULTS))
def test_batch_resumes_after_fault(spark, corpus, tmp_path, monkeypatch, failing):
    pages, clean = corpus
    workdir = str(tmp_path / "w")

    def fault(*args, **kwargs):
        raise RuntimeError(f"fault in {failing}")

    with monkeypatch.context() as m:
        m.setattr(delta, _FAULTS[failing], fault)
        with pytest.raises(RuntimeError, match="fault in"):
            dedup_pages(spark, pages, workdir)

    pipe = DedupPipeline(spark, workdir)
    out = pipe.run(pages)
    stages = list(STAGE_COLUMNS)
    for name in stages:
        resumed = pipe.report.stages[name]["resumed"]
        assert resumed == (stages.index(name) < stages.index(failing)), name
    assert _rows(out) == clean


def test_min_cluster_size_on_both_entry_points(spark, tmp_path):
    cfg = DedupConfig(min_cluster_size=2)
    ts = datetime.datetime(2024, 1, 1)
    # two fetches of one short text: bypass docs, each a singleton cluster
    short = spark.createDataFrame(
        [(f"https://short/{i}", ts, None, "tiny page", "en") for i in range(2)],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    full = pages_with_truth(spark, 300)[0].select(*PAGES_COLUMNS).unionByName(short)
    full = full.cache()
    base, new = _split(full)

    canon_full = dedup_pages(spark, full, str(tmp_path / "full"), cfg)
    dedup_pages(spark, base, str(tmp_path / "base"), cfg)
    canon_inc = dedup_pages_incremental(
        spark, new, str(tmp_path / "base"), str(tmp_path / "inc"), cfg
    )
    for workdir, canon in (("full", canon_full), ("inc", canon_inc)):
        assert canon.filter(F.col("fr") < 2).count() == 0, workdir
        bypass = spark.read.parquet(str(tmp_path / workdir / "s1_docs")).filter("bypass")
        assert bypass.count() == 2, workdir
        assert canon.join(bypass, "doc_id", "left_semi").count() == 0, workdir
    assert canon_full.count() > 0
    assert _idfree_rows(canon_inc) == _idfree_rows(canon_full)
    full.unpersist()


def test_merge_without_broadcasts_equals_batch(spark, tmp_path):
    """With the broadcast cutover at 0 every merge join whose side is not
    empty is planned by Spark, and verify attaches texts by the fold."""
    cfg = DedupConfig(attach_broadcast_max_rows=0)
    full = pages_with_truth(spark, 300)[0].select(*PAGES_COLUMNS).cache()
    base, new = _split(full)
    canon_full = dedup_pages(spark, full, str(tmp_path / "full"), cfg)
    dedup_pages(spark, base, str(tmp_path / "base"), cfg)
    canon_inc = dedup_pages_incremental(
        spark, new, str(tmp_path / "base"), str(tmp_path / "inc"), cfg
    )
    assert _idfree_rows(canon_inc) == _idfree_rows(canon_full)
    full.unpersist()
