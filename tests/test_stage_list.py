"""The one stage list (``delta.run_stages``) behind both entry points: the
batch resumes stage by stage after a fault, a partly written snapshot (part
files, no ``_SUCCESS``) is rebuilt and never read, and the
``min_cluster_size`` gate gives the same rows on both paths."""

from __future__ import annotations

import datetime
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
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


def _plant_partial(path, table):
    """Leave ``path`` as a stage write that died after one part file: that
    part holds ``table``, and there is no ``_SUCCESS``."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    pq.write_table(table, os.path.join(path, "part-00000-partial.snappy.parquet"))


@pytest.fixture(scope="module")
def clean_dir(tmp_path_factory):
    """The workdir of the clean batch run over ``corpus``."""
    return str(tmp_path_factory.mktemp("clean"))


@pytest.fixture(scope="module")
def corpus(spark, clean_dir):
    pages = pages_with_truth(spark, 200)[0].select(*PAGES_COLUMNS).cache()
    clean = dedup_pages(spark, pages, clean_dir)
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


def test_batch_rebuilds_a_partly_written_stage(spark, corpus, clean_dir, tmp_path):
    """s1–s3 complete, s4 died after one part file, s5 never started: the
    re-run resumes s1–s3 and rebuilds s4 and s5 without reading the part."""
    pages, clean = corpus
    workdir = str(tmp_path / "w")
    shutil.copytree(clean_dir, workdir)
    shutil.rmtree(os.path.join(workdir, "s5_canonical"))
    # every rep in one cluster: read as s4, it would merge all clusters
    cc = pq.read_table(os.path.join(clean_dir, "s4_cc"))
    i = cc.schema.get_field_index("cluster_id")
    one = cc.set_column(i, cc.schema.field(i), pa.array([0] * cc.num_rows, pa.int64()))
    _plant_partial(os.path.join(workdir, "s4_cc"), one)

    pipe = DedupPipeline(spark, workdir)
    out = pipe.run(pages)
    resumed = {name: pipe.report.stages[name]["resumed"] for name in STAGE_COLUMNS}
    assert resumed == {"s1_docs": True, "s2_reps": True, "s3_edges": True,
                       "s4_cc": False, "s5_canonical": False}
    assert _rows(out) == clean


def test_merge_overwrites_a_partly_written_stage(spark, corpus, clean_dir, tmp_path):
    """A merge whose ``out_dir`` holds a partial ``s3_edges`` (one planted
    edge joining the lowest and highest rep) gives a clean merge's rows:
    the batch's over the union, id-free (``test_delta`` pins that a clean
    merge gives them)."""
    pages, _ = corpus
    base, new = _split(pages)
    state = str(tmp_path / "base")
    dedup_pages(spark, base, state)

    reps = pq.read_table(os.path.join(state, "s2_reps"), columns=["rep_id"])
    ids = sorted(reps.column("rep_id").to_pylist())
    edge = pa.Table.from_pylist(
        [dict(id_a=ids[0], id_b=ids[-1], jaccard=1.0, cont_a=1.0, cont_b=1.0,
              sim_hamming=0)],
        schema=pq.read_table(os.path.join(state, "s3_edges")).schema,
    )
    out_dir = str(tmp_path / "inc")
    _plant_partial(os.path.join(out_dir, "s3_edges"), edge)
    got = dedup_pages_incremental(spark, new, state, out_dir)
    want = spark.read.parquet(os.path.join(clean_dir, "s5_canonical"))
    assert _idfree_rows(got) == _idfree_rows(want)


def test_merge_rejects_a_state_with_a_partial_snapshot(spark, corpus, clean_dir,
                                                       tmp_path):
    """A state snapshot without ``_SUCCESS`` is not state: the merge fails
    fast and names it."""
    pages, _ = corpus
    state = str(tmp_path / "state")
    shutil.copytree(clean_dir, state)
    for name in STAGE_COLUMNS:
        marker = os.path.join(state, name, "_SUCCESS")
        os.remove(marker)
        with pytest.raises(ValueError, match=rf"missing snapshots \['{name}'\]"):
            dedup_pages_incremental(spark, pages, state, str(tmp_path / "out"))
        open(marker, "w").close()


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
