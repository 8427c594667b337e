"""The merge's s2 is a pure append: ``s2_reps`` of the new state is the old
state's rows, unchanged, plus one row per never-seen text.  A state whose
``s2_reps`` still carries a column this version no longer writes (the
former ``n_members``) merges to the same result."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from gencore_spark import dedup_pages, dedup_pages_incremental
from gencore_spark.fixtures import PAGES_COLUMNS, pages_with_truth
from gencore_spark.pipeline import STAGE_COLUMNS

_KEY = ["text_hash", "text_hash2"]


def _sorted_rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def test_merge_appends_s2_and_reads_legacy_state(spark, tmp_path):
    full = pages_with_truth(spark, 300)[0].select(*PAGES_COLUMNS)
    keyed = full.withColumn("_h", F.pmod(F.xxhash64("url", "warc_ts"), F.lit(4)))
    base = keyed.filter(F.col("_h") != 0).drop("_h")
    delta = keyed.filter(F.col("_h") == 0).drop("_h")
    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    dedup_pages(spark, base, state)
    canon = dedup_pages_incremental(spark, delta, state, out)

    old_reps = spark.read.parquet(f"{state}/s2_reps")
    new_reps = spark.read.parquet(f"{out}/s2_reps")
    # the delta re-delivers texts the old state already holds, so a
    # per-text refresh of old rows would show here
    old_docs = spark.read.parquet(f"{state}/s1_docs").select("doc_id")
    delta_docs = spark.read.parquet(f"{out}/s1_docs").join(old_docs, "doc_id", "left_anti")
    assert delta_docs.join(old_reps.select(*_KEY), _KEY, "left_semi").count() > 0
    assert new_reps.columns == STAGE_COLUMNS["s2_reps"]
    assert old_reps.exceptAll(new_reps).count() == 0
    fresh = new_reps.join(old_reps.select(*_KEY), _KEY, "left_anti")
    assert new_reps.count() == old_reps.count() + fresh.count()

    # the same state with an extra s2_reps column still merges, and the
    # column is not carried into the new state
    legacy, legacy_out = str(tmp_path / "legacy"), str(tmp_path / "legacy_out")
    shutil.copytree(state, legacy)
    old_reps.withColumn("n_members", F.lit(1).cast("long")).write.mode(
        "overwrite"
    ).parquet(f"{legacy}/s2_reps")
    legacy_canon = dedup_pages_incremental(spark, delta, legacy, legacy_out)
    legacy_reps = spark.read.parquet(f"{legacy_out}/s2_reps")
    assert legacy_reps.columns == STAGE_COLUMNS["s2_reps"]
    assert _sorted_rows(legacy_reps) == _sorted_rows(new_reps)
    assert _sorted_rows(legacy_canon) == _sorted_rows(canon)
