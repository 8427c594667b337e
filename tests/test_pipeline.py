"""End-to-end pipeline tests: recall gate, invariants, resume, vote."""

import pytest
from pyspark.sql import Row, functions as F

from gencore_spark import DedupPipeline, dedup_pages, dedup_pages_incremental
from gencore_spark.config import DedupConfig
from gencore_spark.fixtures import PAGES_COLUMNS, pages_with_truth
from gencore_spark.functions.udfs import extract_text_udf
from gencore_spark.operators.consensus import consensus_vote

N_DOCS = 2000


@pytest.fixture(scope="module")
def run(spark, tmp_path_factory):
    full, spec = pages_with_truth(spark, N_DOCS)
    full = full.cache()
    full.count()
    workdir = str(tmp_path_factory.mktemp("pipe"))
    pipe = DedupPipeline(spark, workdir)
    canonical = pipe.run(full.select(*PAGES_COLUMNS)).cache()
    return full, canonical, workdir, pipe


def _assignment(spark, workdir):
    # join key is (url, warc_ts): refetch groups in the fixture reuse one
    # url across fetches, so url alone is not a row key
    docs = spark.read.parquet(f"{workdir}/s1_docs").select(
        "url", "warc_ts", "doc_id", "text_hash"
    )
    reps = spark.read.parquet(f"{workdir}/s2_reps").select("text_hash", "rep_id")
    cc = spark.read.parquet(f"{workdir}/s4_cc")
    return (
        docs.join(reps, "text_hash", "left")
        .join(cc, "rep_id", "left")
        .select(
            "url", "warc_ts",
            F.coalesce("cluster_id", "rep_id", "doc_id").alias("out_cluster"),
        )
    )


def test_recall_gate(spark, run):
    """Dup-pair recall >= 0.99 (BASELINE.json) over planted truth pairs."""
    full, _, workdir, _ = run
    j = full.select("url", "warc_ts", "true_cluster_id").join(
        _assignment(spark, workdir), ["url", "warc_ts"]
    )
    p = lambda c: F.sum(F.expr(f"{c}*({c}-1)/2"))
    rec = (
        j.groupBy("true_cluster_id", "out_cluster").count().agg(p("count")).collect()[0][0]
    )
    tot = j.groupBy("true_cluster_id").count().agg(p("count")).collect()[0][0]
    assert rec / tot >= 0.99


def test_no_cluster_mixing(spark, run):
    """No output cluster merges docs from different true clusters
    (precision side: planted clusters are mutually dissimilar)."""
    full, _, workdir, _ = run
    j = full.select("url", "warc_ts", "true_cluster_id").join(
        _assignment(spark, workdir), ["url", "warc_ts"]
    )
    mixed = (
        j.groupBy("true_cluster_id", "out_cluster")
        .count()
        .groupBy("out_cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter("n > 1")
        .count()
    )
    assert mixed == 0


def test_mass_conservation(run):
    full, canonical, _, _ = run
    n_in = full.count()
    agg = canonical.agg(F.sum("fr").alias("s"), F.count(F.lit(1)).alias("n")).collect()[0]
    assert agg["s"] == n_in  # every input doc supports exactly one canonical
    assert agg["n"] < n_in  # something was deduplicated


def test_exact_groups_collapse(run):
    full, canonical, _, _ = run
    # every exact group of size g must appear as one canonical with fr>=g
    ex = full.filter(F.col("dup_kind") == "exact")
    sizes = ex.groupBy("true_cluster_id").count()
    urls = ex.select("url")
    surviving = canonical.join(urls, "url", "left_semi").count()
    n_groups = sizes.count()
    assert surviving <= n_groups  # at most one canonical per exact group


def test_byte_identical_extraction(spark, run):
    """input_hint invariant: extract_text(html) == text, byte for byte."""
    full, _, _, _ = run
    bad = full.withColumn("ext", extract_text_udf()(F.col("html"))).filter(
        F.col("ext") != F.col("text")
    )
    assert bad.count() == 0


def test_resume_skips_all_stages(spark, run):
    full, canonical, workdir, _ = run
    pipe2 = DedupPipeline(spark, workdir)
    out2 = pipe2.run(full.select(*PAGES_COLUMNS))
    assert all(
        st.get("resumed") for name, st in pipe2.report.stages.items()
        if name.startswith("s")
        and "resumed" in st
    )
    assert out2.count() == canonical.count()
    # a resume rewrites REPORT.json without rebuilding s3 — the skew
    # counters must survive (carried from the prior run's report)
    buckets = pipe2.report.stages["s3_buckets"]
    assert buckets["carried_from_prior_run"] is True
    assert buckets["n_capped_buckets"] >= 1


def test_report_written(run):
    import json, os

    _, _, workdir, pipe = run
    # the on-disk report reflects the most recent run on this workdir
    rep = json.load(open(os.path.join(workdir, "REPORT.json")))
    s = rep["stages"]["summary"]
    assert s["docs_in"] == N_DOCS
    assert 0 < s["dup_rate"] < 1
    assert rep["stages"]["lineage"]["cluster_size_histogram"]
    # the original (non-resumed) run observed the skew block being capped
    assert pipe.report.stages["s3_buckets"]["n_capped_buckets"] >= 1


def test_html_report_written(run):
    import os

    _, _, workdir, pipe = run
    # REPORT.html on disk may have been overwritten by the resume test's
    # re-run (whose skipped stages legitimately lack s3_buckets counters);
    # render from the original run's report for the content assertions.
    assert open(os.path.join(workdir, "REPORT.html")).read().startswith(
        "<!doctype html>"
    )
    path = pipe.report.write_html(os.path.join(workdir, "REPORT_full.html"))
    html = open(path).read()
    assert "Duplication histogram" in html and "s3_buckets" in html


def test_mirror_rr_counted(run):
    _, canonical, _, _ = run
    assert canonical.filter(F.col("rr") > 0).count() > 0


def test_bypass_short_docs(spark, tmp_path):
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    rows = [
        ("https://a/1", None, None, "tiny", "en"),
        ("https://a/2", None, None, "tiny", "en"),
        ("https://a/3", None, None, None, "en"),
        ("https://a/4", None, None,
         "a normal length document body here with plenty of words", "en"),
    ]
    df = spark.createDataFrame(rows, schema)
    out = dedup_pages(spark, df, str(tmp_path / "w"))
    # two "tiny" docs bypass (below min_text_len): NOT merged despite equality;
    # null-text row dropped; normal doc kept
    assert out.count() == 3
    assert out.filter(F.col("fr") > 1).count() == 0


def test_html_only_rows_extracted_in_s1(spark, tmp_path):
    """Corpora arriving html-only (text IS NULL, or no text column at all)
    go through extract_text inside dedup_pages — one code path, and the
    extracted text dedups against rows that arrived with text."""
    import datetime

    ts = datetime.datetime(2024, 1, 1)
    body = "a normal length document body here with plenty of words"
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    rows = [
        ("https://a/1", ts, f"<html><body>{body}</body></html>".encode(), None, "en"),
        ("https://a/2", ts, b"<html><body>ignored</body></html>", body, "en"),
        ("https://a/3", ts, None, None, "en"),  # nothing to extract -> dropped
    ]
    out = dedup_pages(spark, spark.createDataFrame(rows, schema),
                      str(tmp_path / "w"), checkpoint="memory")
    got = out.collect()
    # html-extracted row and text row are byte-identical -> ONE canonical
    assert len(got) == 1 and got[0]["fr"] == 2 and got[0]["text"] == body

    # corpus with NO text column at all: extracted for every row
    no_text = spark.createDataFrame(
        [(u, ts, h, l) for (u, ts, h, _t, l) in rows[:2]],
        "url string, warc_ts timestamp, html binary, lang string",
    )
    out2 = dedup_pages(spark, no_text, str(tmp_path / "w2"), checkpoint="memory")
    got2 = out2.collect()
    assert {r["text"] for r in got2} == {body, "ignored"}


def test_consensus_tiebreak_documented(spark):
    """votes desc → shorter text → url asc → warc_ts asc."""
    import datetime

    ts = datetime.datetime(2024, 1, 1)
    rows = [
        # cluster 1: text X has 2 votes, text Y has 1 → X wins; among X rows
        # url asc picks a/1
        Row(doc_id=1, url="https://a/2", warc_ts=ts, text="xxxx", lang="en",
            text_hash=100, cluster_id=1),
        Row(doc_id=2, url="https://a/1", warc_ts=ts, text="xxxx", lang="en",
            text_hash=100, cluster_id=1),
        Row(doc_id=3, url="https://a/0", warc_ts=ts, text="yyyyyy", lang="en",
            text_hash=200, cluster_id=1),
        # cluster 2: tie on votes → shorter text wins
        Row(doc_id=4, url="https://b/1", warc_ts=ts, text="long-text-variant",
            lang="en", text_hash=300, cluster_id=2),
        Row(doc_id=5, url="https://b/2", warc_ts=ts, text="short", lang="en",
            text_hash=400, cluster_id=2),
    ]
    out = consensus_vote(spark.createDataFrame(rows), DedupConfig()).collect()
    by_cluster = {r["cluster_id"]: r for r in out}
    assert by_cluster[1]["url"] == "https://a/1"
    assert by_cluster[1]["fr"] == 3 and by_cluster[1]["n_variants"] == 2
    assert by_cluster[2]["text"] == "short"


def test_vote_ratio_flags_weak_majority(spark):
    """A5 ratio-threshold fallback: winner share < 0.8 -> low_confidence."""
    import datetime

    ts = datetime.datetime(2024, 1, 1)
    rows = [
        # cluster 1: 4/5 majority -> ratio 0.8, NOT flagged (strict <)
        *[Row(doc_id=i, url=f"https://a/{i}", warc_ts=ts, text="xxxx",
              lang="en", text_hash=100, cluster_id=1) for i in range(4)],
        Row(doc_id=9, url="https://a/9", warc_ts=ts, text="yyyy",
            lang="en", text_hash=200, cluster_id=1),
        # cluster 2: 2/4 split -> ratio 0.5, flagged
        *[Row(doc_id=10 + i, url=f"https://b/{i}", warc_ts=ts, text="pppp",
              lang="en", text_hash=300, cluster_id=2) for i in range(2)],
        *[Row(doc_id=20 + i, url=f"https://c/{i}", warc_ts=ts,
              text="qqqq-longer", lang="en", text_hash=400, cluster_id=2)
          for i in range(2)],
    ]
    out = consensus_vote(spark.createDataFrame(rows), DedupConfig())
    by = {r["cluster_id"]: r for r in out.collect()}
    assert by[1]["vote_ratio"] == 0.8 and not by[1]["low_confidence"]
    assert by[2]["vote_ratio"] == 0.5 and by[2]["low_confidence"]
    # ratio ties in cluster 2 resolve by the documented ladder: shorter text
    assert by[2]["text"] == "pppp"


def test_stale_workdir_fails_fast(spark, tmp_path):
    """Resuming from a snapshot missing expected columns must raise a clear
    'stale workdir' error, not an unresolved-column AnalysisException later."""
    full, _ = pages_with_truth(spark, 200)
    workdir = str(tmp_path / "w")
    dedup_pages(spark, full.select(*PAGES_COLUMNS), workdir)
    # simulate a workdir written by an older pipeline version
    docs = spark.read.parquet(f"{workdir}/s1_docs").drop("text_hash2")
    docs.write.mode("overwrite").parquet(str(tmp_path / "s1_old"))
    import shutil

    shutil.rmtree(f"{workdir}/s1_docs")
    shutil.move(str(tmp_path / "s1_old"), f"{workdir}/s1_docs")
    with pytest.raises(ValueError, match="stale workdir"):
        dedup_pages(spark, full.select(*PAGES_COLUMNS), workdir)
    # the merge reads its state through the same check
    with pytest.raises(ValueError, match="stale"):
        dedup_pages_incremental(
            spark, full.select(*PAGES_COLUMNS), workdir, str(tmp_path / "inc")
        )
