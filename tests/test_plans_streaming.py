"""Plan-shape assertions (scale contract) for the dedup path, and the
stage-metrics read from the Spark UI's REST API."""

import pytest
from pyspark.sql import functions as F

from gencore_spark.config import DEFAULT_CONFIG
from gencore_spark.plans import (
    arrow_eval_count,
    explain_str,
    scan_read_columns,
)


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    from gencore_spark.fixtures import pages_df

    path = str(tmp_path_factory.mktemp("plans") / "pages")
    pages_df(spark, 500).write.mode("overwrite").parquet(path)
    return path


def test_html_pruned_from_signature_scan(spark, pages_parquet):
    """s1 projects html OUT; the s2-equivalent scan must not read it."""
    from gencore_spark.operators.exact import (
        distinct_text_reps,
        route,
        with_doc_ids,
        with_text_hash,
    )

    pages = spark.read.parquet(pages_parquet)
    main, _ = route(with_doc_ids(pages), DEFAULT_CONFIG)
    docs = with_text_hash(main).select("doc_id", "text", "text_hash", "text_hash2")
    reps = distinct_text_reps(docs)
    for cols in scan_read_columns(reps):
        assert "html" not in cols, f"scan reads html: {cols}"


def test_bucketing_stage_is_jvm_only(spark, pages_parquet):
    """Candidate generation after signatures contains no Python nodes."""
    from gencore_spark.operators.lsh import band_explode

    sigs = spark.createDataFrame(
        [(1, list(range(128))), (2, list(range(128)))],
        "rep_id long, minhash array<bigint>",
    )
    exploded = band_explode(sigs, DEFAULT_CONFIG)
    assert arrow_eval_count(exploded) == 0
    plan = explain_str(exploded)
    assert "xxhash64" in plan


def test_verify_gates_are_jvm_side(spark):
    """est-Jaccard + hamming gates appear below the single verify UDF."""
    from gencore_spark.operators.verify import verify_pairs

    signed = spark.createDataFrame(
        [(1, "aaaa bbbb cccc dddd eeee", 7, list(range(128))),
         (2, "aaaa bbbb cccc dddd eeff", 9, list(range(128)))],
        "rep_id long, norm_text string, simhash long, minhash array<bigint>",
    )
    edges = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out = verify_pairs(edges, signed, DEFAULT_CONFIG)
    # exactly one Python eval node (the jaccard/LCS UDF)
    assert arrow_eval_count(out) == 1
    assert "bit_count" in explain_str(out)


def test_attach_pair_payload_single_join(spark):
    """The shared fat-payload attach (verify/ngram/embedding variants) must
    be ONE explode + ONE join + one fold — each payload value moves at most
    twice, never once per candidate edge."""
    import re

    from gencore_spark.operators.verify import attach_pair_payload

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    pay = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z")], "rep_id long, norm_text string"
    )
    out = attach_pair_payload(pairs, pay, "norm_text", "ta", "tb")
    plan = explain_str(out)  # pre-execution: single (non-AQE-final) plan
    joins = set(re.findall(r"\((\d+)\) \w*Join", plan))
    gens = set(re.findall(r"\((\d+)\) Generate", plan))
    assert len(joins) == 1, f"payload attach must be exactly one join: {plan}"
    assert len(gens) == 1
    rows = {(r.id_a, r.id_b): (r.ta, r.tb) for r in out.collect()}
    assert rows == {(1, 2): ("x", "y"), (2, 3): ("y", "z")}
    # array payloads fold through the same path (embedding variant)
    vec = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0, 4.0]), (3, [5.0, 6.0])],
        "rep_id long, vec array<double>",
    )
    vout = attach_pair_payload(pairs, vec, "vec", "va", "vb").collect()
    assert {(r.id_a, r.id_b): (tuple(r.va), tuple(r.vb)) for r in vout} == {
        (1, 2): ((1.0, 2.0), (3.0, 4.0)),
        (2, 3): ((3.0, 4.0), (5.0, 6.0)),
    }


def test_attach_pair_payload_broadcast_cutover(spark):
    """Size-adaptive attach: a payload under the broadcast cap takes the
    two-broadcast-hash-join path (no exchange, no sort, no explode) and
    returns exactly what the fold path returns."""
    import re

    from gencore_spark.operators.verify import attach_pair_payload

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    pay = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z")], "rep_id long, norm_text string"
    )
    bc = attach_pair_payload(
        pairs, pay, "norm_text", "ta", "tb", payload_rows=3,
        broadcast_max_rows=100,
    )
    plan = explain_str(bc)
    assert len(set(re.findall(r"\((\d+)\) BroadcastHashJoin", plan))) == 2, plan
    assert "SortAggregate" not in plan and "Generate" not in plan, plan
    got = {(r.id_a, r.id_b): (r.ta, r.tb) for r in bc.collect()}
    fold = attach_pair_payload(pairs, pay, "norm_text", "ta", "tb")
    assert got == {(r.id_a, r.id_b): (r.ta, r.tb) for r in fold.collect()}
    # over the cap: same call falls back to the fold shape
    over = attach_pair_payload(
        pairs, pay, "norm_text", "ta", "tb", payload_rows=101,
        broadcast_max_rows=100,
    )
    assert "BroadcastHashJoin" not in explain_str(over)
    # caller columns named like the attach's internals must not collide:
    # an extra column `v` once raised AMBIGUOUS_REFERENCE on both paths
    pairs_v = pairs.withColumn("v", F.col("id_a") * 10)
    for kw in ({"payload_rows": 3, "broadcast_max_rows": 100}, {}):
        out = attach_pair_payload(
            pairs_v, pay, "norm_text", "ta", "tb", extra_cols=("v",), **kw
        )
        assert {(r.id_a, r.id_b): (r.v, r.ta, r.tb) for r in out.collect()} == {
            (1, 2): (10, "x", "y"), (2, 3): (20, "y", "z"),
        }


def test_filter_pushdown_reaches_scan(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet).filter(F.col("lang") == "en").select("url")
    plan = explain_str(pages)
    assert "PushedFilters" in plan and "lang" in plan.split("PushedFilters")[1][:200]


def test_driver_stage_metrics_disabled_ui_returns_empty(spark):
    # the default session runs with spark.ui.enabled=false (conftest), so
    # the REST read must degrade to {} rather than raise — callers splat
    # the result into their leg JSON
    from gencore_spark.plans import driver_stage_metrics

    assert driver_stage_metrics(spark) == {}


def test_driver_stage_metrics_sums_and_converts_units(spark, monkeypatch):
    # happy path with the HTTP layer stubbed: two stages; ns → s for CPU,
    # ms → s for run/GC
    import io
    import json as _json
    import urllib.request

    from gencore_spark.plans import metrics_api

    stages = [
        {"executorCpuTime": 3_000_000_000, "executorRunTime": 5_000,
         "jvmGcTime": 250},
        {"executorCpuTime": 1_500_000_000, "executorRunTime": 2_500,
         "jvmGcTime": 250},
    ]

    class _Resp(io.StringIO):
        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    captured = {}

    def fake_urlopen(url, timeout=None):
        captured["url"] = url
        return _Resp(_json.dumps(stages))

    class _FakeSC:
        uiWebUrl = "http://stub:4040"
        applicationId = "app-123"

    class _FakeSpark:
        sparkContext = _FakeSC()

    monkeypatch.setattr(urllib.request, "urlopen", fake_urlopen)
    out = metrics_api.driver_stage_metrics(_FakeSpark())
    assert captured["url"] == (
        "http://stub:4040/api/v1/applications/app-123/stages?status=complete"
    )
    assert out == {
        "task_cpu_sec": 4.5, "task_run_sec": 7.5, "jvm_gc_sec": 0.5,
        "n_stages": 2,
    }
