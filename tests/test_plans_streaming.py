"""Plan-shape assertions (scale contract) + streaming front-end tests."""

import os

import pytest
from pyspark.sql import functions as F

from gencore_spark.config import DEFAULT_CONFIG
from gencore_spark.plans import (
    arrow_eval_count,
    explain_str,
    has_broadcast_join,
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
    reps = distinct_text_reps(docs, DEFAULT_CONFIG)
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


def test_ngram_text_attach_is_fold_not_per_pair_join(spark):
    """VERDICT r3 'What's wrong #2': ngram_jaccard_clusters must not ship
    each text once per candidate edge.  The old shape joined texts ON
    id_a/id_b (duplicating an anchor's text across thousands of
    capped-bucket edges); the fold shape joins ONCE on the exploded side
    rows' rep id.  Assert no join in the verified-edge plan is keyed on
    id_a/id_b, and the ngram UDF is the plan's single Python node."""
    import re

    from gencore_spark.config import DEFAULT_CONFIG
    from gencore_spark.operators.dedup_variants import (
        _text_reps,
        _token_ngram_jaccard_udf,
        attach_pair_payload,
        candidate_pairs,
        normalize_expr,
    )
    from gencore_spark.functions.udfs import minhash_udf

    docs = spark.createDataFrame(
        [(i, f"doc {i} body words alpha beta gamma delta", "en", "s", 40)
         for i in range(6)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    reps, _ = _text_reps(docs)
    signed = (
        reps.withColumn("norm_text", normalize_expr(F.col("text")))
        .withColumn("minhash", minhash_udf(DEFAULT_CONFIG)(F.col("norm_text")))
        .select("rep_id", "norm_text", "minhash")
        .persist()  # as in ngram_jaccard_clusters — fences the sig UDF
    )
    edges, stats = candidate_pairs(signed.select("rep_id", "minhash"), DEFAULT_CONFIG)
    paired = attach_pair_payload(edges, signed, "norm_text", "ta", "tb")
    verified = paired.withColumn(
        "j", _token_ngram_jaccard_udf(3)(F.col("ta"), F.col("tb"))
    ).filter(F.col("j") >= 0.8).select("id_a", "id_b")
    plan = explain_str(verified)
    stats.unpersist()
    signed.unpersist()
    for m in re.finditer(r"(?:Left|Right) keys \[\d+\]: \[(\w+)", plan):
        assert m.group(1) not in ("id_a", "id_b"), (
            f"per-pair payload join keyed on {m.group(1)} — texts would move "
            f"once per edge"
        )
    assert arrow_eval_count(verified) <= 2  # minhash sig UDF + ngram UDF


def test_ann_broadcasts_query_side(spark, sf_dir):
    from gencore_spark.operators.ann import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = cosine_topk(
        emb.filter(F.col("vec_id") >= 10), emb.filter(F.col("vec_id") < 10), k=3
    )
    assert has_broadcast_join(out)


def test_ann_lsh_large_query_set_not_broadcast(spark, sf_dir):
    """The n_queries cutover (attach_pair_payload pattern): a query table
    the caller knows is over the broadcast cap must plan the bucket join
    WITHOUT a query-side broadcast — no executor/driver ever rests on a
    single copy of a corpus-sized query set (corpus-vs-corpus probes)."""
    from gencore_spark.operators.ann import lsh_cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10)
    # disable size-estimate auto-broadcast so the plan shows exactly what
    # OUR hint decides (at real scale the estimate would be over the
    # threshold anyway; the fixture table is tiny)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        big = lsh_cosine_topk(
            corpus, queries, dim=64, k=3, n_queries=1_000_001,
            broadcast_max_rows=1_000_000,
        )
        plan = explain_str(big)
        assert "BroadcastExchange" not in plan
        # counted-small keeps the broadcast
        small = lsh_cosine_topk(corpus, queries, dim=64, k=3, n_queries=10)
        assert has_broadcast_join(small)
        # and the un-broadcast plan returns the same rows
        assert sorted(map(tuple, big.collect())) == sorted(
            map(tuple, small.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_ann_ivf_large_query_set_not_broadcast(spark, sf_dir):
    from gencore_spark.operators.ann import ivf_build, ivf_probe

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    index = ivf_build(emb.filter(F.col("vec_id") >= 10), n_cells=4)
    queries = emb.filter(F.col("vec_id") < 10)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        big = ivf_probe(
            index, queries, k=3, n_probe=2, n_queries=1_000_001,
            broadcast_max_rows=1_000_000,
        )
        assert "BroadcastExchange" not in explain_str(big)
        small = ivf_probe(index, queries, k=3, n_probe=2)
        assert has_broadcast_join(small)
        assert sorted(map(tuple, big.collect())) == sorted(
            map(tuple, small.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_filter_pushdown_reaches_scan(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet).filter(F.col("lang") == "en").select("url")
    plan = explain_str(pages)
    assert "PushedFilters" in plan and "lang" in plan.split("PushedFilters")[1][:200]


# ------------------------------------------------------------- streaming


def test_incremental_exact_dedup_stream(spark, tmp_path):
    import datetime

    from gencore_spark.streaming import incremental_exact_dedup

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    chk = str(tmp_path / "chk")
    ts = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        ("https://a/1", ts, "same content here for the stream", "en"),
        ("https://a/2", ts, "same content here for the stream", "en"),
        ("https://a/3", ts, "different content in this row!!", "en"),
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, text string, lang string"
    )
    df.coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    deduped = incremental_exact_dedup(stream, watermark="1 hour")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 2  # one of the two identical rows dropped
    assert got.select("text").distinct().count() == 2


def test_signature_stream_matches_batch(spark, tmp_path):
    import datetime

    from gencore_spark.streaming import signature_stream

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    chk = str(tmp_path / "chk")
    ts = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [("https://a/1", ts, "the quick brown fox jumps over the lazy dog", "en")],
        "url string, warc_ts timestamp, text string, lang string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        signature_stream(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out).first()

    # batch twin
    from gencore_spark.functions.minhash import perm_params, signatures_many
    from gencore_spark.functions.textnorm import normalize_for_shingling

    a, b = perm_params(128, 42)
    sigs, fps = signatures_many(
        [normalize_for_shingling(df.first()["text"])], 5, a, b
    )
    import numpy as np

    assert list(got["minhash"]) == list(sigs[0].view(np.int64))
    assert got["simhash"] == int(fps[0].view(np.int64))


def test_streaming_dup_counter_state_eviction(spark, tmp_path):
    """applyInPandasWithState counter: live updates per microbatch, final
    row once the event-time watermark evicts the key's state."""
    import datetime

    from gencore_spark.streaming import streaming_dup_counter

    src = str(tmp_path / "src")
    chk = str(tmp_path / "chk")
    schema = "url string, warc_ts timestamp, text string, lang string"
    t = lambda h, m=0: datetime.datetime(2024, 1, 1, h, m)
    batches = [
        [("https://a/1", t(12), "text alpha", "en"),
         ("https://a/2", t(12), "text alpha", "en"),
         ("https://b/1", t(12), "text beta", "en")],
        # 15:00 − 10 min watermark ⇒ wm 14:50 > 12:00 + 1h eviction horizon
        [("https://c/1", t(15), "text gamma", "en")],
        # third batch: timeouts fire against the post-batch-2 watermark
        [("https://d/1", t(16), "text delta", "en")],
    ]
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = (
        spark.readStream.schema(batches[0] and spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    counted = streaming_dup_counter(stream, watermark="10 minutes")
    q = (
        counted.writeStream.format("memory")
        .queryName("dupcnt")
        .outputMode("update")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM dupcnt").collect()
    finals = {r["first_url"]: r["n_seen"] for r in rows if r["final"]}
    live = {r["first_url"]: r["n_seen"] for r in rows if not r["final"]}
    # alpha (2 fetches) and beta evicted with their final counts
    assert finals.get("https://a/1") == 2
    assert finals.get("https://b/1") == 1
    # live updates were emitted for every key while in state
    assert live.get("https://a/1") == 2 and live.get("https://c/1") == 1


def test_streaming_near_dup_gate_flags_only_corpus_near_dups(spark, tmp_path):
    """Stream-static LSH gate: a page near-identical to an existing
    canonical rep band-collides and is flagged once; a novel page is not
    flagged; the matched_rep points at the colliding canonical."""
    import datetime

    from gencore_spark.streaming import reps_band_table, streaming_near_dup_gate

    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "sleepy badgers watch from the hedgerow in the late afternoon sun "
        "and a river murmurs past the old stone bridge beyond the orchard"
    )
    other = (
        "completely different subject matter entirely about distributed "
        "query engines shuffling partitions across executors with adaptive "
        "planning and columnar storage formats for analytical workloads"
    )
    novel = (
        "unrelated fresh content about tide pools and bioluminescent "
        "plankton drifting along the shoreline after midnight in winter "
        "storms that rearrange the sand banks every single year"
    )

    # static side: signatures of the existing corpus (batch twin of s2)
    from gencore_spark.config import DEFAULT_CONFIG
    from gencore_spark.functions.udfs import minhash_udf
    from gencore_spark.operators.exact import normalize_expr
    from pyspark.sql import functions as F

    reps = (
        spark.createDataFrame([(1, base), (2, other)], "rep_id long, text string")
        .withColumn("norm_text", normalize_expr(F.col("text")))
        .withColumn("minhash", minhash_udf(DEFAULT_CONFIG)(F.col("norm_text")))
    )
    bands = reps_band_table(reps)

    src = str(tmp_path / "src")
    chk = str(tmp_path / "chk")
    ts = datetime.datetime(2024, 1, 1, 12, 0, 0)
    arriving = spark.createDataFrame(
        [
            ("https://new/near-dup", ts, base + " qq", "en"),
            ("https://new/novel", ts, novel, "en"),
        ],
        "url string, warc_ts timestamp, text string, lang string",
    )
    arriving.coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(arriving.schema).parquet(src)
    gated = streaming_near_dup_gate(stream, bands)
    q = (
        gated.writeStream.format("memory")
        .queryName("ndgate")
        .outputMode("append")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM ndgate").collect()
    assert len(rows) == 1, rows  # exactly one flagged page, once
    assert rows[0]["url"] == "https://new/near-dup"
    assert rows[0]["matched_rep"] == 1  # collided with base, not other


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
