"""Tests for training-data operators (textstats) and the LSH band join's
skew policy."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


# ----------------------------------------------------------------- textstats


def test_token_count_edges(spark):
    from gencore_spark.operators.textstats import bpe_ish_token_count, token_count

    df = spark.createDataFrame(
        [(1, "one two  three"), (2, ""), (3, "   "), (4, "a-b c3d!")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: (r["t"], r["p"])
        for r in df.select(
            "doc_id",
            token_count(F.col("text")).alias("t"),
            bpe_ish_token_count(F.col("text")).alias("p"),
        ).collect()
    }
    assert rows[1] == (3, 3)
    assert rows[2][0] == 0 and rows[3][0] == 0
    # "a-b c3d!" → pieces: a,-,b,c,3,d,! = 7
    assert rows[4] == (2, 7)


def test_quality_score_orders_garbage_below_prose(spark):
    from gencore_spark.operators.textstats import quality_score

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog and runs away home"),
            (2, "1,2,3!!! 4;5;6??? 789.0,,,111:222!333"),
        ],
        "doc_id long, text string",
    )
    q = {r["doc_id"]: r["quality"] for r in quality_score(df).collect()}
    assert q[1] > q[2]


def test_lang_id_heuristic(spark):
    from gencore_spark.operators.textstats import lang_id

    df = spark.createDataFrame(
        [
            (1, "the cat and the dog went to the market with a plan"),
            (2, "der hund und die katze sind nicht mit dem mann"),
            (3, "le chat et le chien est que pour la maison"),
            (4, "zzz qqq xxx"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["lang_pred"] for r in lang_id(df).collect()}
    assert out == {1: "en", 2: "de", 3: "fr", 4: "und"}


def test_fingerprint_deterministic(spark, docs):
    from gencore_spark.operators.textstats import fingerprint_udf

    a = docs.select("doc_id", fingerprint_udf(8)(F.col("text")).alias("fp"))
    b = docs.select("doc_id", fingerprint_udf(8)(F.col("text")).alias("fp"))
    assert a.exceptAll(b).count() == 0
    assert a.filter(F.col("fp") == 0).count() == 0


# ------------------------------------------------------- LSH skew policy


def test_heterogeneous_mega_bucket_keeps_recall(spark, tmp_path):
    """Two planted near-dup groups sharing heavy boilerplate collide in the
    same (capped) LSH buckets; every bucket exceeds the cap.  Anchor-star
    alone would orphan the group whose members sort after the other
    group's anchor (its edges to that anchor fail verification) — the
    chain edges must keep BOTH groups internally connected, and
    verification must keep them separate.  Runs ``dedup_pages`` end to
    end and reads each page's cluster back from the stage snapshots."""
    import datetime

    import numpy as np

    from gencore_spark import dedup_pages
    from gencore_spark.config import DedupConfig

    rng = np.random.default_rng(3)
    vocab = [f"w{i:04d}" for i in range(2000)]
    boiler = " ".join(rng.choice(vocab, 110))
    bases = [" ".join(rng.choice(vocab, 45)) for _ in range(2)]
    ts = datetime.datetime(2024, 1, 1)
    rows = []
    for g, base_id in ((0, 0), (1, 1000)):
        toks = (boiler + " " + bases[g]).split()
        for m in range(30):
            t = list(toks)
            for _ in range(2):  # ~2 token edits per member
                t[int(rng.integers(0, len(t)))] = str(rng.choice(vocab))
            text = " ".join(t)
            rows.append((f"https://g.org/{base_id + m}", ts, None, text, "en"))
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    workdir = str(tmp_path / "work")
    dedup_pages(spark, pages, workdir, DedupConfig(bucket_size_cap=8))
    docs = spark.read.parquet(f"{workdir}/s1_docs")
    reps = spark.read.parquet(f"{workdir}/s2_reps")
    cc = spark.read.parquet(f"{workdir}/s4_cc")
    out = {
        r["url"]: r["c"]
        for r in docs.join(reps, ["text_hash", "text_hash2"])
        .join(cc, "rep_id", "left")
        .select("url", F.coalesce("cluster_id", "rep_id").alias("c"))
        .collect()
    }
    a = [out[f"https://g.org/{i}"] for i in range(30)]
    b = [out[f"https://g.org/{1000 + i}"] for i in range(30)]
    # within-group pair recall >= 0.99 → each group is one component
    assert len(set(a)) == 1, f"group A split into {len(set(a))} clusters"
    assert len(set(b)) == 1, f"group B split into {len(set(b))} clusters"
    # and the groups did NOT merge (verification separates them)
    assert set(a) != set(b)


def test_mega_bucket_chain_is_salted_and_bounded(spark):
    """A single 50k-member bucket (cap 64) must NOT sort in one window
    task: the chain is salted into ~cap-sized sub-groups (one small sort
    each), evidenced by (a) the chain window partitioning on chain_salt in
    the plan and (b) the chain contributing ~n - ceil(n/cap) edges (one
    unsalted chain would contribute n-1)."""
    from pyspark.sql import functions as F

    from gencore_spark.operators.lsh import bucketed_pairs
    from gencore_spark.plans.inspect import explain_str

    n, cap = 50_000, 64
    exploded = spark.range(n).select(
        F.lit(0).alias("b"), F.col("id").alias("rep_id")
    )
    edges, stats = bucketed_pairs(exploded, ["b"], cap)
    plan = explain_str(edges)
    assert "chain_salt" in plan, "chain window no longer salted"
    total = edges.count()
    srow = stats.collect()[0]
    stats.unpersist()
    assert srow["bucket_size"] == n and bool(srow["capped"])
    # star = n-1 edges; salted chain = n - (#non-empty sub-groups);
    # overlap between the two sets is at most a few edges
    n_sub = -(-n // cap)  # 782
    non_anchor = edges.filter((F.col("id_a") != 0) & (F.col("id_b") != 0)).count()
    assert n - n_sub - 5 <= non_anchor <= n - n_sub + 5, (
        f"chain edge count {non_anchor} suggests "
        f"{'one unsalted chain' if non_anchor > n - 100 else 'broken chains'}"
    )
    assert n - 1 <= total <= 2 * n


def test_bucketed_pairs_never_self_pairs(spark):
    """An id listed twice in one small bucket must not pair with itself:
    the edges are distinct (id_a < id_b) pairs."""
    from gencore_spark.operators.lsh import bucketed_pairs

    exploded = spark.createDataFrame(
        [(1, "b"), (1, "b"), (2, "b")], "rep_id long, b string"
    )
    edges, stats = bucketed_pairs(exploded, ["b"], 64)
    got = sorted(map(tuple, edges.collect()))
    stats.unpersist()
    assert got == [(1, 2)]


def test_repetition_signals_constructed(spark):
    """Gopher-style repetition features on hand-computable docs."""
    from gencore_spark.operators.textstats import repetition_signals

    docs = spark.createDataFrame(
        [
            # 6 words, trigrams: 4 total / "a b a","b a b","a b a","b a b"
            # -> 2 distinct -> dup_trigram 0.5; bigrams: a b x3, b a x2
            # -> top_bigram 3/5
            (0, "a b a b a b"),
            # all-distinct words: no repeats at all
            (1, "one two three four five"),
            (2, ""),          # empty -> both 0
            (3, "solo"),      # 1 word -> no bigrams/trigrams -> both 0
            (4, "x y"),       # 1 bigram -> top_bigram 1.0, trigram 0
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in repetition_signals(docs).collect()}
    assert got[0]["dup_trigram_frac"] == 0.5
    assert got[0]["top_bigram_frac"] == 0.6
    assert got[1]["dup_trigram_frac"] == 0.0
    # 4 distinct bigrams, each once -> modal share 1/4
    assert got[1]["top_bigram_frac"] == 0.25
    for d in (2, 3):
        assert got[d]["dup_trigram_frac"] == 0.0
        assert got[d]["top_bigram_frac"] == 0.0
    assert got[4]["dup_trigram_frac"] == 0.0
    assert got[4]["top_bigram_frac"] == 1.0


def test_duplicate_passage_frac_constructed(spark):
    """Corpus-wide dup-passage fraction with a planted shared passage."""
    from gencore_spark.operators.textstats import duplicate_passage_frac

    shared = "w1 w2 w3 w4 w5 w6 w7 w8"          # exactly one 8-gram
    docs = spark.createDataFrame(
        [
            (0, shared + " tailA0 tailA1"),      # 3 grams, 1 shared
            (1, shared),                          # 1 gram, shared
            (2, "u1 u2 u3 u4 u5 u6 u7 u8 u9"),   # 2 grams, unique
            (3, "short doc"),                     # < 8 words -> 0 grams
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in duplicate_passage_frac(docs, n=8).collect()}
    assert (got[0]["n_grams"], got[0]["dup_passage_frac"]) == (3, round(1 / 3, 6))
    assert (got[1]["n_grams"], got[1]["dup_passage_frac"]) == (1, 1.0)
    assert (got[2]["n_grams"], got[2]["dup_passage_frac"]) == (2, 0.0)
    assert (got[3]["n_grams"], got[3]["dup_passage_frac"]) == (0, 0.0)


def test_repetition_signals_plan_is_jvm_only(spark):
    """No Python/Arrow eval in either new signal — pure JVM plans."""
    from gencore_spark.operators.textstats import (
        duplicate_passage_frac,
        repetition_signals,
    )

    docs = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    for df in (repetition_signals(docs), duplicate_passage_frac(docs)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEval" not in plan and "BatchEval" not in plan
