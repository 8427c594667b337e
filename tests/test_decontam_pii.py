"""Tests for decontamination and vocabulary operators."""

from pyspark.sql import functions as F


EVAL_TEXT = "alpha beta gamma delta epsilon zeta eta theta"  # exactly 8 words


def _docs(spark):
    return spark.createDataFrame(
        [
            # shares the full eval 8-gram mid-document -> contaminated
            (1, "intro words then " + EVAL_TEXT + " trailing tail"),
            # shares only a 7-word prefix of it -> clean
            (2, "alpha beta gamma delta epsilon zeta eta iota kappa"),
            # shorter than 8 words -> structurally clean
            (3, "too short to have any gram"),
            # the eval doc itself -> trivially contaminated (1 hit)
            (4, EVAL_TEXT),
        ],
        "doc_id long, text string",
    )


def test_contamination_flags_planted(spark):
    from gencore_spark.operators.decontam import contamination_flags

    docs = _docs(spark)
    eval_docs = docs.filter(F.col("doc_id") == 4)
    got = {
        r["doc_id"]: (r["n_hits"], r["contaminated"])
        for r in contamination_flags(docs, eval_docs, n=8).collect()
    }
    assert got == {1: (1, True), 2: (0, False), 3: (0, False), 4: (1, True)}


def test_decontaminate_drops_only_flagged(spark):
    from gencore_spark.operators.decontam import decontaminate

    docs = _docs(spark)
    eval_docs = docs.filter(F.col("doc_id") == 4)
    kept = sorted(
        r["doc_id"] for r in decontaminate(docs, eval_docs, n=8).collect()
    )
    assert kept == [2, 3]


def test_contamination_join_is_broadcast(spark):
    """The corpus side must never shuffle: the gram membership test has to
    be a broadcast hash join (the eval side is the small dimension)."""
    from gencore_spark.operators.decontam import contamination_flags

    docs = _docs(spark)
    eval_docs = docs.filter(F.col("doc_id") == 4)
    plan = contamination_flags(docs, eval_docs, n=8)._jdf.queryExecution(
    ).executedPlan().toString()
    # gram membership AND flag attach are both broadcast: the corpus side
    # never shuffles (the only Exchange feeds the small hits aggregation)
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_vocab_topk_order_and_ties(spark):
    from gencore_spark.operators.textstats import vocab_topk

    df = spark.createDataFrame(
        [(1, "b b b a a c"), (2, " c  a "), (3, "")],
        "doc_id long, text string",
    )
    rows = vocab_topk(df, k=2).collect()
    # a and b tie at 3 occurrences -> word asc breaks the tie; c (2) cut
    assert [(r["word"], r["n_occurrences"]) for r in rows] == [("a", 3), ("b", 3)]
