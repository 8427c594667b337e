"""Line-level dedup (CCNet-style, across and within documents) and URL
canonicalization/refetch collapse."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gencore_spark.functions.urlnorm import canonical_url, with_canonical_url
from gencore_spark.operators.lines import intradoc_line_dedup, line_dedup
from gencore_spark.operators.urldedup import url_dedup


def test_line_dedup_constructed(spark):
    boiler = "Accept cookies"
    footer = "(c) example.org"
    docs = spark.createDataFrame(
        [
            (0, f"{boiler}\nunique zero\n\n{footer}"),
            (1, f"{boiler}\nunique one\n{footer}"),
            # doc-internal repeat of its own unique line: NOT corpus-dup
            (2, f"{boiler}\nonly mine\nonly mine"),
            # all lines boilerplate -> empty doc survives as a row
            (3, f"{boiler}\n{footer}"),
            # whitespace-only text -> zero lines
            (4, "   \n  "),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in line_dedup(docs).collect()}
    assert len(got) == 5
    assert got[0]["text_dedup"] == "unique zero"
    assert (got[0]["n_lines"], got[0]["n_removed"]) == (3, 2)  # empty line dropped
    assert got[1]["text_dedup"] == "unique one"
    # internal repetition preserved, order preserved
    assert got[2]["text_dedup"] == "only mine\nonly mine"
    assert (got[2]["n_lines"], got[2]["n_removed"]) == (3, 1)
    assert got[3]["text_dedup"] == ""
    assert (got[3]["n_lines"], got[3]["n_removed"]) == (2, 2)
    assert (got[4]["text_dedup"], got[4]["n_lines"], got[4]["n_removed"]) == ("", 0, 0)


def test_line_dedup_trim_keyed(spark):
    """Indented and flush copies of a line are the same dup key, but the
    doc keeps its original (untrimmed) spelling of surviving lines."""
    docs = spark.createDataFrame(
        [(0, "  menu  \nkeep me"), (1, "menu\nother")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["text_dedup"] for r in line_dedup(docs).collect()}
    assert got == {0: "keep me", 1: "other"}


def test_line_dedup_threshold(spark):
    docs = spark.createDataFrame(
        [(0, "shared\na"), (1, "shared\nb"), (2, "shared\nc")],
        "doc_id long, text string",
    )
    # at min_dup_docs=4 nothing is corpus-duplicated
    kept = line_dedup(docs, min_dup_docs=4)
    assert kept.agg(F.sum("n_removed")).collect()[0][0] == 0


def test_line_dedup_plan_is_jvm_only(spark):
    docs = spark.createDataFrame([(0, "a\nb")], "doc_id long, text string")
    plan = line_dedup(docs)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEval" not in plan and "BatchEval" not in plan


def test_intradoc_line_dedup_constructed(spark):
    docs = spark.createDataFrame(
        [
            # promo brackets the body, body line doubled
            (0, "Buy now!\nreal content A\nBuy now!\nreal content A\nend"),
            # indented repeat folds onto the flush first occurrence (trim
            # key), but the ORIGINAL spelling of the first survives
            (1, "  menu  \nmenu\nbody"),
            # no repeats -> unchanged (empty line dropped)
            (2, "one\n\ntwo"),
            # whitespace-only doc survives as an empty row
            (3, " \n  "),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in intradoc_line_dedup(docs).collect()}
    assert got[0]["text_dedup"] == "Buy now!\nreal content A\nend"
    assert (got[0]["n_lines"], got[0]["n_removed"]) == (5, 2)
    assert got[1]["text_dedup"] == "  menu  \nbody"
    assert (got[1]["n_lines"], got[1]["n_removed"]) == (3, 1)
    assert got[2]["text_dedup"] == "one\ntwo"
    assert (got[2]["n_lines"], got[2]["n_removed"]) == (2, 0)
    assert (got[3]["text_dedup"], got[3]["n_lines"], got[3]["n_removed"]) == ("", 0, 0)


def test_intradoc_line_dedup_is_per_document(spark):
    """A line shared ACROSS docs is untouched — that is line_dedup's job."""
    docs = spark.createDataFrame(
        [(0, "shared\nmine"), (1, "shared\nyours")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["text_dedup"] for r in intradoc_line_dedup(docs).collect()}
    assert got == {0: "shared\nmine", 1: "shared\nyours"}


CANON_CASES = [
    # fragment
    ("https://ex.org/p#sec-2", "https://ex.org/p"),
    # case: scheme+host lowered, path/query untouched
    ("HTTPS://EX.org/Path?Q=Vv", "https://ex.org/Path?Q=Vv"),
    # default ports stripped; non-default kept
    ("http://ex.org:80/a", "http://ex.org/a"),
    ("https://ex.org:443/a", "https://ex.org/a"),
    ("http://ex.org:8080/a", "http://ex.org:8080/a"),
    ("https://ex.org:80/a", "https://ex.org:80/a"),  # 80 is not https default
    # tracking params dropped, order of the rest preserved
    (
        "https://ex.org/a?utm_source=tw&id=3&fbclid=xyz&b=2",
        "https://ex.org/a?id=3&b=2",
    ),
    # all params tracking -> '?' dropped too
    ("https://ex.org/a?utm_campaign=x&gclid=1", "https://ex.org/a"),
    ("https://ex.org/a?gclid", "https://ex.org/a"),
    # bare host, no path
    ("HTTP://Ex.Org:80", "http://ex.org"),
    # empty params collapse
    ("https://ex.org/a?&&id=1&", "https://ex.org/a?id=1"),
    # msclkid dropped; a param merely PREFIXED utm-like name caught only
    # for the utm_ family (utm_x=1 dropped, autumn=1 kept)
    ("https://ex.org/a?msclkid=5&autumn=1&utm_x=1", "https://ex.org/a?autumn=1"),
]


@pytest.mark.parametrize("raw,want", CANON_CASES)
def test_canonical_url_golden(spark, raw, want):
    got = (
        spark.range(1)
        .select(canonical_url(F.lit(raw)).alias("c"))
        .collect()[0]["c"]
    )
    assert got == want, f"{raw!r} -> {got!r}, want {want!r}"


def test_url_dedup_keeps_latest_deterministically(spark):
    rows = [
        # three spellings of one resource; latest ts must win
        ("https://ex.org/a?utm_source=x", "2024-01-01 00:00:00", "old"),
        ("https://EX.org/a#frag", "2024-01-03 00:00:00", "new"),
        ("https://ex.org/a", "2024-01-02 00:00:00", "mid"),
        # tie on ts: ascending raw url wins -> the '#frag' spelling
        ("https://ex.org/b", "2024-02-01 00:00:00", "tie-b2"),
        ("https://ex.org/b#x", "2024-02-01 00:00:00", "tie-b1"),
        # distinct resource survives independently
        ("https://ex.org/c", "2024-01-01 00:00:00", "c"),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts string, tag string")
    df = df.withColumn("warc_ts", F.to_timestamp("warc_ts"))
    got = {r["canonical_url"]: r for r in url_dedup(df).collect()}
    assert set(got) == {"https://ex.org/a", "https://ex.org/b", "https://ex.org/c"}
    assert got["https://ex.org/a"]["tag"] == "new"
    # ts tie: ascending raw url — '.../b' is a strict prefix of '.../b#x'
    assert got["https://ex.org/b"]["tag"] == "tie-b2"
    assert got["https://ex.org/c"]["tag"] == "c"


def test_url_dedup_is_partial_aggregable(spark):
    """No window: the collapse must keep a map-side partial aggregate, so
    a hot URL with millions of refetches reduces inside every input
    partition before the shuffle (struct-typed min falls to SortAggregate
    — sort-based buffers, but still partial+final)."""
    df = spark.createDataFrame(
        [("https://ex.org/a", "2024-01-01 00:00:00", "x")],
        "url string, warc_ts string, tag string",
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    plan = url_dedup(df)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "partial_min" in plan


@pytest.mark.parametrize("raw,want", CANON_CASES)
def test_with_canonical_url_matches_column_form(spark, raw, want):
    # the staged (attribute-bound) twin must stay byte-identical to the
    # Column form on every golden case
    df = spark.range(1).select(F.lit(raw).alias("url"))
    got = with_canonical_url(df).collect()[0]["canonical_url"]
    assert got == want, f"{raw!r} -> {got!r}, want {want!r}"


def test_with_canonical_url_single_regex_pass(spark):
    # the staged form exists to bound interpreted re-evaluation: the
    # de-fragment regex must appear exactly ONCE in the optimized plan.
    # (If CollapseProject ever starts inlining the multiply-referenced
    # __cu_u alias, it would appear twice — the regression this pins.)
    # Input is built from range(id) so constant folding cannot erase it.
    df = spark.range(4).select(
        F.concat(
            F.lit("https://EX.org:443/a?utm_x=1&id="),
            F.col("id").cast("string"),
            F.lit("#frag"),
        ).alias("url")
    )
    out = with_canonical_url(df)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("#.*") == 1, plan
    rows = sorted(r["canonical_url"] for r in out.collect())
    assert rows[0] == "https://ex.org/a?id=0"


def test_with_canonical_url_matches_column_form_randomized(spark):
    # 300 adversarial-ish URLs built from a deterministic generator:
    # random case, optional ports, fragments, tracking/empty/kept params
    import random

    rng = random.Random(42)
    schemes = ["http", "HTTP", "https", "HTTPS"]
    hosts = ["Ex.Org", "a.b.c.example.COM", "xn--bcher-kva.ch", "127.0.0.1"]
    ports = ["", ":80", ":443", ":8080", ":8443"]
    paths = ["", "/", "/A/b/C", "/p?not=a&real?q", "/%7Euser/x.y"]
    params = ["utm_source=x", "utm_x", "fbclid=1", "gclid", "msclkid=5",
              "id=3", "b=2", "", "autumn=1", "Q=Vv", "a=b=c", "&"]
    frags = ["", "#top", "#sec-2", "##x"]
    urls = []
    for _ in range(300):
        q = "&".join(rng.sample(params, rng.randint(0, 5)))
        urls.append(
            rng.choice(schemes) + "://" + rng.choice(hosts) + rng.choice(ports)
            + rng.choice(paths) + (("?" + q) if q else "") + rng.choice(frags)
        )
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    both = with_canonical_url(df).select(
        "url", "canonical_url", canonical_url(F.col("url")).alias("col_form")
    ).collect()
    bad = [(r["url"], r["canonical_url"], r["col_form"])
           for r in both if r["canonical_url"] != r["col_form"]]
    assert not bad, f"{len(bad)} divergences, first: {bad[:3]}"


def test_url_dedup_keep_first(spark):
    from gencore_spark.operators.urldedup import url_dedup

    rows = [
        (1, "https://ex.org/a", "2024-01-01 00:00:00"),
        (2, "https://ex.org/a?utm_x=1", "2024-03-01 00:00:00"),  # later recrawl
        (3, "https://ex.org/b", "2024-02-01 00:00:00"),
    ]
    d = spark.createDataFrame(
        rows, "doc_id long, url string, warc_ts string"
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    latest = {r["canonical_url"]: r["doc_id"] for r in url_dedup(d).collect()}
    first = {r["canonical_url"]: r["doc_id"] for r in url_dedup(d, keep="first").collect()}
    assert latest["https://ex.org/a"] == 2
    assert first["https://ex.org/a"] == 1
    assert latest["https://ex.org/b"] == first["https://ex.org/b"] == 3
    import pytest as _pytest
    with _pytest.raises(ValueError):
        url_dedup(d, keep="newest")
