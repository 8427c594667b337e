"""Domain-level filtering: per-domain stats, blocklists, per-domain caps.

Every production webtext pipeline gates on the registrable domain before
any text-level work: blocklist joins (C4-style), per-domain document caps
(anti-spam — one link farm must not dominate a training mix), and
per-domain health stats for the crawl report.  The webtext analog of the
reference's per-chromosome accounting (``stats.cpp`` per-contig counters).

Scale shapes:

* ``domain_stats`` — one hash aggregation keyed on domain; distinct texts
  are counted over fixed-width digests instead of document bytes —
  two-seed ``xxhash64`` (16 bytes) by default, ``md5`` (32-byte hex) as
  the opt-in a SQL oracle can recompute.  The COUNT is digest-invariant,
  so the oracle row is green under either.
* ``domain_blocklist_filter`` — broadcast LEFT ANTI join (blocklists are
  thousands of rows; the corpus side never shuffles).
* ``domain_cap`` — the textbook two-phase distributed top-N, NOT a naive
  ``row_number() OVER (PARTITION BY domain)``: the naive window lands a
  mega-domain's every row in ONE task (and a link farm IS the case this
  operator exists for).  Phase 1 groups by ``(domain, input partition)``
  — no hot key, a mega-domain spreads over its source partitions — and
  keeps each group's local top-``cap`` ORDER KEYS via sort+slice inside
  the aggregation buffer (keys only: text never enters a buffer).  Phase
  2 windows over at most ``cap × P`` keys per domain; a final semi-join
  on the unique order key recovers the payload.  The result is identical
  (each partition's local top-cap is a superset of its contribution to
  the global top-cap).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

_DOMAIN_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/:?#]+)"


def domain_of(url: Column) -> Column:
    """Lower-cased authority host (no scheme, port, path, or query)."""
    return F.lower(F.regexp_extract(url, _DOMAIN_RE, 1))


def domain_stats(
    df: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    digest: str = "xxhash128",
) -> DataFrame:
    """Per-domain corpus health: doc count, distinct-text count, mean
    token count (6dp).  One partial-aggregable hash agg.

    ``digest`` keys the distinct-text count: ``xxhash128`` (default — a
    two-seed xxhash64 struct, 16 fixed bytes on the shuffle, collision-safe
    at 10^12 texts) or ``md5`` (32-byte hex — the value-parity form a SQL
    oracle recomputes; the count itself is identical either way, only the
    bytes moved differ, so oracle rows stay green under both)."""
    from .exact import _H2_SEED
    from .textstats import token_count

    if digest == "xxhash128":
        dg = F.struct(
            F.xxhash64(F.col(text_col)),
            F.xxhash64(F.lit(_H2_SEED), F.col(text_col)),
        )
    elif digest == "md5":
        dg = F.md5(F.col(text_col))
    else:
        raise ValueError(f"digest must be 'xxhash128' or 'md5', got {digest!r}")
    return (
        df.select(
            domain_of(F.col(url_col)).alias("domain"),
            dg.alias("__digest"),
            token_count(F.col(text_col)).alias("__tok"),
        )
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("__digest").alias("n_distinct_texts"),
            F.round(F.avg("__tok"), 6).alias("avg_tokens"),
        )
    )


def domain_blocklist_filter(
    df: DataFrame, blocked: DataFrame, url_col: str = "url"
) -> DataFrame:
    """Drop rows whose domain appears in ``blocked`` (one ``domain`` string
    column).  Broadcast anti-join: the corpus side never shuffles."""
    return (
        df.withColumn("__domain", domain_of(F.col(url_col)))
        .join(
            F.broadcast(
                blocked.select(F.col("domain").alias("__domain")).distinct()
            ),
            "__domain",
            "left_anti",
        )
        .drop("__domain")
    )


def domain_cap(
    df: DataFrame,
    cap: int,
    url_col: str = "url",
    order_col: str = "doc_id",
) -> DataFrame:
    """Keep at most ``cap`` rows per domain, the first ``cap`` in ascending
    ``order_col`` (pass e.g. a negated quality score to keep the best).

    ``order_col`` must be unique per row (doc_id is) — it is the total
    order that makes the two-phase reduction deterministic, AND the key
    that recovers the payload at the end.  Output columns = input columns.

    The reduction runs on (domain, order_col) KEYS only — the payload
    (document text) never enters an aggregation buffer: a text-heavy
    mega-domain concentrated in one input partition would otherwise
    collect its every row into a single phase-1 buffer (the memory cliff
    this keys-then-semi-join shape removes; the input is scanned twice,
    but the second scan is a cheap columnar re-read vs. buffering text).
    """
    keys = df.select(
        F.col(order_col).alias("__o"), domain_of(F.col(url_col)).alias("__domain")
    ).withColumn("__pid", F.spark_partition_id())
    # phase 1: local top-cap per (domain, source partition) — sort+slice of
    # bare order keys inside the agg buffer; a group never exceeds one
    # partition's rows, and each buffered element is one long, not a row
    local_top = keys.groupBy("__domain", "__pid").agg(
        F.slice(F.array_sort(F.collect_list("__o")), 1, cap).alias("__top")
    )
    pruned = local_top.select("__domain", F.explode("__top").alias("__o"))
    # phase 2: global top-cap over <= cap x P candidate KEYS per domain
    w = Window.partitionBy("__domain").orderBy(F.col("__o").asc())
    survivors = (
        pruned.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .select(F.col("__o").alias(order_col))
    )
    # recover the payload: order_col is unique, so a semi-join on it alone
    # is exact; survivors is <= cap x |domains| rows
    return df.join(survivors, order_col, "left_semi")
