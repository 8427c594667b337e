"""Driver contract for the gencore_spark dedup engine (PySpark target).

``entry(spark)`` — the flagship ``pages_dedup_e2e`` row at sf0.001.
``queries()`` — the registered rows; each callable (spark, sf_dir) →
DataFrame.  Every row runs the dedup path (``dedup_pages``,
``dedup_pages_incremental`` or their CC stage).
``oracle_sql()`` — the DuckDB twin of every row (same column names and
aliases; floats rounded identically on both sides).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _e2e_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pages-shaped corpus from ``documents`` for the flagship
    e2e oracle (BASELINE.json input_hint columns: url, warc_ts, html, text,
    lang).  Variants per doc:

    * original     https://ex.org/d{id}       (text as-is)
    * mirror       http://www.ex.org/d{id}    (identical text — the duplex
      url-forms analog; folds to the same mirror key as the original)
    * 3rd fetch    https://c2.ex.org/d{id}    (identical text, id % 3 == 0)
    * near-dup     https://nd.ex.org/d{id}    (text + ' qq', id % 5 == 0;
      char-shingle J >= 0.86 at the corpus' minimum text length)
    """
    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")

    def page(src, url_prefix, ts_off, text_expr):
        return src.select(
            F.concat(
                F.lit(url_prefix), F.lit("ex.org/d"), F.col("doc_id").cast("string")
            ).alias("url"),
            F.timestamp_seconds(
                F.lit(1_700_000_000) + F.col("doc_id") + F.lit(ts_off)
            ).alias("warc_ts"),
            F.encode(text_expr, "utf-8").alias("html"),
            text_expr.alias("text"),
            F.col("lang"),
        )

    orig = page(d, "https://", 0, F.col("text"))
    mirror = page(d, "http://www.", 1, F.col("text"))
    extra = page(d.filter(F.col("doc_id") % 3 == 0), "https://c2.", 2, F.col("text"))
    neardup = page(
        d.filter(F.col("doc_id") % 5 == 0), "https://nd.", 3,
        F.concat(F.col("text"), F.lit(" qq")),
    )
    return orig.unionByName(mirror).unionByName(extra).unionByName(neardup)


# --------------------------------------------------------------------------
# entry: flagship query
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the ``pages_dedup_e2e`` row on sf0.001 — ``dedup_pages``
    end to end (exact prepass → MinHash/LSH → verify → CC → consensus
    vote), checked by the same DuckDB oracle."""
    return queries()["pages_dedup_e2e"](spark, "/root/testdata/sf0.001")


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---- connected components (SURVEY §2 A2) ----

    def connected_components_q(spark, sf_dir):
        from gencore_spark.operators.components import connected_components

        li = _t(spark, sf_dir, "lineitem")
        edges = (
            li.filter(F.col("l_orderkey") % 100 == 0)
            .select(
                F.col("l_orderkey").alias("id_a"),
                (F.col("l_partkey") + 1_000_000).alias("id_b"),
            )
            .distinct()
        )
        return connected_components(edges).select(
            F.col("rep_id").alias("node"), "cluster_id"
        )

    q["connected_components"] = connected_components_q

    # ---- the two entry points end to end ----

    def pages_dedup_e2e(spark, sf_dir):
        # Flagship end-to-end: the FULL pipeline (normalize → exact prepass
        # → signatures → LSH → verify → CC → consensus vote) over a
        # pages-shaped corpus derived deterministically from ``documents``:
        # every doc appears under its canonical url AND an http/www mirror
        # url (identical text), every 3rd doc gets a third fetch, every 5th
        # doc gets a near-duplicate variant (text + ' qq', J >= 0.86 — above
        # every probabilistic gate's safe zone, see oracle comment).  The
        # projection excludes hash-valued columns (doc_id/cluster_id are
        # xxhash64-keyed; DuckDB cannot reproduce them) — cluster structure
        # is pinned through (fr, rr, n_variants, vote_ratio) per canonical.
        import tempfile

        from gencore_spark import dedup_pages

        pages = _e2e_pages(spark, sf_dir)
        # the row is pinned (eager localCheckpoint) before the snapshot
        # dir it reads goes away with the ``with``
        with tempfile.TemporaryDirectory(prefix="gencore_e2e_") as workdir:
            out = dedup_pages(spark, pages, workdir)
            return out.select(
                "url", "text", "lang", "fr", "rr", "n_variants",
                "vote_ratio", "low_confidence",
            ).localCheckpoint()

    q["pages_dedup_e2e"] = pages_dedup_e2e

    def pages_dedup_incremental_e2e(spark, sf_dir):
        # Incremental consolidation (gencore_spark.delta): bootstrap the
        # state on ~3/4 of the e2e corpus, merge the remaining quarter with
        # dedup_pages_incremental, and return the SAME projection as
        # pages_dedup_e2e — so the SAME first-principles DuckDB SQL is the
        # oracle.  What this pins: the incremental path (delta-only
        # signatures, touched-bucket candidates, contraction-warm-started
        # CC, affected-cluster re-vote + carry-over) must be
        # indistinguishable from a full recompute on the union corpus.
        # The corpus has no capped buckets (documents-derived, no mega
        # template), so equality is structural, not probabilistic — see
        # delta.py's module docstring for the capped-bucket caveat.
        import tempfile

        from pyspark.sql import functions as SF

        from gencore_spark import dedup_pages, dedup_pages_incremental

        pages = _e2e_pages(spark, sf_dir)
        keyed = pages.withColumn(
            "_h", SF.pmod(SF.xxhash64("url", "warc_ts"), SF.lit(4))
        )
        base = keyed.filter(SF.col("_h") != 0).drop("_h")
        delta = keyed.filter(SF.col("_h") == 0).drop("_h")
        with tempfile.TemporaryDirectory(prefix="gencore_inc_base_") as state, \
                tempfile.TemporaryDirectory(prefix="gencore_inc_out_") as out_dir:
            dedup_pages(spark, base, state)
            out = dedup_pages_incremental(spark, delta, state, out_dir)
            return out.select(
                "url", "text", "lang", "fr", "rr", "n_variants",
                "vote_ratio", "low_confidence",
            ).localCheckpoint()

    q["pages_dedup_incremental_e2e"] = pages_dedup_incremental_e2e

    def pages_dedup_fixture_e2e(spark, sf_dir):
        # The seeded fixture corpus (planted skew/exact/near/mirror/unique
        # structure at higher dup density than the documents-derived e2e).
        # Oracle'd via the closed-form ground truth: the full pipeline runs,
        # canonicals join back to the generator's truth sidecar on
        # (url, warc_ts), and the per-kind summary must equal
        # _FIXTURE_E2E_EXPECTED — which tests/test_fixture_oracle.py
        # recomputes from first principles (exact all-pairs char-5-shingle
        # Jaccard >= 0.7 + the LCS gate + union-find + the vote/mirror
        # accounting), independent of the engine.  At n=1000 the planted
        # truth, the first-principles clustering, and the engine agree
        # exactly (no pair sits in the margin gap [0.681, 0.712) around
        # the 0.7 threshold — pinned by the same test).
        import tempfile

        from gencore_spark import dedup_pages
        from gencore_spark.fixtures import PAGES_COLUMNS, pages_with_truth

        full, _spec = pages_with_truth(spark, _FIXTURE_E2E_N)
        truth = full.select("url", "warc_ts", "dup_kind")
        with tempfile.TemporaryDirectory(prefix="gencore_e2e_") as workdir:
            out = dedup_pages(spark, full.select(*PAGES_COLUMNS), workdir)
            return (
                out.join(truth, ["url", "warc_ts"])
                .groupBy("dup_kind")
                .agg(
                    F.count(F.lit(1)).alias("n_clusters"),
                    F.sum("fr").alias("n_docs"),
                    F.sum("rr").alias("sum_rr"),
                    F.sum(F.col("low_confidence").cast("int")).alias("n_low_conf"),
                )
                .localCheckpoint()
            )

    q["pages_dedup_fixture_e2e"] = pages_dedup_fixture_e2e

    return q


# Closed-form ground truth of the n=1000 seed-42 fixture corpus, per
# dup_kind: (n_clusters, n_docs = sum fr, sum_rr, n_low_confidence).
# Derivation (pinned by tests/test_fixture_oracle.py, which recomputes all
# of it from first principles without the engine):
#
# * layout: skew 150 | exact 100 | near 150 | mirror 60 | unique 540;
# * skew — one boilerplate cluster of all 150 members (every pair differs
#   by <=2 tokens), 150 distinct texts -> vote_ratio 1/150 -> low_conf;
# * exact — 31 groups (sizes cycle _EXACT_SIZES over 100 docs; the last
#   group is truncated), single text each -> ratio 1.0;
# * near — 51 groups (cycle _NEAR_SIZES over 150; last group truncates to a
#   singleton, hence 50 low_conf, not 51); refetch groups (gid%3==0) share
#   ONE url so their members fold to one mirror key -> sum_rr 26;
# * mirror — 30 https/http pairs, identical text, same mirror key -> rr 1
#   each; ratio 1.0;
# * unique — 540 singletons.
_FIXTURE_E2E_N = 1000
_FIXTURE_E2E_EXPECTED = [
    # (dup_kind, n_clusters, n_docs, sum_rr, n_low_conf)
    ("exact", 31, 100, 0, 0),
    ("mirror", 30, 60, 30, 0),
    ("near", 51, 150, 26, 50),
    ("skew", 1, 150, 0, 1),
    ("unique", 540, 540, 0, 0),
]


# --------------------------------------------------------------------------
# oracle SQL (DuckDB dialect, same aliases)
# --------------------------------------------------------------------------

def oracle_sql() -> dict[str, str]:
    fixture_vals = ", ".join(
        f"('{k}', {c}, {d}, {r}, {l})" for k, c, d, r, l in _FIXTURE_E2E_EXPECTED
    )
    sql = {
        # Literal closed-form truth of the seeded fixture corpus (see
        # _FIXTURE_E2E_EXPECTED for the derivation and the first-principles
        # pytest that pins these constants independent of the engine).
        "pages_dedup_fixture_e2e": f"""
            SELECT dup_kind,
                   CAST(n_clusters AS BIGINT) AS n_clusters,
                   CAST(n_docs AS BIGINT) AS n_docs,
                   CAST(sum_rr AS BIGINT) AS sum_rr,
                   CAST(n_low_conf AS BIGINT) AS n_low_conf
            FROM (VALUES {fixture_vals})
                 t(dup_kind, n_clusters, n_docs, sum_rr, n_low_conf)
        """,
        "connected_components": """
            WITH RECURSIVE
            edges AS (
              SELECT DISTINCT l_orderkey AS a, l_partkey + 1000000 AS b
              FROM lineitem WHERE l_orderkey % 100 = 0
            ),
            sym AS (SELECT a, b FROM edges
                    UNION SELECT b, a FROM edges),
            nodes AS (SELECT DISTINCT a AS node FROM sym),
            walk(node, label) AS (
              SELECT node, node FROM nodes
              UNION
              SELECT s.a, w.label FROM sym s JOIN walk w ON s.b = w.node
              WHERE w.label < s.a
            )
            SELECT node, min(label) AS cluster_id FROM walk GROUP BY node
        """,
        # Flagship e2e oracle: the whole pipeline (exact prepass → near-dup
        # clustering → consensus election with mirror/rr accounting) over
        # the _e2e_pages corpus, recomputed from first principles: exact
        # all-pairs char-5-shingle Jaccard over distinct normalized texts,
        # recursive-CTE connected components, then the election ladder
        # (votes desc → containment desc → shorter raw text).  Validity
        # rests on measured margins of this corpus (pinned by
        # tests/test_entry_oracles.py): every true pair has J >= 0.86 and
        # simhash hamming <= 9 (gates cannot flip a decision: the MinHash
        # 3-sigma pre-gate sits at 0.659, the hamming gate at 16, LCS is
        # skipped at J >= 0.85, and no pair lies in [0.5, 0.86)), and no
        # election tie survives past the text-length rung (the next rung is
        # xxhash64 order, which SQL cannot reproduce — the pytest asserts
        # the corpus never reaches it).
        "pages_dedup_e2e": r"""
            WITH RECURSIVE
            texts AS (
              SELECT doc_id * 2 AS rid, text FROM documents
              UNION ALL
              SELECT doc_id * 2 + 1, text || ' qq' FROM documents
              WHERE doc_id % 5 = 0
            ),
            pg AS (
              SELECT 'https://ex.org/d' || CAST(doc_id AS VARCHAR) AS url,
                     text, lang, doc_id * 2 AS rid FROM documents
              UNION ALL
              SELECT 'http://www.ex.org/d' || CAST(doc_id AS VARCHAR),
                     text, lang, doc_id * 2 FROM documents
              UNION ALL
              SELECT 'https://c2.ex.org/d' || CAST(doc_id AS VARCHAR),
                     text, lang, doc_id * 2 FROM documents WHERE doc_id % 3 = 0
              UNION ALL
              SELECT 'https://nd.ex.org/d' || CAST(doc_id AS VARCHAR),
                     text || ' qq', lang, doc_id * 2 + 1 FROM documents
              WHERE doc_id % 5 = 0
            ),
            norm AS (SELECT rid,
                            trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
                     FROM texts),
            sh AS (
              SELECT DISTINCT rid, substring(nt, CAST(i AS INT), 5) AS g
              FROM norm, LATERAL unnest(range(1, greatest(length(nt) - 3, 2))) t(i)
            ),
            sizes AS (SELECT rid, count(*) AS n FROM sh GROUP BY rid),
            inter AS (
              SELECT a.rid AS ia, b.rid AS ib, count(*) AS m
              FROM sh a JOIN sh b ON a.g = b.g AND a.rid < b.rid
              GROUP BY 1, 2
            ),
            pairs AS (
              SELECT ia, ib, m, sa.n AS na, sb.n AS nb
              FROM inter
              JOIN sizes sa ON sa.rid = ia JOIN sizes sb ON sb.rid = ib
              WHERE m * 1.0 / (sa.n + sb.n - m) >= 0.7
            ),
            cont AS (
              SELECT rid, max(c) AS containment FROM (
                SELECT ia AS rid, m * 1.0 / na AS c FROM pairs
                UNION ALL SELECT ib, m * 1.0 / nb FROM pairs
              ) GROUP BY rid
            ),
            sym AS (SELECT ia AS a, ib AS b FROM pairs
                    UNION SELECT ib, ia FROM pairs),
            nodes AS (SELECT DISTINCT a AS node FROM sym),
            walk(node, label) AS (
              SELECT node, node FROM nodes
              UNION
              SELECT s.a, w.label FROM sym s JOIN walk w ON s.b = w.node
              WHERE w.label < s.a
            ),
            comp AS (SELECT node, min(label) AS cid FROM walk GROUP BY node),
            members AS (
              SELECT pg.url, pg.text, pg.lang, pg.rid,
                     coalesce(c.cid, pg.rid) AS cid
              FROM pg LEFT JOIN comp c ON c.node = pg.rid
            ),
            votes AS (SELECT cid, rid, count(*) AS votes
                      FROM members GROUP BY cid, rid),
            stats AS (SELECT cid, count(*) AS fr,
                             count(DISTINCT rid) AS n_variants
                      FROM members GROUP BY cid),
            winner AS (
              SELECT cid, rid, votes FROM (
                SELECT v.cid, v.rid, v.votes,
                       row_number() OVER (
                         PARTITION BY v.cid
                         ORDER BY v.votes DESC,
                                  coalesce(ct.containment, 0.0) DESC,
                                  length(t.text) ASC, t.text ASC) AS rn
                FROM votes v
                JOIN texts t ON t.rid = v.rid
                LEFT JOIN cont ct ON ct.rid = v.rid
              ) WHERE rn = 1
            ),
            canon AS (
              SELECT m.cid, min(m.url) AS url FROM members m
              JOIN winner w ON w.cid = m.cid AND w.rid = m.rid
              GROUP BY m.cid
            ),
            rrc AS (
              SELECT m.cid, count(*) AS n
              FROM members m JOIN canon c2 ON c2.cid = m.cid
              WHERE regexp_replace(regexp_replace(m.url,
                      '^https?://(www\.)?', ''), '/$', '')
                  = regexp_replace(regexp_replace(c2.url,
                      '^https?://(www\.)?', ''), '/$', '')
              GROUP BY m.cid
            )
            SELECT cn.url AS url, t.text AS text, mb.lang AS lang,
                   s.fr AS fr, CAST(rrc.n - 1 AS INT) AS rr,
                   s.n_variants AS n_variants,
                   round(w.votes * 1.0 / s.fr, 6) AS vote_ratio,
                   round(w.votes * 1.0 / s.fr, 6) < 0.8 AS low_confidence
            FROM canon cn
            JOIN winner w ON w.cid = cn.cid
            JOIN texts t ON t.rid = w.rid
            JOIN stats s ON s.cid = cn.cid
            JOIN members mb ON mb.url = cn.url
            JOIN rrc ON rrc.cid = cn.cid
        """,
    }
    # The incremental-consolidation e2e must be indistinguishable from a
    # full recompute on the union corpus, so its oracle IS the
    # full-recompute oracle, verbatim.
    sql["pages_dedup_incremental_e2e"] = sql["pages_dedup_e2e"]
    return sql
