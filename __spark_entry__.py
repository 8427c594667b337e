"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship dedup query at sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2 + the
training-data extensions); each callable (spark, sf_dir) → DataFrame.
``oracle_sql()`` — DuckDB-equivalent SQL for every SQL-expressible query
(same column names/aliases; floats rounded identically on both sides).

Dup-structure note: the driver's ``documents`` table has no duplicate rows,
so dedup-shaped queries build a deterministic *variant union* in-query
(every text duplicated once, every third text twice) — expressed identically
in Spark and in the oracle SQL.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _dup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ full copy (+1e7 ids) ∪ every-3rd copy (+2e7 ids)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source", "n_chars")
    c1 = d.select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text", "lang", "source", "n_chars")
    c2 = d.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    return d.unionByName(c1).unionByName(c2)


_DUP_DOCS_SQL = """
    SELECT doc_id, text, lang, source, n_chars FROM documents
    UNION ALL
    SELECT doc_id + 10000000, text, lang, source, n_chars FROM documents
    UNION ALL
    SELECT doc_id + 20000000, text, lang, source, n_chars FROM documents
    WHERE doc_id % 3 = 0
"""


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
    """Flagship: near-dup clustering + canonical election on sf0.001.

    Runs the full engine (MinHash/LSH/verify/CC) over the variant-union
    documents table and elects one canonical doc per cluster with its
    supporting count — the gencore group-then-vote shape end to end.
    """
    from gencore_spark.operators.dedup_variants import minhash_lsh_clusters

    docs = _dup_docs(spark, "/root/testdata/sf0.001")
    assign = minhash_lsh_clusters(docs)
    members = docs.join(assign, "doc_id")
    # one hash agg (map-side combinable), not a window over cluster_id —
    # a window makes a boilerplate mega-cluster one straggler task at scale
    return (
        members.groupBy("cluster_id")
        .agg(
            F.min_by(
                F.struct("doc_id", "text", "lang", "source"),
                F.struct(F.col("n_chars"), F.col("doc_id")),
            ).alias("c"),
            F.count(F.lit(1)).alias("fr"),
        )
        .select("cluster_id", "c.*", "fr")
    )


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---- dedup core (SURVEY §2 A1/A5/A7/A9, J1) ----

    def exact_dedup_canonical(spark, sf_dir):
        from gencore_spark.operators.dedup_variants import exact_dedup

        return exact_dedup(_dup_docs(spark, sf_dir))

    q["exact_dedup_canonical"] = exact_dedup_canonical

    def dup_size_histogram(spark, sf_dir):
        from gencore_spark.operators.dedup_variants import exact_dedup

        return (
            exact_dedup(_dup_docs(spark, sf_dir))
            .groupBy(F.col("fr").alias("cluster_size"))
            .agg(F.count(F.lit(1)).alias("n_clusters"))
        )

    q["dup_size_histogram"] = dup_size_histogram

    def cluster_size_gate(spark, sf_dir):
        from gencore_spark.operators.dedup_variants import exact_dedup

        return exact_dedup(_dup_docs(spark, sf_dir)).filter(F.col("fr") >= 3)

    q["cluster_size_gate"] = cluster_size_gate

    def candidate_pairs_exact(spark, sf_dir):
        d = _dup_docs(spark, sf_dir)
        a = d.select(F.xxhash64("text").alias("h"), F.col("doc_id").alias("id_a"))
        b = d.select(F.xxhash64("text").alias("h"), F.col("doc_id").alias("id_b"))
        return a.join(b, "h").filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")

    q["candidate_pairs_exact"] = candidate_pairs_exact

    def dup_rate_metrics(spark, sf_dir):
        d = _dup_docs(spark, sf_dir)
        return d.agg(
            F.count(F.lit(1)).alias("docs_in"),
            F.countDistinct("text").alias("distinct_texts"),
            F.round(
                1.0 - F.countDistinct("text") / F.count(F.lit(1)), 6
            ).alias("dup_rate"),
        )

    q["dup_rate_metrics"] = dup_rate_metrics

    # ---- election / window (SURVEY §2 A5/A6, W2) ----

    def canonical_elect_per_lang(spark, sf_dir):
        d = _t(spark, sf_dir, "documents")
        w = Window.partitionBy("lang").orderBy(
            F.col("n_chars").desc(), F.col("doc_id").asc()
        )
        return (
            d.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("lang", "doc_id", "n_chars")
        )

    q["canonical_elect_per_lang"] = canonical_elect_per_lang

    def top_event_per_user(spark, sf_dir):
        e = _t(spark, sf_dir, "events")
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").asc()
        )
        return (
            e.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "event_id", "event_type")
        )

    q["top_event_per_user"] = top_event_per_user

    # ---- routing / filters (SURVEY §2 F1/F2/F6) ----

    def length_route(spark, sf_dir):
        d = _t(spark, sf_dir, "documents")
        route = (
            F.when(F.col("n_chars") < 100, "bypass")
            .when(F.col("n_chars") < 300, "short")
            .otherwise("main")
        )
        return (
            d.select(route.alias("route"))
            .groupBy("route")
            .agg(F.count(F.lit(1)).alias("n_docs"))
        )

    q["length_route"] = length_route

    def lang_filter_pruning(spark, sf_dir):
        d = _t(spark, sf_dir, "documents")
        return (
            d.filter(F.col("lang") == "en")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"))
        )

    q["lang_filter_pruning"] = lang_filter_pruning

    # ---- projections / scalar functions (SURVEY §2 F5, X5/X6) ----

    def normalize_text_proj(spark, sf_dir):
        d = _t(spark, sf_dir, "documents")
        return d.select(
            "doc_id",
            F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")).alias(
                "norm_text"
            ),
        )

    q["normalize_text_proj"] = normalize_text_proj

    def mirror_key_fold(spark, sf_dir):
        d = _t(spark, sf_dir, "documents")
        url = F.concat(
            F.when(F.col("doc_id") % 2 == 0, "https://").otherwise("http://www."),
            F.lit("site"),
            (F.col("doc_id") % 50).cast("string"),
            F.lit(".org/p"),
            (F.col("doc_id") % 400).cast("string"),
        )
        mk = F.regexp_replace(url, r"^https?://(www\.)?", "")
        return (
            d.select(mk.alias("mirror_key"))
            .groupBy("mirror_key")
            .agg(F.count(F.lit(1)).alias("n_variants"))
        )

    q["mirror_key_fold"] = mirror_key_fold

    def mirror_pair_join(spark, sf_dir):
        # the duplex-pairing self-join (J4): find https/http variant pairs
        d = _t(spark, sf_dir, "documents")
        https = d.select(
            F.concat(F.lit("site"), (F.floor(F.col("doc_id") / 2) % 40).cast("string")).alias("mk"),
            F.col("doc_id").alias("id_https"),
        ).filter(F.col("doc_id") % 2 == 0)
        http = d.select(
            F.concat(F.lit("site"), (F.floor(F.col("doc_id") / 2) % 40).cast("string")).alias("mk"),
            F.col("doc_id").alias("id_http"),
        ).filter(F.col("doc_id") % 2 == 1)
        return (
            https.join(http, "mk")
            .groupBy("mk")
            .agg(F.count(F.lit(1)).alias("n_pairs"))
        )

    q["mirror_pair_join"] = mirror_pair_join

    def lang_allowlist_join(spark, sf_dir):
        # S3: small allowlist dim + semi join (the BED/lang filter analog)
        d = _t(spark, sf_dir, "documents")
        allow = spark.createDataFrame([("en",), ("de",)], "lang string")
        return (
            d.join(F.broadcast(allow), "lang", "left_semi")
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"))
        )

    q["lang_allowlist_join"] = lang_allowlist_join

    def range_join_events(spark, sf_dir):
        # J3/A11: interval-overlap join + per-region average (BED analog)
        e = _t(spark, sf_dir, "events")
        ranges = spark.createDataFrame(
            [(0, 0.0, 100.0), (1, 100.0, 250.0), (2, 250.0, 1000.0)],
            "region_id int, lo double, hi double",
        )
        return (
            e.join(
                F.broadcast(ranges),
                (e.value >= ranges.lo) & (e.value < ranges.hi),
            )
            .groupBy("region_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
                # the per-region average the reference reports at report
                # time (bed.cpp:64-79) — derived from cents/count so both
                # engines divide the same exact integers
                F.round(
                    F.sum(F.round(F.col("value") * 100).cast("long"))
                    / F.count(F.lit(1)) / 100.0,
                    6,
                ).alias("avg_value"),
            )
        )

    q["range_join_events"] = range_join_events

    # ---- metrics aggregations (SURVEY §2 A8/A10/A11) ----

    def stats_counters(spark, sf_dir):
        d = _t(spark, sf_dir, "documents")
        return d.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )

    q["stats_counters"] = stats_counters

    def range_bin_agg(spark, sf_dir):
        e = _t(spark, sf_dir, "events")
        return (
            e.groupBy(F.floor(F.col("value") / 10).alias("bin"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
            )
        )

    q["range_bin_agg"] = range_bin_agg

    def revenue_by_priority(spark, sf_dir):
        li = _t(spark, sf_dir, "lineitem")
        o = _t(spark, sf_dir, "orders")
        cents = F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        ).cast("long")
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(
                F.sum(cents).alias("revenue_cents"),
                F.count(F.lit(1)).alias("n_items"),
            )
        )

    q["revenue_by_priority"] = revenue_by_priority

    # ---- text analysis (training-data extensions) ----

    def token_counts(spark, sf_dir):
        from gencore_spark.operators.textstats import bpe_ish_token_count, token_count

        d = _t(spark, sf_dir, "documents")
        return d.select(
            "doc_id",
            token_count(F.col("text")).alias("n_tokens"),
            bpe_ish_token_count(F.col("text")).alias("n_pieces"),
        )

    q["token_counts"] = token_counts

    def quality_features_q(spark, sf_dir):
        from gencore_spark.operators.textstats import quality_features

        return quality_features(_t(spark, sf_dir, "documents"))

    q["quality_features"] = quality_features_q

    def quality_score_q(spark, sf_dir):
        from gencore_spark.operators.textstats import quality_score

        return quality_score(_t(spark, sf_dir, "documents"))

    q["quality_score"] = quality_score_q

    def lang_id_counts(spark, sf_dir):
        from gencore_spark.operators.textstats import lang_id

        d = _t(spark, sf_dir, "documents")
        return lang_id(d).groupBy("lang_pred").agg(F.count(F.lit(1)).alias("n_docs"))

    q["lang_id_counts"] = lang_id_counts

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

    # ---- ANN similarity search ----

    def ann_cosine_topk(spark, sf_dir):
        from gencore_spark.operators.ann import cosine_topk

        emb = _t(spark, sf_dir, "embeddings")
        return cosine_topk(
            emb.filter(F.col("vec_id") >= 10),
            emb.filter(F.col("vec_id") < 10),
            k=5,
        )

    q["ann_cosine_topk"] = ann_cosine_topk

    # ---- rows-only (non-SQL-expressible: signature/LSH/consensus kernels) ----

    def minhash_signatures(spark, sf_dir):
        # The raw array<long> signature stays internal; the driver contract
        # needs sortable scalars, so emit a deterministic digest of the
        # signature plus its length (the array itself is tested by goldens).
        from gencore_spark.config import DEFAULT_CONFIG
        from gencore_spark.functions.udfs import minhash_udf, normalize_udf

        d = _t(spark, sf_dir, "documents")
        sig = minhash_udf(DEFAULT_CONFIG)(normalize_udf()(F.col("text")))
        return d.select("doc_id", sig.alias("minhash")).select(
            "doc_id",
            F.xxhash64(F.concat_ws(",", F.transform(F.col("minhash"), lambda x: x.cast("string")))).alias("sig_digest"),
            F.size("minhash").alias("n_perms"),
        )

    q["minhash_signatures"] = minhash_signatures

    def simhash_fingerprints(spark, sf_dir):
        from gencore_spark.config import DEFAULT_CONFIG
        from gencore_spark.functions.udfs import normalize_udf, simhash_udf

        d = _t(spark, sf_dir, "documents")
        return d.select(
            "doc_id",
            simhash_udf(DEFAULT_CONFIG)(normalize_udf()(F.col("text"))).alias(
                "simhash"
            ),
        )

    q["simhash_fingerprints"] = simhash_fingerprints

    def lsh_candidate_pairs(spark, sf_dir):
        from gencore_spark.config import DEFAULT_CONFIG
        from gencore_spark.functions.udfs import minhash_udf, normalize_udf
        from gencore_spark.operators.lsh import candidate_pairs

        d = _dup_docs(spark, sf_dir)
        signed = d.select(
            F.col("doc_id").alias("rep_id"),
            minhash_udf(DEFAULT_CONFIG)(normalize_udf()(F.col("text"))).alias(
                "minhash"
            ),
        )
        edges, stats = candidate_pairs(signed, DEFAULT_CONFIG)
        # bucketed_pairs persists stats under a caller-must-unpersist
        # contract; materialize edges first (localCheckpoint — its plan
        # reads the cached stats), then release, so repeated bench/oracle
        # invocations in a long-lived session don't accumulate executor
        # storage.  Checkpoint blocks are ContextCleaner-managed (freed on
        # GC), unlike persists, which live until explicit unpersist.
        edges = edges.localCheckpoint(eager=True)
        stats.unpersist()
        return edges

    q["lsh_candidate_pairs"] = lsh_candidate_pairs

    def near_dup_clusters(spark, sf_dir):
        from gencore_spark.operators.dedup_variants import minhash_lsh_clusters

        return minhash_lsh_clusters(_dup_docs(spark, sf_dir))

    q["near_dup_clusters"] = near_dup_clusters

    def simhash_dedup_clusters(spark, sf_dir):
        # Deliberately rows-only: a SQL oracle was evaluated and REJECTED.
        # Measured on this corpus (2026-08-17): 28 pairs of DISTINCT texts
        # sit within hamming<=3, several with char-shingle J < 0.3 — i.e.
        # the hamming-ball grouping is neither the exact-text grouping nor
        # any Jaccard-threshold grouping, and SimHash itself is not
        # expressible in DuckDB SQL.  Exactness of the pigeonhole bucketing
        # (recall 1.0 by construction) is pytest'd instead
        # (test_simhash_clusters_exact_dups_merge + kernel goldens).
        from gencore_spark.operators.dedup_variants import simhash_clusters

        return simhash_clusters(_dup_docs(spark, sf_dir))

    q["simhash_dedup_clusters"] = simhash_dedup_clusters

    def ngram_jaccard_clusters_q(spark, sf_dir):
        from gencore_spark.operators.dedup_variants import ngram_jaccard_clusters

        return ngram_jaccard_clusters(_dup_docs(spark, sf_dir))

    q["ngram_jaccard_clusters"] = ngram_jaccard_clusters_q

    def embedding_cosine_clusters_q(spark, sf_dir):
        from gencore_spark.operators.dedup_variants import embedding_cosine_clusters

        return embedding_cosine_clusters(_t(spark, sf_dir, "embeddings"), tau=0.9)

    q["embedding_cosine_clusters"] = embedding_cosine_clusters_q

    def ann_lsh_topk(spark, sf_dir):
        from gencore_spark.operators.ann import lsh_cosine_topk

        emb = _t(spark, sf_dir, "embeddings")
        return lsh_cosine_topk(
            emb.filter(F.col("vec_id") >= 10),
            emb.filter(F.col("vec_id") < 10),
            dim=64,
            k=5,
        )

    q["ann_lsh_topk"] = ann_lsh_topk

    def ann_ivf_topk(spark, sf_dir):
        # IVF scale path: KMeans coarse quantizer + n_probe cell probing,
        # exact re-rank inside probed cells (rows-only: approximate op —
        # cell boundaries, not SQL, decide the candidate set)
        from gencore_spark.operators.ann import ivf_cosine_topk

        emb = _t(spark, sf_dir, "embeddings")
        return ivf_cosine_topk(
            emb.filter(F.col("vec_id") >= 10),
            emb.filter(F.col("vec_id") < 10),
            k=5,
            n_cells=16,
            n_probe=4,
        )

    q["ann_ivf_topk"] = ann_ivf_topk

    def doc_fingerprints(spark, sf_dir):
        from gencore_spark.operators.textstats import fingerprint_udf

        d = _t(spark, sf_dir, "documents")
        return d.select("doc_id", fingerprint_udf(8)(F.col("text")).alias("fp"))

    q["doc_fingerprints"] = doc_fingerprints

    def multimodal_features(spark, sf_dir):
        # Scalar projection of the feature rows (array<float> features break
        # the driver's sort-based canonicalizer; the array path is pytest'd).
        from gencore_spark.operators.multimodal import extract_features

        d = _t(spark, sf_dir, "documents").select(
            "doc_id", F.encode("text", "utf-8").alias("payload")
        )
        feats = extract_features(d)
        fnorm = F.sqrt(
            F.aggregate(
                F.transform("feature", lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        )
        return feats.select(
            "doc_id", "modality", "n_bytes", "width", "height",
            F.round(fnorm, 4).alias("feature_norm"),
        )

    q["multimodal_features"] = multimodal_features

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

    def curation_near_dup_fixture(spark, sf_dir):
        # The near_dup=True stage of curate_corpus, pinned at fixture scale
        # (r4 VERDICT #6): the full curation composition runs on the seeded
        # n=1000 corpus with near-dup clustering ON, and the per-kind
        # survivor count must equal the closed-form CLUSTER count
        # (_FIXTURE_E2E_EXPECTED.n_clusters, first-principles-recomputed by
        # tests/test_fixture_oracle.py).  Why counts collapse to clusters:
        # url_dedup folds refetch/mirror url variants (one survivor per
        # canonical url, still inside its planted group), exact collapse
        # keeps one row per byte-identical text, the near-dup stage keeps
        # the min-id member per engine cluster — and every later stage is
        # droppable-free here (single-line distinct texts -> line dedup
        # removes nothing; gibberish vocab has no punct/digits and >=34
        # tokens -> quality 1.0 passes the default gate; no eval set, no
        # sampling; split/packing never drop).  Engine clusters == planted
        # groups at n=1000 (margin-gap pinned), so kinds are homogeneous
        # per survivor.
        from gencore_spark.fixtures import pages_with_truth
        from gencore_spark.operators.curation import curate_corpus

        full, _spec = pages_with_truth(spark, _FIXTURE_E2E_N)
        docs = full.select(
            F.col("doc_index").alias("doc_id"), "url", "warc_ts", "lang", "text"
        )
        out = curate_corpus(docs, near_dup=True)
        truth = full.select(F.col("doc_index").alias("doc_id"), "dup_kind")
        return (
            out.join(truth, "doc_id")
            .groupBy("dup_kind")
            .agg(F.count(F.lit(1)).alias("n_survivors"))
        )

    q["curation_near_dup_fixture"] = curation_near_dup_fixture

    # ---- repetition / duplicated-passage quality signals (LLM-pipeline
    # extension; Gopher §A1.1 / Dolma-style corpus-wide dup content) ----

    def repetition_signals_q(spark, sf_dir):
        from gencore_spark.operators.textstats import repetition_signals

        return repetition_signals(_t(spark, sf_dir, "documents"))

    q["repetition_signals"] = repetition_signals_q

    def dup_passage_frac_q(spark, sf_dir):
        from gencore_spark.operators.textstats import duplicate_passage_frac

        return duplicate_passage_frac(_t(spark, sf_dir, "documents"), n=8)

    q["dup_passage_frac"] = dup_passage_frac_q

    # ---- line-level boilerplate dedup + URL refetch collapse (webtext
    # ingest ops: CCNet-style line dedup; canonical-URL keep-latest) ----

    def line_dedup_docs(spark, sf_dir):
        # corpus with planted boilerplate: a header on every doc, a footer
        # on every even doc — line_dedup must evict both and keep each
        # doc's (pairwise-distinct, pinned by test_entry_oracles) body
        from gencore_spark.operators.lines import line_dedup

        d = _t(spark, sf_dir, "documents").select(
            "doc_id",
            F.concat_ws(
                "\n",
                F.lit("Accept all cookies"),
                F.col("text"),
                F.when(F.col("doc_id") % 2 == 0, F.lit("(c) ex.org crawl")),
            ).alias("text"),
        )
        return line_dedup(d)

    q["line_dedup_docs"] = line_dedup_docs

    def url_dedup_canonical(spark, sf_dir):
        # three fetch spellings per resource (tracking params + default
        # port + fragment vs clean; later clean refetch must win) plus an
        # independent resource on every 4th doc
        from gencore_spark.operators.urldedup import url_dedup

        d = _t(spark, sf_dir, "documents").select("doc_id")

        def fetch(src, prefix, mid, suffix, ts_off):
            did = F.col("doc_id").cast("string")
            return src.select(
                F.concat(F.lit(prefix), did, F.lit(mid), did, F.lit(suffix))
                .alias("url"),
                F.timestamp_seconds(
                    F.lit(1_700_000_000) + F.col("doc_id") + F.lit(ts_off)
                ).alias("warc_ts"),
            )

        a = fetch(d, "https://EX.org:443/d", "?utm_source=tw&id=", "#top", 0)
        b = fetch(d, "https://ex.org/d", "?id=", "", 10)
        c = fetch(
            d.filter(F.col("doc_id") % 4 == 0), "http://ex.org:80/e", "?v=", "", 0
        )
        out = url_dedup(a.unionByName(b).unionByName(c))
        # epoch micros, not timestamp: the driver's sort-based comparator
        # is only exercised on numeric/string columns by the other queries
        return out.select(
            "canonical_url", "url", F.unix_micros("warc_ts").alias("warc_ts_us")
        )

    q["url_dedup_canonical"] = url_dedup_canonical

    # ---- corpus splitting + token-budget shard packing (training-data
    # pipeline tail: deterministic splits, fixed-token shards) ----

    def hash_split_docs(spark, sf_dir):
        from gencore_spark.operators.packing import hash_split

        return hash_split(_t(spark, sf_dir, "documents").select("doc_id"))

    q["hash_split_docs"] = hash_split_docs

    def token_shard_packing(spark, sf_dir):
        from gencore_spark.operators.packing import pack_into_token_shards
        from gencore_spark.operators.textstats import token_count

        d = _t(spark, sf_dir, "documents").select(
            "doc_id", token_count(F.col("text")).alias("n_tokens")
        )
        return pack_into_token_shards(d, token_budget=2000)

    q["token_shard_packing"] = token_shard_packing

    def stratified_sample_langs(spark, sf_dir):
        # rebalance the corpus by language: keep all en, half de, a tenth
        # of everything else — deterministic (hash-of-id), so the row set
        # is identical across reruns/partitionings and the oracle can
        # recompute it exactly
        from gencore_spark.operators.packing import stratified_sample

        d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
        return stratified_sample(
            d, {"en": 1.0, "de": 0.5}, stratum_col="lang", default_rate=0.1
        )

    q["stratified_sample_langs"] = stratified_sample_langs

    def shard_pack_shuffled(spark, sf_dir):
        # hash-ordered packing: shards double as the global training-data
        # shuffle (neighboring batches must not share a crawl segment)
        from gencore_spark.operators.packing import pack_into_token_shards
        from gencore_spark.operators.textstats import token_count

        d = _t(spark, sf_dir, "documents").select(
            "doc_id", token_count(F.col("text")).alias("n_tokens")
        )
        return pack_into_token_shards(d, token_budget=2000, order_by="hash")

    q["shard_pack_shuffled"] = shard_pack_shuffled

    def gopher_rules(spark, sf_dir):
        # plant rule-violating structure so every flag discriminates:
        # bullet lines on every 6th doc, a trailing ellipsis line on every
        # 9th, a no-alpha digit block on every 10th
        from gencore_spark.operators.textstats import gopher_quality_flags

        d = _t(spark, sf_dir, "documents").select(
            "doc_id",
            F.concat(
                F.when(
                    F.col("doc_id") % 6 == 1,
                    F.lit("- item one\n- item two\n* item three\n"),
                ).otherwise(F.lit("")),
                F.col("text"),
                F.when(F.col("doc_id") % 10 == 2, F.lit("\n00 11 22 33 44 55"))
                .otherwise(F.lit("")),
                F.when(F.col("doc_id") % 9 == 4, F.lit("\nread more..."))
                .otherwise(F.lit("")),
            ).alias("text"),
        )
        return gopher_quality_flags(d)

    q["gopher_rules"] = gopher_rules

    def _domained_docs(spark, sf_dir):
        # 7 synthetic domains; mixed-case + port spellings exercise
        # domain_of's lowering and authority extraction
        d = _t(spark, sf_dir, "documents").select("doc_id", "text")
        return d.select(
            "doc_id",
            F.concat(
                F.lit("https://D"),
                (F.col("doc_id") % 7).cast("string"),
                F.lit(".Example.org/p/"),
                F.col("doc_id").cast("string"),
            ).alias("url"),
            "text",
        )

    def domain_stats_q(spark, sf_dir):
        from gencore_spark.operators.domains import domain_stats

        return domain_stats(_domained_docs(spark, sf_dir))

    q["domain_stats"] = domain_stats_q

    def domain_cap_keep(spark, sf_dir):
        # block one domain, cap the rest at 30 docs each (first-crawled
        # wins: ascending doc_id)
        from gencore_spark.operators.domains import (
            domain_blocklist_filter,
            domain_cap,
        )

        d = _domained_docs(spark, sf_dir).select("doc_id", "url")
        blocked = spark.createDataFrame(
            [("d3.example.org",)], "domain string"
        )
        return domain_cap(domain_blocklist_filter(d, blocked), cap=30)

    q["domain_cap_keep"] = domain_cap_keep

    def bm25_search(spark, sf_dir):
        # lexical contamination search: queries = the first 6 words of
        # every 100th doc; its source doc should (and does) rank first
        from gencore_spark.operators.bm25 import bm25_topk

        d = _t(spark, sf_dir, "documents").select("doc_id", "text")
        qs = d.filter(F.col("doc_id") % 100 == 1).select(
            F.col("doc_id").alias("query_id"),
            F.array_join(
                F.slice(F.split(F.trim("text"), r"\s+"), 1, 6), " "
            ).alias("text"),
        )
        return bm25_topk(d, qs, k=10)

    q["bm25_search"] = bm25_search

    def script_mix_q(spark, sf_dir):
        # plant non-Latin scripts deterministically: every 8th doc gets a
        # CJK block, every 11th a Cyrillic run (literals identical in the
        # oracle), the rest stay Latin-dominant
        from gencore_spark.operators.textstats import script_mix

        d = _t(spark, sf_dir, "documents").select(
            "doc_id",
            F.when(
                F.col("doc_id") % 8 == 3,
                F.lit("今日は良い天気です 世界の皆さん こんにちは 元気ですか"),
            )
            .when(F.col("doc_id") % 97 == 9, F.lit("12345 67890 ... !!!"))
            .when(
                F.col("doc_id") % 11 == 5,
                F.concat(
                    F.col("text"),
                    F.lit(" привет мир как дела сегодня хороший день"),
                ),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        return script_mix(d)

    q["script_mix"] = script_mix_q

    def containment_pairs(spark, sf_dir):
        # truncation dedup: every 10th doc gets a PREFIX-HALF copy at
        # +3e7 — Jaccard(half, whole) ~ 0.5 (MinHash-LSH structurally
        # misses it) but containment(half in whole) = 1.0
        from gencore_spark.operators.containment import containment_candidates

        d = _t(spark, sf_dir, "documents").select("doc_id", "text")
        words = F.split(F.trim("text"), r"\s+")
        half = F.array_join(
            F.slice(
                words, 1, F.ceil(F.size(words) / F.lit(2.0)).cast("int")
            ),
            " ",
        )
        corp = d.unionByName(
            d.filter(F.col("doc_id") % 10 == 6).select(
                (F.col("doc_id") + 30_000_000).alias("doc_id"),
                half.alias("text"),
            )
        )
        # md5 digest: the bottom-k sketch orders by digest BYTES, so the
        # DuckDB twin must compute the identical digest (pipeline default
        # is 8-byte xxhash64 — same plan shape, plan-pinned in pytest)
        return containment_candidates(corp, digest="md5")

    q["containment_pairs"] = containment_pairs

    def containment_dedup_q(spark, sf_dir):
        # the CONSUMER of the candidates: exact gram-set containment
        # re-verify + superset-wins collapse.  Same planted corpus as
        # containment_pairs — every half doc (+3e7) must fold into its
        # source, everything else survives as its own canonical
        from gencore_spark.operators.containment import containment_dedup

        d = _t(spark, sf_dir, "documents").select("doc_id", "text")
        words = F.split(F.trim("text"), r"\s+")
        half = F.array_join(
            F.slice(
                words, 1, F.ceil(F.size(words) / F.lit(2.0)).cast("int")
            ),
            " ",
        )
        corp = d.unionByName(
            d.filter(F.col("doc_id") % 10 == 6).select(
                (F.col("doc_id") + 30_000_000).alias("doc_id"),
                half.alias("text"),
            )
        )
        return containment_dedup(corp, digest="md5")

    q["containment_dedup"] = containment_dedup_q

    def corpus_curation_e2e(spark, sf_dir):
        # the full training-data tail as ONE composition (curation.py):
        # exact collapse -> line dedup -> quality gate -> decontam ->
        # stratified sample -> split -> train shard packing.  The corpus
        # plants one failure mode per stage: +1e7 exact copies of every
        # 5th doc, header/footer boilerplate on all/even docs, punct+digit
        # junk line on every 13th doc (unique per doc so LINE dedup keeps
        # it and the QUALITY gate must do the work), eval side = every
        # 41st doc's raw text (self-contamination)
        from gencore_spark.operators.curation import curate_corpus

        d = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
        planted = d.select(
            "doc_id",
            F.concat(
                F.lit("Accept all cookies\n"),
                F.col("text"),
                F.when(
                    F.col("doc_id") % 13 == 7,
                    F.concat(
                        F.lit("\n"),
                        F.repeat(F.lit("?!.,;:0123456789 "), 10),
                        F.col("doc_id").cast("string"),
                    ),
                ).otherwise(F.lit("")),
                F.when(F.col("doc_id") % 2 == 0, F.lit("\n(c) ex.org crawl"))
                .otherwise(F.lit("")),
            ).alias("text"),
            "lang",
        )
        corp = planted.unionByName(
            planted.filter(F.col("doc_id") % 5 == 0).select(
                (F.col("doc_id") + 10_000_000).alias("doc_id"), "text", "lang"
            )
        )
        return curate_corpus(
            corp,
            d.filter(F.col("doc_id") % 41 == 3),
            sample_rates={"en": 1.0, "de": 0.5},
            default_rate=0.25,
            token_budget=500,
        )

    q["corpus_curation_e2e"] = corpus_curation_e2e

    # ---- decontamination / PII scrub / vocabulary (training-data
    # pipeline ops: eval-leak guard, PII flagging, corpus stats) ----

    def decontam_flags(spark, sf_dir):
        # eval set = every doc with doc_id % 41 == 3; a training doc is
        # contaminated iff it shares one 8-word-gram with any eval doc
        # (GPT-3-style n-gram decontamination, n scaled to corpus size)
        from gencore_spark.operators.decontam import contamination_flags

        d = _t(spark, sf_dir, "documents")
        return contamination_flags(d, d.filter(F.col("doc_id") % 41 == 3), n=8)

    q["decontam_flags"] = decontam_flags

    def pii_scrub_signals(spark, sf_dir):
        # synthetic corpus carries no PII, so every 7th doc gets a
        # deterministic email + IPv4 + phone appended INSIDE the query
        # (the oracle appends the identical bytes) — the operator is then
        # exercised on non-trivial positives and true negatives alike
        from gencore_spark.operators.pii import pii_signals

        d = _t(spark, sf_dir, "documents")
        did = F.col("doc_id").cast("string")
        injected = d.select(
            "doc_id",
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.col("text"),
                    F.lit(" contact u"), did,
                    F.lit("@mail.example.com or 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".5 tel +1 555 01"),
                    F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
                    F.lit(" 4242"),
                ),
            ).otherwise(F.col("text")).alias("text"),
        )
        return pii_signals(injected)

    q["pii_scrub_signals"] = pii_scrub_signals

    def vocab_top100(spark, sf_dir):
        from gencore_spark.operators.textstats import vocab_topk

        return vocab_topk(_t(spark, sf_dir, "documents"), k=100)

    q["vocab_top100"] = vocab_top100

    def lm_perplexity(spark, sf_dir):
        # CCNet-style quality signal: bigram-LM perplexity under a model
        # trained on the corpus itself (self-perplexity ranks statistical
        # outliers when no external clean corpus exists)
        from gencore_spark.operators.lm import bigram_lm_score

        return bigram_lm_score(_t(spark, sf_dir, "documents"))

    q["lm_perplexity"] = lm_perplexity

    def intradoc_line_dedup_docs(spark, sf_dir):
        # corpus with planted WITHIN-document repetition: a promo line
        # that brackets the body and a doubled body line — the first
        # occurrence of each must survive, the repeats must not; the
        # between-docs sibling (line_dedup_docs) must NOT fire here since
        # each doc's planted lines embed its own doc_id
        from gencore_spark.operators.lines import intradoc_line_dedup

        did = F.col("doc_id").cast("string")
        d = _t(spark, sf_dir, "documents").select(
            "doc_id",
            F.concat_ws(
                "\n",
                F.concat(F.lit("Subscribe now "), did),
                F.col("text"),
                F.concat(F.lit("Subscribe now "), did),
                F.col("text"),
            ).alias("text"),
        )
        return intradoc_line_dedup(d)

    q["intradoc_line_dedup"] = intradoc_line_dedup_docs

    def dup_span_scrub_docs(spark, sf_dir):
        # ExactSubstr-style duplicated-span removal: a 12-word passage is
        # planted in every 5th doc — its interior 8-grams become
        # corpus-duplicated and the whole passage must be scrubbed from
        # every holder (boundary grams mix doc-unique words and never
        # flag); naturally-shared 8-grams in the synthetic text scrub too
        # (the oracle recomputes the identical statistics)
        from gencore_spark.operators.spans import dup_span_scrub

        shared = "the shared spam footer block appended by the template engine here twice"
        d = _t(spark, sf_dir, "documents").select(
            "doc_id",
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.col("text"), F.lit(" " + shared)),
            ).otherwise(F.col("text")).alias("text"),
        )
        return dup_span_scrub(d)

    q["dup_span_scrub"] = dup_span_scrub_docs

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
        # curate_corpus(near_dup=True) at fixture scale: survivors per kind
        # == clusters per kind (derivation in the queries() docstring; the
        # n_clusters constants are first-principles-pinned by
        # tests/test_fixture_oracle.py).
        "curation_near_dup_fixture": f"""
            SELECT dup_kind, CAST(n_clusters AS BIGINT) AS n_survivors
            FROM (VALUES {fixture_vals})
                 t(dup_kind, n_clusters, n_docs, sum_rr, n_low_conf)
        """,
        "exact_dedup_canonical": f"""
            SELECT min(doc_id) AS canonical_id, count(*) AS fr
            FROM ({_DUP_DOCS_SQL}) d(doc_id, text, lang, source, n_chars)
            GROUP BY text
        """,
        "dup_size_histogram": f"""
            SELECT fr AS cluster_size, count(*) AS n_clusters
            FROM (
              SELECT count(*) AS fr
              FROM ({_DUP_DOCS_SQL}) d(doc_id, text, lang, source, n_chars)
              GROUP BY text
            ) GROUP BY fr
        """,
        "cluster_size_gate": f"""
            SELECT min(doc_id) AS canonical_id, count(*) AS fr
            FROM ({_DUP_DOCS_SQL}) d(doc_id, text, lang, source, n_chars)
            GROUP BY text HAVING count(*) >= 3
        """,
        "candidate_pairs_exact": f"""
            WITH d AS ({_DUP_DOCS_SQL})
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM d a JOIN d b ON a.text = b.text AND a.doc_id < b.doc_id
        """,
        "dup_rate_metrics": f"""
            SELECT count(*) AS docs_in,
                   count(DISTINCT text) AS distinct_texts,
                   round(1.0 - count(DISTINCT text) / count(*), 6) AS dup_rate
            FROM ({_DUP_DOCS_SQL}) d(doc_id, text, lang, source, n_chars)
        """,
        "canonical_elect_per_lang": """
            SELECT lang, doc_id, n_chars FROM (
              SELECT lang, doc_id, n_chars,
                     row_number() OVER (PARTITION BY lang
                                        ORDER BY n_chars DESC, doc_id ASC) AS rn
              FROM documents
            ) WHERE rn = 1
        """,
        "top_event_per_user": """
            SELECT user_id, event_id, event_type FROM (
              SELECT user_id, event_id, event_type,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts DESC, event_id ASC) AS rn
              FROM events
            ) WHERE rn = 1
        """,
        "length_route": """
            SELECT CASE WHEN n_chars < 100 THEN 'bypass'
                        WHEN n_chars < 300 THEN 'short'
                        ELSE 'main' END AS route,
                   count(*) AS n_docs
            FROM documents GROUP BY 1
        """,
        "lang_filter_pruning": """
            SELECT source, count(*) AS n_docs FROM documents
            WHERE lang = 'en' GROUP BY source
        """,
        "normalize_text_proj": r"""
            SELECT doc_id,
                   trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm_text
            FROM documents
        """,
        "mirror_key_fold": r"""
            SELECT regexp_replace(
                     CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://www.' END
                     || 'site' || CAST(doc_id % 50 AS VARCHAR)
                     || '.org/p' || CAST(doc_id % 400 AS VARCHAR),
                     '^https?://(www\.)?', '') AS mirror_key,
                   count(*) AS n_variants
            FROM documents GROUP BY 1
        """,
        "stats_counters": """
            -- CAST: DuckDB sum(BIGINT) is HUGEINT -> float64 in Arrow,
            -- which breaks the driver's value hash despite equal values
            SELECT source, count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                   round(avg(n_chars), 4) AS avg_chars,
                   count(DISTINCT lang) AS n_langs
            FROM documents GROUP BY source
        """,
        "range_bin_agg": """
            SELECT CAST(floor(value / 10) AS BIGINT) AS bin,
                   count(*) AS n_events,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                     AS sum_cents
            FROM events GROUP BY 1
        """,
        "revenue_by_priority": """
            SELECT o_orderpriority,
                   CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                                 AS BIGINT)) AS BIGINT)
                     AS revenue_cents,
                   count(*) AS n_items
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderpriority
        """,
        "token_counts": r"""
            SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE length(string_split_regex(trim(text), '\s+')) END
                     AS n_tokens,
                   length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
                     AS n_pieces
            FROM documents
        """,
        "quality_features": r"""
            SELECT doc_id,
                   CAST(length(text) AS BIGINT) AS n_chars_m,
                   CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE length(string_split_regex(trim(text), '\s+')) END
                        AS BIGINT) AS n_tokens,
                   round(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                         / greatest(length(text), 1.0), 6) AS punct_ratio,
                   round(length(regexp_replace(text, '[^0-9]', '', 'g'))
                         / greatest(length(text), 1.0), 6) AS digit_ratio,
                   round(length(regexp_extract_all(lower(text),
                         '\b(the|a|an|and|or|of|to|in|is|it)\b'))
                         / greatest(CASE WHEN length(trim(text)) = 0 THEN 0
                                    ELSE length(string_split_regex(trim(text), '\s+'))
                                    END, 1.0), 6) AS stopword_ratio,
                   round(length(text) / greatest(
                         CASE WHEN length(trim(text)) = 0 THEN 0
                         ELSE length(string_split_regex(trim(text), '\s+')) END, 1.0),
                         6) AS mean_token_len
            FROM documents
        """,
        "mirror_pair_join": """
            SELECT 'site' || CAST(a.doc_id // 2 % 40 AS VARCHAR) AS mk,
                   count(*) AS n_pairs
            FROM documents a JOIN documents b
              ON a.doc_id // 2 % 40 = b.doc_id // 2 % 40
             AND a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
            GROUP BY 1
        """,
        "lang_allowlist_join": """
            SELECT lang, count(*) AS n_docs FROM documents
            WHERE lang IN ('en', 'de') GROUP BY lang
        """,
        "range_join_events": """
            SELECT r.region_id, count(*) AS n_events,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                     AS sum_cents,
                   round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                         / count(*) / 100.0, 6) AS avg_value
            FROM events e
            JOIN (VALUES (0, 0.0, 100.0), (1, 100.0, 250.0),
                         (2, 250.0, 1000.0)) r(region_id, lo, hi)
              ON e.value >= r.lo AND e.value < r.hi
            GROUP BY r.region_id
        """,
        "quality_score": r"""
            WITH f AS (
              SELECT doc_id,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE length(string_split_regex(trim(text), '\s+')) END
                       AS n_tokens,
                     round(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                           / greatest(length(text), 1.0), 6) AS punct_ratio,
                     round(length(regexp_replace(text, '[^0-9]', '', 'g'))
                           / greatest(length(text), 1.0), 6) AS digit_ratio
              FROM documents
            )
            SELECT doc_id,
                   round(greatest(
                     1.0 - least(punct_ratio * 4.0, 0.3)
                         - least(digit_ratio * 3.0, 0.3)
                         - CASE WHEN n_tokens < 10 THEN 0.4 ELSE 0.0 END,
                     0.0), 6) AS quality
            FROM f
        """,
        "lang_id_counts": r"""
            WITH h AS (
              SELECT doc_id,
                     length(regexp_extract_all(lower(text),
                       '\b(the|and|of|to|is|that|with)\b')) AS h_en,
                     length(regexp_extract_all(lower(text),
                       '\b(der|die|das|und|ist|nicht|mit)\b')) AS h_de,
                     length(regexp_extract_all(lower(text),
                       '\b(le|la|les|et|est|que|pour)\b')) AS h_fr,
                     length(regexp_extract_all(lower(text),
                       '\b(el|la|los|y|es|que|para)\b')) AS h_es
              FROM documents
            )
            SELECT CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
                        WHEN h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en'
                        WHEN h_de = greatest(h_en, h_de, h_fr, h_es) THEN 'de'
                        WHEN h_fr = greatest(h_en, h_de, h_fr, h_es) THEN 'fr'
                        ELSE 'es' END AS lang_pred,
                   count(*) AS n_docs
            FROM h GROUP BY 1
        """,
        "repetition_signals": r"""
            WITH w AS (
              SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
              FROM documents
            ),
            g AS (
              SELECT doc_id,
                     CASE WHEN len(ws) >= 3 THEN
                       [ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
                        FOR i IN range(len(ws) - 2)]
                     ELSE [] END AS tgs,
                     CASE WHEN len(ws) >= 2 THEN
                       [ws[i+1] || ' ' || ws[i+2] FOR i IN range(len(ws) - 1)]
                     ELSE [] END AS bgs
              FROM w
            ),
            bgc AS (
              SELECT doc_id, bg, count(*) AS c
              FROM (SELECT doc_id, unnest(bgs) AS bg FROM g)
              GROUP BY 1, 2
            ),
            bga AS (SELECT doc_id, max(c) AS mx, sum(c) AS nb
                    FROM bgc GROUP BY 1)
            SELECT g.doc_id,
                   round(CASE WHEN len(tgs) = 0 THEN 0.0
                         ELSE 1.0 - len(list_distinct(tgs))
                                    / CAST(len(tgs) AS DOUBLE) END,
                         6) AS dup_trigram_frac,
                   round(coalesce(CAST(mx AS DOUBLE) / nb, 0.0), 6)
                     AS top_bigram_frac
            FROM g LEFT JOIN bga USING (doc_id)
        """,
        "dup_passage_frac": r"""
            WITH w AS (
              SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
              FROM documents
            ),
            g AS (
              SELECT doc_id,
                     CASE WHEN len(ws) >= 8 THEN
                       list_distinct([ws[i+1] || ' ' || ws[i+2] || ' ' ||
                                      ws[i+3] || ' ' || ws[i+4] || ' ' ||
                                      ws[i+5] || ' ' || ws[i+6] || ' ' ||
                                      ws[i+7] || ' ' || ws[i+8]
                                      FOR i IN range(len(ws) - 7)])
                     ELSE [] END AS gs
              FROM w
            ),
            e AS (SELECT doc_id, unnest(gs) AS gram FROM g),
            dpg AS (SELECT gram, count(*) AS nd FROM e GROUP BY 1),
            agg AS (
              SELECT e.doc_id, count(*) AS n_grams,
                     sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS n_dup
              FROM e JOIN dpg USING (gram) GROUP BY 1
            )
            SELECT g.doc_id,
                   CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
                   round(coalesce(CAST(n_dup AS DOUBLE) / n_grams, 0.0), 6)
                     AS dup_passage_frac
            FROM g LEFT JOIN agg USING (doc_id)
        """,
        "line_dedup_docs": r"""
            WITH corp AS (
              SELECT doc_id,
                     'Accept all cookies' || chr(10) || text ||
                     CASE WHEN doc_id % 2 = 0
                          THEN chr(10) || '(c) ex.org crawl' ELSE '' END
                       AS text
              FROM documents
            ),
            w AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM corp),
            l AS (SELECT doc_id,
                         unnest([{'pos': i, 'line': ls[i + 1]}
                                 FOR i IN range(len(ls))]) AS s
                  FROM w),
            ne AS (SELECT doc_id, s.pos AS pos, s.line AS line FROM l
                   WHERE len(trim(s.line)) > 0),
            nd AS (SELECT trim(line) AS k, count(DISTINCT doc_id) AS ndocs
                   FROM ne GROUP BY 1),
            j AS (SELECT ne.doc_id, ne.pos, ne.line, nd.ndocs
                  FROM ne JOIN nd ON trim(ne.line) = nd.k),
            agg AS (
              SELECT doc_id,
                     coalesce(
                       string_agg(line, chr(10) ORDER BY pos)
                         FILTER (WHERE ndocs < 2), '') AS text_dedup,
                     count(*) AS n_lines,
                     sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS n_removed
              FROM j GROUP BY 1
            )
            SELECT d.doc_id,
                   coalesce(a.text_dedup, '') AS text_dedup,
                   CAST(coalesce(a.n_lines, 0) AS BIGINT) AS n_lines,
                   CAST(coalesce(a.n_removed, 0) AS BIGINT) AS n_removed
            FROM documents d LEFT JOIN agg a USING (doc_id)
        """,
        "url_dedup_canonical": r"""
            WITH fetches AS (
              SELECT 'https://EX.org:443/d' || doc_id ||
                     '?utm_source=tw&id=' || doc_id || '#top' AS url,
                     to_timestamp(1700000000 + doc_id) AS warc_ts
              FROM documents
              UNION ALL
              SELECT 'https://ex.org/d' || doc_id || '?id=' || doc_id,
                     to_timestamp(1700000000 + doc_id + 10)
              FROM documents
              UNION ALL
              SELECT 'http://ex.org:80/e' || doc_id || '?v=' || doc_id,
                     to_timestamp(1700000000 + doc_id)
              FROM documents WHERE doc_id % 4 = 0
            ),
            c1 AS (SELECT url, warc_ts,
                          regexp_replace(url, '#.*', '') AS u
                   FROM fetches),
            c2 AS (SELECT *, lower(regexp_extract(u,
                       '^([a-zA-Z][a-zA-Z0-9+.\-]*://[^/?]*)', 1)) AS head0
                   FROM c1),
            c3 AS (SELECT *,
                          CASE WHEN starts_with(head0, 'http://')
                                    AND ends_with(head0, ':80')
                               THEN substr(head0, 1, len(head0) - 3)
                               WHEN starts_with(head0, 'https://')
                                    AND ends_with(head0, ':443')
                               THEN substr(head0, 1, len(head0) - 4)
                               ELSE head0 END AS head,
                          substr(u, len(head0) + 1) AS rest
                   FROM c2),
            c4 AS (SELECT *, regexp_extract(rest, '^([^?]*)', 1) AS path,
                          CASE WHEN len(rest) > len(regexp_extract(rest,
                                 '^([^?]*)', 1))
                               THEN substr(rest, len(regexp_extract(rest,
                                 '^([^?]*)', 1)) + 2)
                               ELSE '' END AS q
                   FROM c3),
            c5 AS (SELECT *, array_to_string(list_filter(
                            string_split(q, '&'),
                            p -> NOT (starts_with(p, 'utm_')
                                   OR starts_with(p, 'fbclid=') OR p = 'fbclid'
                                   OR starts_with(p, 'gclid=') OR p = 'gclid'
                                   OR starts_with(p, 'msclkid=') OR p = 'msclkid'
                                   OR p = '')), '&') AS q2
                   FROM c4),
            canon AS (SELECT url, warc_ts,
                             head || path ||
                             CASE WHEN q2 = '' THEN '' ELSE '?' || q2 END
                               AS canonical_url
                      FROM c5),
            r AS (SELECT *, row_number() OVER (
                      PARTITION BY canonical_url
                      ORDER BY warc_ts DESC, url ASC) AS rn
                  FROM canon)
            SELECT canonical_url, url, epoch_us(warc_ts) AS warc_ts_us
            FROM r WHERE rn = 1
        """,
        "hash_split_docs": """
            SELECT doc_id,
                   CASE WHEN b < 9800 THEN 'train'
                        WHEN b < 9900 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id,
                         ((((doc_id % 2147483648) + 2147483648) % 2147483648)
                          * 2654435761) % 4294967296 % 10000 AS b
                  FROM documents)
        """,
        "stratified_sample_langs": """
            -- sampling bucket = salted SECOND Knuth fold of the split
            -- hash (packing.sample_bucket) — independent of hash_split's
            -- bucket so sampling never starves the val/test ranges
            SELECT doc_id, lang
            FROM (SELECT doc_id, lang,
                         ((((((((doc_id % 2147483648) + 2147483648)
                              % 2147483648) * 2654435761) % 4294967296
                             + 1013904223) % 2147483648) * 2654435761)
                          % 4294967296) % 10000 AS b
                  FROM documents)
            WHERE b < CASE lang WHEN 'en' THEN 10000
                                WHEN 'de' THEN 5000
                                ELSE 1000 END
        """,
        "containment_pairs": r"""
            WITH corp AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 30000000,
                     array_to_string(list_slice(
                       string_split_regex(trim(text), '\s+'), 1,
                       CAST(ceil(len(string_split_regex(trim(text),
                         '\s+')) / 2.0) AS INT)), ' ')
              FROM documents WHERE doc_id % 10 = 6
            ),
            w AS (SELECT doc_id,
                         string_split_regex(trim(text), '\s+') AS ws
                  FROM corp),
            g0 AS (SELECT doc_id,
                          CASE WHEN len(ws) >= 8 THEN
                            list_distinct([ws[i+1] || ' ' || ws[i+2] || ' '
                              || ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5]
                              || ' ' || ws[i+6] || ' ' || ws[i+7] || ' '
                              || ws[i+8] FOR i IN range(len(ws) - 7)])
                          ELSE [] END AS gs
                   FROM w),
            g AS (SELECT doc_id, md5(unnest(gs)) AS gh FROM g0),
            rare AS (SELECT gh FROM (SELECT gh, count(*) AS df FROM g
                                     GROUP BY 1) WHERE df <= 64),
            p AS (SELECT g.doc_id, g.gh FROM g JOIN rare USING (gh)),
            sk AS (SELECT doc_id,
                          list_slice(list(gh ORDER BY gh), 1, 16) AS bk
                   FROM p GROUP BY doc_id),
            probes AS (SELECT doc_id AS id_a,
                              least(len(bk), 16) AS k_eff,
                              unnest(bk) AS gh
                       FROM sk),
            pairs AS (SELECT id_a, p.doc_id AS id_b,
                             count(*) AS m, any_value(k_eff) AS k_eff
                      FROM probes JOIN p USING (gh)
                      WHERE id_a <> p.doc_id
                      GROUP BY 1, 2)
            SELECT id_a, id_b,
                   round(m / CAST(k_eff AS DOUBLE), 6) AS est_containment
            FROM pairs
            WHERE round(m / CAST(k_eff AS DOUBLE), 6) >= 0.8
        """,
        "containment_dedup": r"""
            WITH corp AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 30000000,
                     array_to_string(list_slice(
                       string_split_regex(trim(text), '\s+'), 1,
                       CAST(ceil(len(string_split_regex(trim(text),
                         '\s+')) / 2.0) AS INT)), ' ')
              FROM documents WHERE doc_id % 10 = 6
            ),
            w AS (SELECT doc_id,
                         string_split_regex(trim(text), '\s+') AS ws
                  FROM corp),
            g0 AS (SELECT doc_id,
                          CASE WHEN len(ws) >= 8 THEN
                            list_distinct([ws[i+1] || ' ' || ws[i+2] || ' '
                              || ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5]
                              || ' ' || ws[i+6] || ' ' || ws[i+7] || ' '
                              || ws[i+8] FOR i IN range(len(ws) - 7)])
                          ELSE [] END AS gs
                   FROM w),
            g AS (SELECT doc_id, md5(unnest(gs)) AS gh FROM g0),
            rare AS (SELECT gh FROM (SELECT gh, count(*) AS df FROM g
                                     GROUP BY 1) WHERE df <= 64),
            p AS (SELECT g.doc_id, g.gh FROM g JOIN rare USING (gh)),
            sk AS (SELECT doc_id,
                          list_slice(list(gh ORDER BY gh), 1, 16) AS bk
                   FROM p GROUP BY doc_id),
            probes AS (SELECT doc_id AS id_a,
                              least(len(bk), 16) AS k_eff,
                              unnest(bk) AS gh
                       FROM sk),
            cand0 AS (SELECT id_a, p.doc_id AS id_b,
                             count(*) AS m0, any_value(k_eff) AS k_eff
                      FROM probes JOIN p USING (gh)
                      WHERE id_a <> p.doc_id
                      GROUP BY 1, 2),
            cands AS (SELECT id_a, id_b FROM cand0
                      WHERE round(m0 / CAST(k_eff AS DOUBLE), 6) >= 0.8),
            -- exact re-verify: true containment over FULL gram sets
            sz AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY 1),
            mm AS (SELECT c.id_a, c.id_b, count(*) AS m
                   FROM cands c
                   JOIN g ga ON ga.doc_id = c.id_a
                   JOIN g gb ON gb.doc_id = c.id_b AND gb.gh = ga.gh
                   GROUP BY 1, 2),
            ver AS (SELECT mm.id_a, mm.id_b, b.sz AS sz_b
                    FROM mm JOIN sz a ON a.doc_id = mm.id_a
                            JOIN sz b ON b.doc_id = mm.id_b
                    WHERE round(mm.m / CAST(a.sz AS DOUBLE), 6) >= 0.9
                      AND (b.sz > a.sz
                           OR (b.sz = a.sz AND mm.id_b < mm.id_a))),
            el AS (SELECT id_a AS doc_id,
                          first(id_b ORDER BY sz_b DESC, id_b ASC) AS canon
                   FROM ver GROUP BY 1)
            SELECT corp.doc_id,
                   coalesce(el.canon, corp.doc_id) AS canonical_id
            FROM corp LEFT JOIN el USING (doc_id)
        """,
        "script_mix": r"""
            WITH corp AS (
              SELECT doc_id,
                     CASE
                       WHEN doc_id % 8 = 3
                         THEN '今日は良い天気です 世界の皆さん こんにちは 元気ですか'
                       WHEN doc_id % 97 = 9 THEN '12345 67890 ... !!!'
                       WHEN doc_id % 11 = 5
                         THEN text || ' привет мир как дела сегодня хороший день'
                       ELSE text END AS text
              FROM documents
            ),
            c AS (
              SELECT doc_id,
                     length(regexp_replace(text, '\s', '', 'g')) AS n,
                     length(text) - length(regexp_replace(text,
                       '[A-Za-z\x{00C0}-\x{024F}]', '', 'g')) AS c_latin,
                     length(text) - length(regexp_replace(text,
                       '[\x{3040}-\x{30FF}\x{4E00}-\x{9FFF}]', '', 'g'))
                       AS c_cjk,
                     length(text) - length(regexp_replace(text,
                       '[\x{0400}-\x{04FF}]', '', 'g')) AS c_cyrillic,
                     length(text) - length(regexp_replace(text,
                       '[\x{0600}-\x{06FF}]', '', 'g')) AS c_arabic
              FROM corp
            ),
            f AS (
              SELECT doc_id, CAST(n AS BIGINT) AS n_chars_nws,
                     round(c_latin / greatest(CAST(n AS DOUBLE), 1.0), 6)
                       AS frac_latin,
                     round(c_cjk / greatest(CAST(n AS DOUBLE), 1.0), 6)
                       AS frac_cjk,
                     round(c_cyrillic / greatest(CAST(n AS DOUBLE), 1.0), 6)
                       AS frac_cyrillic,
                     round(c_arabic / greatest(CAST(n AS DOUBLE), 1.0), 6)
                       AS frac_arabic
              FROM c
            )
            SELECT *,
                   CASE
                     WHEN greatest(frac_latin, frac_cjk, frac_cyrillic,
                                   frac_arabic) <= 0.0 THEN 'und'
                     WHEN frac_latin = greatest(frac_latin, frac_cjk,
                            frac_cyrillic, frac_arabic) THEN 'latin'
                     WHEN frac_cjk = greatest(frac_latin, frac_cjk,
                            frac_cyrillic, frac_arabic) THEN 'cjk'
                     WHEN frac_cyrillic = greatest(frac_latin, frac_cjk,
                            frac_cyrillic, frac_arabic) THEN 'cyrillic'
                     ELSE 'arabic' END AS dominant_script
            FROM f
        """,
        "bm25_search": r"""
            WITH q AS (
              SELECT doc_id AS query_id,
                     array_to_string(
                       (string_split_regex(trim(text), '\s+'))[1:6], ' ')
                       AS text
              FROM documents WHERE doc_id % 100 = 1
            ),
            tok0 AS (SELECT doc_id,
                            unnest(string_split_regex(lower(trim(text)),
                                   '\s+')) AS term
                     FROM documents),
            tok AS (SELECT * FROM tok0 WHERE term <> ''),
            tf AS (SELECT doc_id, term, count(*) AS tf
                   FROM tok GROUP BY 1, 2),
            dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            dl AS (SELECT doc_id,
                          CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                               ELSE length(string_split_regex(trim(text),
                               '\s+')) END AS DOUBLE) AS dl
                   FROM documents),
            st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                          avg(CASE WHEN length(trim(text)) = 0 THEN 0
                              ELSE length(string_split_regex(trim(text),
                              '\s+')) END) AS avgdl
                   FROM documents),
            post AS (SELECT tf.doc_id, tf.term,
                            ln(1 + (st.n_docs - dft.df + 0.5)
                                   / (dft.df + 0.5))
                            * tf.tf
                            / (tf.tf + 1.2 * (1 - 0.75
                                              + 0.75 * dl.dl / st.avgdl))
                              AS comp
                     FROM tf JOIN dl USING (doc_id)
                             JOIN dft USING (term) CROSS JOIN st),
            qt AS (SELECT * FROM (
                     SELECT DISTINCT query_id,
                            unnest(list_distinct(string_split_regex(
                              lower(trim(text)), '\s+'))) AS term
                     FROM q) WHERE term <> ''),
            sc AS (SELECT query_id, doc_id,
                          round(sum(comp), 6) AS score
                   FROM post JOIN qt USING (term) GROUP BY 1, 2),
            rk AS (SELECT query_id, doc_id, score,
                          row_number() OVER (PARTITION BY query_id
                                             ORDER BY score DESC,
                                             doc_id ASC) AS rank
                   FROM sc)
            SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
                   CAST(score AS DOUBLE) AS score
            FROM rk WHERE rank <= 10
        """,
        "domain_stats": r"""
            WITH u AS (
              SELECT doc_id, text,
                     'https://D' || (doc_id % 7) || '.Example.org/p/'
                       || doc_id AS url
              FROM documents
            ),
            d AS (
              SELECT lower(regexp_extract(url,
                       '^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/:?#]+)', 1))
                       AS domain,
                     md5(text) AS digest,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE length(string_split_regex(trim(text), '\s+'))
                          END AS tok
              FROM u
            )
            SELECT domain, count(*) AS n_docs,
                   count(DISTINCT digest) AS n_distinct_texts,
                   round(avg(tok), 6) AS avg_tokens
            FROM d GROUP BY domain
        """,
        "domain_cap_keep": r"""
            WITH u AS (
              SELECT doc_id,
                     'https://D' || (doc_id % 7) || '.Example.org/p/'
                       || doc_id AS url
              FROM documents
            ),
            d AS (
              SELECT doc_id, url,
                     lower(regexp_extract(url,
                       '^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/:?#]+)', 1))
                       AS domain
              FROM u
            ),
            kept AS (
              SELECT doc_id, url,
                     row_number() OVER (PARTITION BY domain
                                        ORDER BY doc_id ASC) AS rn
              FROM d WHERE domain <> 'd3.example.org'
            )
            SELECT doc_id, url FROM kept WHERE rn <= 30
        """,
        "gopher_rules": r"""
            WITH corp AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 6 = 1
                          THEN '- item one' || chr(10) || '- item two' ||
                               chr(10) || '* item three' || chr(10)
                          ELSE '' END ||
                     text ||
                     CASE WHEN doc_id % 10 = 2
                          THEN chr(10) || '00 11 22 33 44 55' ELSE '' END ||
                     CASE WHEN doc_id % 9 = 4
                          THEN chr(10) || 'read more...' ELSE '' END AS text
              FROM documents
            ),
            s AS (
              SELECT doc_id, text,
                     list_filter(string_split(text, chr(10)),
                                 l -> len(trim(l)) > 0) AS ls,
                     string_split_regex(trim(text), '\s+') AS ws,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE length(string_split_regex(trim(text), '\s+'))
                          END AS n_tokens
              FROM corp
            ),
            m AS (
              SELECT doc_id,
                     CAST(n_tokens AS BIGINT) AS n_tokens,
                     round(length(regexp_replace(text, '\s+', '', 'g'))
                           / greatest(CAST(n_tokens AS DOUBLE), 1.0), 6)
                       AS mean_word_len,
                     round(len(list_filter(ls, l ->
                             starts_with(ltrim(l), '-')
                             OR starts_with(ltrim(l), '*')
                             OR starts_with(ltrim(l), '•')))
                           / greatest(CAST(len(ls) AS DOUBLE), 1.0), 6)
                       AS frac_lines_bullet,
                     round(len(list_filter(ls, l ->
                             ends_with(rtrim(l), '...')
                             OR ends_with(rtrim(l), '…')))
                           / greatest(CAST(len(ls) AS DOUBLE), 1.0), 6)
                       AS frac_lines_ellipsis,
                     round(len(list_filter(ws, w ->
                             regexp_matches(w, '[A-Za-z]')))
                           / greatest(CAST(n_tokens AS DOUBLE), 1.0), 6)
                       AS frac_words_alpha
              FROM s
            )
            SELECT *,
                   n_tokens >= 50 AND n_tokens <= 100000
                   AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                   AND frac_lines_bullet <= 0.9
                   AND frac_lines_ellipsis <= 0.3
                   AND frac_words_alpha >= 0.8 AS passes_gopher
            FROM m
        """,
        "shard_pack_shuffled": r"""
            WITH t AS (
              SELECT doc_id,
                     CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE length(string_split_regex(trim(text), '\s+'))
                          END AS BIGINT) AS n_tokens,
                     ((((doc_id % 2147483648) + 2147483648) % 2147483648)
                      * 2654435761) % 4294967296 AS b32
              FROM documents
            ),
            c AS (SELECT doc_id, n_tokens,
                         sum(n_tokens) OVER (ORDER BY b32 ASC, doc_id ASC
                                             ROWS UNBOUNDED PRECEDING) AS cum
                  FROM t)
            SELECT doc_id, n_tokens,
                   CAST((cum - n_tokens) // 2000 AS BIGINT) AS shard_id
            FROM c
        """,
        "corpus_curation_e2e": r"""
            WITH corp0 AS (
              SELECT doc_id,
                     'Accept all cookies' || chr(10) || text ||
                     CASE WHEN doc_id % 13 = 7
                          THEN chr(10) || repeat('?!.,;:0123456789 ', 10)
                               || doc_id
                          ELSE '' END ||
                     CASE WHEN doc_id % 2 = 0
                          THEN chr(10) || '(c) ex.org crawl' ELSE '' END
                       AS text,
                     lang
              FROM documents
            ),
            corp AS (
              SELECT doc_id, text, lang FROM corp0
              UNION ALL
              SELECT doc_id + 10000000, text, lang FROM corp0
              WHERE doc_id % 5 = 0
            ),
            -- 2. exact collapse: min-id row per byte-identical text
            ex AS (
              SELECT doc_id, text, lang FROM (
                SELECT *, row_number() OVER (PARTITION BY text
                                             ORDER BY doc_id) AS rn
                FROM corp) WHERE rn = 1
            ),
            -- 3. line dedup (lines in >= 2 distinct docs evicted)
            w AS (SELECT doc_id, lang, string_split(text, chr(10)) AS ls
                  FROM ex),
            l AS (SELECT doc_id, lang,
                         unnest([{'pos': i, 'line': ls[i + 1]}
                                 FOR i IN range(len(ls))]) AS s
                  FROM w),
            ne AS (SELECT doc_id, lang, s.pos AS pos, s.line AS line FROM l
                   WHERE len(trim(s.line)) > 0),
            nd AS (SELECT trim(line) AS k, count(DISTINCT doc_id) AS ndocs
                   FROM ne GROUP BY 1),
            jj AS (SELECT ne.doc_id, ne.lang, ne.pos, ne.line, nd.ndocs
                   FROM ne JOIN nd ON trim(ne.line) = nd.k),
            ldd AS (
              SELECT doc_id, any_value(lang) AS lang,
                     coalesce(string_agg(line, chr(10) ORDER BY pos)
                              FILTER (WHERE ndocs < 2), '') AS text
              FROM jj GROUP BY doc_id
            ),
            -- 4. quality + length gate on the post-boilerplate text
            g AS (
              SELECT doc_id, lang, text,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE length(string_split_regex(trim(text), '\s+'))
                          END AS n_tokens,
                     round(greatest(1.0
                       - least(round(length(regexp_replace(text,
                           '[^.,;:!?]', '', 'g')) / greatest(length(text),
                           1.0), 6) * 4.0, 0.3)
                       - least(round(length(regexp_replace(text,
                           '[^0-9]', '', 'g')) / greatest(length(text),
                           1.0), 6) * 3.0, 0.3)
                       - CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0
                              ELSE length(string_split_regex(trim(text),
                              '\s+')) END) < 10 THEN 0.4 ELSE 0.0 END,
                       0.0), 6) AS quality
              FROM ldd
            ),
            gated AS (SELECT * FROM g
                      WHERE n_tokens >= 10 AND quality >= 0.5),
            -- 5. decontam: drop docs sharing an 8-gram with the eval side
            gw AS (SELECT doc_id,
                          string_split_regex(trim(text), '\s+') AS ws
                   FROM gated),
            gg AS (SELECT doc_id,
                          CASE WHEN len(ws) >= 8 THEN
                            list_distinct([ws[i+1] || ' ' || ws[i+2] || ' '
                              || ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5]
                              || ' ' || ws[i+6] || ' ' || ws[i+7] || ' '
                              || ws[i+8] FOR i IN range(len(ws) - 7)])
                          ELSE [] END AS gs
                   FROM gw),
            docg AS (SELECT doc_id, unnest(gs) AS gram FROM gg),
            evw AS (SELECT string_split_regex(trim(text), '\s+') AS ws
                    FROM documents WHERE doc_id % 41 = 3),
            evg0 AS (SELECT CASE WHEN len(ws) >= 8 THEN
                              list_distinct([ws[i+1] || ' ' || ws[i+2] || ' '
                                || ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5]
                                || ' ' || ws[i+6] || ' ' || ws[i+7] || ' '
                                || ws[i+8] FOR i IN range(len(ws) - 7)])
                            ELSE [] END AS gs
                     FROM evw),
            evg AS (SELECT DISTINCT unnest(gs) AS gram FROM evg0),
            contaminated AS (SELECT DISTINCT doc_id
                             FROM docg JOIN evg USING (gram)),
            clean AS (SELECT * FROM gated
                      WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
            -- 6./7. stratified sample (en 1.0 / de 0.5 / else 0.25) + split:
            -- the sample bucket bs is the salted second Knuth fold
            -- (independent of the split bucket b, packing.sample_bucket)
            bk AS (SELECT *,
                          ((((doc_id % 2147483648) + 2147483648)
                            % 2147483648) * 2654435761)
                          % 4294967296 % 10000 AS b,
                          ((((((((doc_id % 2147483648) + 2147483648)
                               % 2147483648) * 2654435761) % 4294967296
                              + 1013904223) % 2147483648) * 2654435761)
                           % 4294967296) % 10000 AS bs
                   FROM clean),
            samp AS (SELECT * FROM bk
                     WHERE bs < CASE lang WHEN 'en' THEN 10000
                                          WHEN 'de' THEN 5000
                                          ELSE 2500 END),
            sp AS (SELECT doc_id, lang, n_tokens, quality,
                          CASE WHEN b < 9800 THEN 'train'
                               WHEN b < 9900 THEN 'val'
                               ELSE 'test' END AS split
                   FROM samp),
            -- 8. pack the train split to 500-token shards
            tr AS (SELECT doc_id, n_tokens,
                          sum(n_tokens) OVER (ORDER BY n_tokens DESC,
                                              doc_id ASC
                                              ROWS UNBOUNDED PRECEDING)
                            AS cum
                   FROM sp WHERE split = 'train'),
            shard AS (SELECT doc_id,
                             CAST((cum - n_tokens) // 500 AS BIGINT)
                               AS shard_id
                      FROM tr)
            SELECT sp.doc_id, sp.lang, CAST(sp.n_tokens AS BIGINT)
                     AS n_tokens,
                   sp.quality, sp.split, shard.shard_id
            FROM sp LEFT JOIN shard USING (doc_id)
        """,
        "token_shard_packing": r"""
            WITH t AS (
              SELECT doc_id,
                     CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE length(string_split_regex(trim(text), '\s+'))
                          END AS BIGINT) AS n_tokens
              FROM documents
            ),
            c AS (SELECT doc_id, n_tokens,
                         sum(n_tokens) OVER (ORDER BY n_tokens DESC,
                                             doc_id ASC
                                             ROWS UNBOUNDED PRECEDING) AS cum
                  FROM t)
            SELECT doc_id, n_tokens,
                   CAST((cum - n_tokens) // 2000 AS BIGINT) AS shard_id
            FROM c
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
        # Flagship oracle: exact all-pairs char-5-shingle Jaccard over
        # distinct normalized texts + recursive-CTE connected components.
        # Valid because the corpus has a measured clean margin: every true
        # pair has J >= 0.85 (nothing in [0.4, 0.85)), so the engine's
        # probabilistic LSH/gates cannot flip any pair's decision.
        "near_dup_clusters": f"""
            WITH RECURSIVE
            d AS ({_DUP_DOCS_SQL}),
            reps AS (SELECT min(doc_id) AS rep_id, text FROM d GROUP BY text),
            norm AS (SELECT rep_id,
                            trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
                     FROM reps),
            sh AS (
                SELECT DISTINCT rep_id, substring(nt, CAST(i AS INT), 5) AS g
                FROM norm, LATERAL unnest(range(1, greatest(length(nt) - 3, 2))) t(i)
            ),
            sizes AS (SELECT rep_id, count(*) AS n FROM sh GROUP BY rep_id),
            inter AS (
                SELECT a.rep_id AS ia, b.rep_id AS ib, count(*) AS m
                FROM sh a JOIN sh b ON a.g = b.g AND a.rep_id < b.rep_id
                GROUP BY 1, 2
            ),
            pairs AS (
                SELECT ia, ib FROM inter
                JOIN sizes sa ON sa.rep_id = ia
                JOIN sizes sb ON sb.rep_id = ib
                WHERE m * 1.0 / (sa.n + sb.n - m) >= 0.7
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
            comp AS (SELECT node, min(label) AS cid FROM walk GROUP BY node)
            SELECT d.doc_id, coalesce(c.cid, r.rep_id) AS cluster_id
            FROM d JOIN reps r ON d.text = r.text
            LEFT JOIN comp c ON c.node = r.rep_id
        """,
        # Same CC skeleton over token-3-gram Jaccard >= 0.8 (measured
        # margin: true pairs >= 0.9, others < 0.3)
        "ngram_jaccard_clusters": f"""
            WITH RECURSIVE
            d AS ({_DUP_DOCS_SQL}),
            reps AS (SELECT min(doc_id) AS rep_id, text FROM d GROUP BY text),
            toks AS (SELECT rep_id,
                            string_split(trim(regexp_replace(lower(text),
                                '\\s+', ' ', 'g')), ' ') AS tk
                     FROM reps),
            grams AS (
                SELECT DISTINCT rep_id,
                       CASE WHEN len(tk) < 3 THEN array_to_string(tk, ' ')
                            ELSE tk[CAST(i AS INT)] || ' ' ||
                                 tk[CAST(i AS INT) + 1] || ' ' ||
                                 tk[CAST(i AS INT) + 2] END AS g
                FROM toks, LATERAL unnest(range(1, greatest(len(tk) - 1, 2))) t(i)
            ),
            sizes AS (SELECT rep_id, count(*) AS n FROM grams GROUP BY rep_id),
            inter AS (
                SELECT a.rep_id AS ia, b.rep_id AS ib, count(*) AS m
                FROM grams a JOIN grams b ON a.g = b.g AND a.rep_id < b.rep_id
                GROUP BY 1, 2
            ),
            pairs AS (
                SELECT ia, ib FROM inter
                JOIN sizes sa ON sa.rep_id = ia
                JOIN sizes sb ON sb.rep_id = ib
                WHERE m * 1.0 / (sa.n + sb.n - m) >= 0.8
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
            comp AS (SELECT node, min(label) AS cid FROM walk GROUP BY node)
            SELECT d.doc_id, coalesce(c.cid, r.rep_id) AS cluster_id
            FROM d JOIN reps r ON d.text = r.text
            LEFT JOIN comp c ON c.node = r.rep_id
        """,
        # The driver embeddings have max pairwise cosine 0.513 (measured),
        # far below tau=0.9 — the correct output is all singletons, and the
        # oracle verifies the banded LSH produces no false merges.  The
        # recall side at tau=0.9 is pytest'd on planted near-dup vectors.
        "embedding_cosine_clusters": """
            SELECT vec_id, CAST(vec_id AS BIGINT) AS cluster_id FROM embeddings
        """,
        "ann_cosine_topk": """
            SELECT query_id, neighbor_id, rank FROM (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_cosine_similarity(
                                  CAST(c.embedding AS DOUBLE[]),
                                  CAST(q.embedding AS DOUBLE[])) DESC,
                                c.vec_id ASC) AS rank
              FROM embeddings c, embeddings q
              WHERE c.vec_id >= 10 AND q.vec_id < 10 AND c.vec_id != q.vec_id
            ) WHERE rank <= 5
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
        "decontam_flags": r"""
            WITH w AS (
              SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
              FROM documents
            ),
            g AS (
              SELECT doc_id,
                     CASE WHEN len(ws) >= 8 THEN
                       list_distinct([ws[i+1] || ' ' || ws[i+2] || ' ' ||
                                      ws[i+3] || ' ' || ws[i+4] || ' ' ||
                                      ws[i+5] || ' ' || ws[i+6] || ' ' ||
                                      ws[i+7] || ' ' || ws[i+8]
                                      FOR i IN range(len(ws) - 7)])
                     ELSE [] END AS gs
              FROM w
            ),
            ev AS (SELECT DISTINCT unnest(gs) AS gram FROM g
                   WHERE doc_id % 41 = 3),
            e AS (SELECT doc_id, unnest(gs) AS gram FROM g),
            hits AS (SELECT doc_id, count(*) AS n_hits
                     FROM e JOIN ev USING (gram) GROUP BY 1)
            SELECT g.doc_id,
                   CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
                   coalesce(n_hits, 0) > 0 AS contaminated
            FROM g LEFT JOIN hits USING (doc_id)
        """,
        "pii_scrub_signals": r"""
            WITH injected AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0 THEN
                       text || ' contact u' || CAST(doc_id AS VARCHAR)
                            || '@mail.example.com or 10.0.'
                            || CAST(doc_id % 256 AS VARCHAR)
                            || '.5 tel +1 555 01'
                            || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                            || ' 4242'
                     ELSE text END AS text
              FROM documents
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                     AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(text,
                     '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
                     AS BIGINT) AS n_ipv4,
                   CAST(len(regexp_extract_all(text,
                     '\+\d{1,2}[ -]\d{3}[ -]\d{3,4}[ -]\d{4}'))
                     AS BIGINT) AS n_phones,
                   md5(regexp_replace(regexp_replace(regexp_replace(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                     '<EMAIL>', 'g'),
                     '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
                     '<IPV4>', 'g'),
                     '\+\d{1,2}[ -]\d{3}[ -]\d{3,4}[ -]\d{4}',
                     '<PHONE>', 'g')) AS redacted_md5
            FROM injected
        """,
        "vocab_top100": r"""
            WITH t AS (
              SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
              FROM documents
            )
            SELECT word, CAST(count(*) AS BIGINT) AS n_occurrences
            FROM t WHERE length(word) > 0
            GROUP BY 1
            ORDER BY n_occurrences DESC, word ASC
            LIMIT 100
        """,
        # bigram LM with add-1 smoothing, self-trained: P(w2|w1) =
        # (C12+1)/(C1+V) with C1 = w1's count as bigram LEFT context and V
        # = |vocab|; perplexity computed from the 6dp-ROUNDED avg logprob
        # on both sides so float summation order cannot flip a digit
        "lm_perplexity": r"""
            WITH w AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                 x -> len(x) > 0) AS ws
              FROM documents
            ),
            p AS (
              SELECT doc_id, len(ws) AS n_tokens,
                     CASE WHEN len(ws) >= 2 THEN
                       [{'w1': ws[i + 1], 'w2': ws[i + 2]}
                        FOR i IN range(len(ws) - 1)]
                     ELSE [] END AS bgs
              FROM w
            ),
            e AS (SELECT doc_id, s.w1 AS w1, s.w2 AS w2
                  FROM (SELECT doc_id, unnest(bgs) AS s FROM p)),
            c12 AS (SELECT w1, w2, count(*) AS n12 FROM e GROUP BY 1, 2),
            c1 AS (SELECT w1, sum(n12) AS n1 FROM c12 GROUP BY 1),
            v AS (SELECT count(DISTINCT x) AS vocab
                  FROM (SELECT unnest(ws) AS x FROM w)),
            sc AS (
              SELECT e.doc_id, count(*) AS n_bigrams,
                     avg(ln((n12 + 1.0) / (n1 + 1.0 * vocab))) AS avg_lp
              FROM e JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
                   CROSS JOIN v
              GROUP BY 1
            )
            SELECT p.doc_id,
                   CAST(n_tokens AS BIGINT) AS n_tokens,
                   CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams,
                   round(avg_lp, 6) AS avg_logprob,
                   round(exp(-round(avg_lp, 6)), 4) AS perplexity
            FROM p LEFT JOIN sc USING (doc_id)
        """,
        "intradoc_line_dedup": r"""
            WITH corp AS (
              SELECT doc_id,
                     'Subscribe now ' || doc_id || chr(10) || text ||
                     chr(10) || 'Subscribe now ' || doc_id || chr(10) ||
                     text AS text
              FROM documents
            ),
            w AS (SELECT doc_id, string_split(text, chr(10)) AS ls
                  FROM corp),
            l AS (SELECT doc_id,
                         unnest([{'pos': i, 'line': ls[i + 1]}
                                 FOR i IN range(len(ls))]) AS s
                  FROM w),
            ne AS (SELECT doc_id, s.pos AS pos, s.line AS line FROM l
                   WHERE len(trim(s.line)) > 0),
            f AS (SELECT doc_id, trim(line) AS k, min(pos) AS fpos,
                         arg_min(line, pos) AS fline,
                         count(*) - 1 AS n_repeats
                  FROM ne GROUP BY 1, 2),
            agg AS (
              SELECT doc_id,
                     string_agg(fline, chr(10) ORDER BY fpos) AS text_dedup,
                     count(*) + sum(n_repeats) AS n_lines,
                     sum(n_repeats) AS n_removed
              FROM f GROUP BY 1
            )
            SELECT d.doc_id,
                   coalesce(a.text_dedup, '') AS text_dedup,
                   CAST(coalesce(a.n_lines, 0) AS BIGINT) AS n_lines,
                   CAST(coalesce(a.n_removed, 0) AS BIGINT) AS n_removed
            FROM documents d LEFT JOIN agg a USING (doc_id)
        """,
        # duplicated-span scrub: grams keyed on the STRING in the oracle
        # (Spark side uses xxhash64 — identical statistics absent a 64-bit
        # collision, the dup_passage_frac precedent); cover = union of
        # [p, p+7] for flagged starts, kept = words at uncovered indices
        "dup_span_scrub": r"""
            WITH corp AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 5 = 0 THEN text ||
                       ' the shared spam footer block appended by the template engine here twice'
                     ELSE text END AS text
              FROM documents
            ),
            w AS (SELECT doc_id,
                         list_filter(string_split_regex(trim(text), '\s+'),
                                     x -> len(x) > 0) AS ws
                  FROM corp),
            g AS (SELECT doc_id, ws,
                         CASE WHEN len(ws) >= 8 THEN
                           [{'pos': i,
                             'gram': ws[i+1] || ' ' || ws[i+2] || ' ' ||
                                     ws[i+3] || ' ' || ws[i+4] || ' ' ||
                                     ws[i+5] || ' ' || ws[i+6] || ' ' ||
                                     ws[i+7] || ' ' || ws[i+8]}
                            FOR i IN range(len(ws) - 7)]
                         ELSE [] END AS gs
                  FROM w),
            e AS (SELECT doc_id, s.pos AS pos, s.gram AS gram
                  FROM (SELECT doc_id, unnest(gs) AS s FROM g)),
            dpg AS (SELECT gram FROM e GROUP BY gram
                    HAVING count(DISTINCT doc_id) >= 2),
            st AS (SELECT e.doc_id, list(e.pos) AS starts
                   FROM e JOIN dpg USING (gram) GROUP BY 1),
            cov AS (
              SELECT w.doc_id, w.ws,
                     coalesce(
                       list_distinct(flatten(
                         [range(p, p + 8) FOR p IN st.starts])),
                       []) AS covered
              FROM w LEFT JOIN st USING (doc_id)
            )
            SELECT doc_id,
                   coalesce(array_to_string(
                     [ws[i+1] FOR i IN range(len(ws))
                      IF NOT list_contains(covered, i)], ' '), '')
                     AS text_scrub,
                   CAST(len(ws) AS BIGINT) AS n_words,
                   CAST(len(covered) AS BIGINT) AS n_removed
            FROM cov
        """,
    }
    # The incremental-consolidation e2e must be indistinguishable from a
    # full recompute on the union corpus, so its oracle IS the
    # full-recompute oracle, verbatim.
    sql["pages_dedup_incremental_e2e"] = sql["pages_dedup_e2e"]
    return sql

