"""Stage 6: per-cluster consensus vote — elect one canonical doc.

Reference analog: ``makeConsensus`` per-base weighted majority vote
(``group.cpp:320-579``) + representative-read election
(``group.cpp:196-267``) + duplex merge (``cluster.cpp:119-168``).

Ours votes on whole fields over the cluster's member rows.  Documented
deterministic tie-break (the analog of gencore's score → qual → shorter
ladder, ``group.cpp:394-501``):

1. winning text = most member votes (exact text_hash count) —
   **votes desc**;
2. tie → **most-contained text** (``containment`` column when present —
   the rep's best shingle-containment within a verified neighbor; gencore's
   representative pick, ``group.cpp:196-267``);
3. tie → **shorter text** (gencore: shorter read wins);
4. tie → **text_hash asc** (pure determinism);
5. canonical row among winning-text rows: **url asc**, then **warc_ts asc**
   (earliest fetch of the lexicographically-first url form).

Execution shape: a single hash aggregation with a ``min_by`` over a struct
ordering key — NOT a ``row_number`` window.  A window over ``cluster_id``
makes one boilerplate mega-cluster one straggler task at 100× scale; the
aggregate gets map-side partial combine for free.

Output columns (the FR/RR aux-tag analog, ``pair.cpp:54-68``):

* ``fr``  — cluster size (supporting docs, incl. the canonical);
* ``rr``  — mirror-variant support: member urls that normalize to the
  canonical's mirror key (http/https × www × trailing slash folded), minus
  the canonical itself — the duplex-strand count analog;
* ``n_variants`` — distinct texts in the cluster (the NM-delta analog).

Everything is JVM-side DataFrame ops (four hash aggregations, no window);
no Python in this stage.  The vote keeps every cluster: the caller applies
the ``min_cluster_size`` gate (:func:`size_gate`) to its output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import DedupConfig


def size_gate(min_cluster_size: int):
    """The A7 ``supporting_reads`` gate (``cluster.cpp:138-182``) on voted
    rows: the cluster has at least ``min_cluster_size`` members."""
    return F.col("fr") >= min_cluster_size


def mirror_key(url_col="url"):
    """http/https, leading www., trailing slash folded — the duplex mirror
    key (the normalized-UMI-halves analog, ``cluster.cpp:246-258``)."""
    return F.regexp_replace(
        F.regexp_replace(F.col(url_col), r"^https?://(www\.)?", ""), r"/$", ""
    )


def consensus_vote(members: DataFrame, cfg: DedupConfig) -> DataFrame:
    """members (doc_id, url, warc_ts, html, text, lang, text_hash,
    cluster_id) → one canonical row per cluster with fr/rr/n_variants.

    Shuffle-byte discipline: the election itself runs on metadata only —
    ``text`` (the fat payload) is stripped up front (its length, the only
    thing the vote needs, is precomputed) and re-attached to the winners
    by one ``doc_id`` join at the end.  Carrying text through the
    vote/mirror/stats shuffles moved every member's text 2-4x; this moves
    each text once.
    """
    has_text = "text" in members.columns
    if has_text:
        text_by_doc = members.select("doc_id", "text")
        members = members.withColumn("text_len", F.length("text")).drop("text")
    # Pin the text-stripped member metadata: it feeds FOUR
    # aggregation branches below (votes, stats, ranked's probe side,
    # mirror_counts), and each branch is a separate evaluation of the
    # upstream members tree — in the pipeline that tree is two joins over
    # the docs/cluster tables per evaluation.  Thin rows only (~100 B/doc,
    # text already split off above), so the materialization is smaller
    # than any of the stage snapshots the pipeline already writes.
    # ``eager=False`` defers only the final stage: creating the pin builds
    # its RDD, which runs the members plan's broadcasts and, under AQE,
    # its shuffle stages here, before the caller's action (4 jobs of the
    # batch's s5 at seed 7).
    m = members.withColumn("mirror_key", mirror_key()).localCheckpoint(eager=False)

    votes = m.groupBy("cluster_id", "text_hash").agg(
        F.count(F.lit(1)).alias("votes")
    )
    stats = m.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("fr"),
        F.countDistinct("text_hash").alias("n_variants"),
    )

    ranked = m.join(votes, ["cluster_id", "text_hash"])
    order_fields = [(-F.col("votes")).alias("neg_votes")]
    if "containment" in members.columns:
        order_fields.append(
            (-F.coalesce(F.col("containment"), F.lit(0.0))).alias("neg_cont")
        )
    order_fields += [
        (F.col("text_len") if has_text else F.length("text")).alias("o_len"),
        F.col("text_hash").alias("o_th"),
        F.col("url").alias("o_url"),
        F.col("warc_ts").alias("o_ts"),
    ]
    # keep the winner's vote count in the payload: it feeds the A5
    # ratio-threshold fallback below (vote_ratio / low_confidence)
    payload_cols = [c for c in ranked.columns if c != "cluster_id"]
    canonical = (
        ranked.groupBy("cluster_id")
        .agg(
            F.min_by(
                F.struct(*payload_cols), F.struct(*order_fields)
            ).alias("c")
        )
        .select("cluster_id", "c.*")
    )
    if "containment" in members.columns:
        canonical = canonical.drop("containment")

    mirror_counts = (
        m.groupBy("cluster_id", "mirror_key")
        .agg(F.count(F.lit(1)).alias("mirror_n"))
    )
    out = (
        canonical.join(mirror_counts, ["cluster_id", "mirror_key"])
        .join(stats, "cluster_id")
        .withColumn("rr", (F.col("mirror_n") - F.lit(1)).cast("int"))
        # A5 fallback (group.cpp:394-501, options.cpp:18-30): the winning
        # text's share of the cluster; a weak majority is flagged, not
        # silently emitted as if unanimous
        .withColumn("vote_ratio", F.round(F.col("votes") / F.col("fr"), 6))
        .withColumn(
            "low_confidence",
            F.col("vote_ratio") < F.lit(cfg.vote_ratio_threshold),
        )
        .drop("mirror_n", "mirror_key", "votes")
    )
    if has_text:
        out = out.drop("text_len").join(text_by_doc, "doc_id")
    return out
