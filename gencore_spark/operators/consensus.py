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

Execution shape: two levels of hash aggregation with ``min_by`` over
struct ordering keys — NOT a ``row_number`` window.  Level 1 groups by
(cluster, text) and keeps each text's votes, containment and earliest row
(rung 5); level 2 groups those by cluster and elects the text (rungs
1-4).  A window over ``cluster_id`` makes one boilerplate mega-cluster
one straggler task at 100× scale, and so would any whole-cluster buffer
(a ``collect_list`` or a grouped-map pandas UDF per cluster); the
aggregates get map-side partial combine for free.

Output columns (the FR/RR aux-tag analog, ``pair.cpp:54-68``):

* ``fr``  — cluster size (supporting docs, incl. the canonical);
* ``rr``  — mirror-variant support: member urls that normalize to the
  canonical's mirror key (http/https × www × trailing slash folded), minus
  the canonical itself — the duplex-strand count analog;
* ``n_variants`` — distinct texts in the cluster (the NM-delta analog).

Everything is JVM-side DataFrame ops (three hash aggregations — the two
levels and the mirror counts — and no window); no Python in this stage.
The vote keeps every cluster: the caller applies the ``min_cluster_size``
gate (:func:`size_gate`) to its output.
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
    """members (doc_id, url, warc_ts, text, lang, text_hash, cluster_id
    [, containment]) → one canonical row per cluster with fr/rr/n_variants.

    Shuffle-byte discipline: the election itself runs on metadata only —
    ``text`` (the fat payload) is stripped up front (its length, the only
    thing the vote needs, is precomputed) and re-attached to the winners
    by one ``doc_id`` join at the end.  Carrying text through the
    vote/mirror shuffles moved every member's text 2-4x; this moves each
    text once.
    """
    text_by_doc = members.select("doc_id", "text")
    cont = F.col("containment") if "containment" in members.columns else F.lit(0.0)
    # Pin the text-stripped member metadata: it feeds TWO aggregation
    # branches below (the per-text level and the mirror counts), and each
    # branch is a separate evaluation of the upstream members tree — in
    # the pipeline that tree is two joins over the docs/cluster tables per
    # evaluation.  Thin rows only (~100 B/doc, text already split off), so
    # the materialization is smaller than any of the stage snapshots the
    # pipeline already writes.  ``eager=False`` defers only the final
    # stage: creating the pin builds its RDD, which runs the members
    # plan's broadcasts and, under AQE, its shuffle stages here, before
    # the caller's action (4 jobs of the batch's s5 at seed 7).
    m = (
        members.withColumn("text_len", F.length("text"))
        .withColumn("cont", F.coalesce(cont, F.lit(0.0)))
        .withColumn("mirror_key", mirror_key())
        .drop("text", "containment")
        .localCheckpoint(eager=False)
    )
    row = F.struct(
        *[c for c in m.columns if c not in ("cluster_id", "text_hash", "cont")]
    )
    # level 1, one row per (cluster, text): its votes, its containment and
    # its earliest row (rung 5)
    texts = m.groupBy("cluster_id", "text_hash").agg(
        F.count(F.lit(1)).alias("votes"),
        F.max("cont").alias("cont"),
        F.min_by(row, F.struct("url", "warc_ts")).alias("row"),
    )
    # level 2, one row per cluster: the winning text (rungs 1-4)
    rank = F.struct(-F.col("votes"), -F.col("cont"), F.col("row.text_len"), "text_hash")
    canonical = texts.groupBy("cluster_id").agg(
        F.min_by(F.struct("votes", "text_hash", "row"), rank).alias("w"),
        F.sum("votes").alias("fr"),
        F.count("text_hash").alias("n_variants"),
    ).select("cluster_id", "fr", "n_variants", "w.votes", "w.text_hash", "w.row.*")

    # rr counts the members of every text, so it is its own aggregation
    mirror_counts = (
        m.groupBy("cluster_id", "mirror_key")
        .agg(F.count(F.lit(1)).alias("mirror_n"))
    )
    return (
        canonical.join(mirror_counts, ["cluster_id", "mirror_key"])
        .withColumn("rr", (F.col("mirror_n") - F.lit(1)).cast("int"))
        # A5 fallback (group.cpp:394-501, options.cpp:18-30): the winning
        # text's share of the cluster; a weak majority is flagged, not
        # silently emitted as if unanimous
        .withColumn("vote_ratio", F.round(F.col("votes") / F.col("fr"), 6))
        .withColumn(
            "low_confidence",
            F.col("vote_ratio") < F.lit(cfg.vote_ratio_threshold),
        )
        .drop("mirror_n", "mirror_key", "votes", "text_len")
        .join(text_by_doc, "doc_id")
    )
