"""End-to-end corpus curation: the training-data tail as ONE composition.

Reference analog: the reference's own pipeline is a fixed composition of
its stages (read → group → vote → write, ``gencore.cpp:318-390``); this is
the webtext counterpart, chaining the repo's curation operators in the
order a pretraining corpus actually needs:

1. **url refetch collapse** (optional — when ``url``/``warc_ts`` present):
   drop re-crawls before anything text-keyed (`operators/urldedup.py`).
2. **exact text collapse**: byte-identical copies BEFORE line dedup — a
   full-document duplicate would otherwise make every one of its lines
   "corpus-duplicated" and line dedup would erase the content of all
   copies at once.
3. **boilerplate line dedup** (CCNet-style, `operators/lines.py`).
4. **quality + length gate** on the line-deduped text.
4b. **perplexity gate** (optional, ``max_perplexity=``): CCNet-style
   bigram-LM filter (`operators/lm.py`) — trained on ``lm_train_df``
   (the clean reference corpus) or self-trained on the survivors;
   runs in 8-byte-hash digest mode so only long keys shuffle.
5. **benchmark decontamination**: drop docs sharing an 8-word-gram with
   the eval side (`operators/decontam.py`).
6. **stratified sampling**: per-stratum rebalance (`packing.py`).
7. **train/val/test split** (`packing.py::hash_split`).
8. **token-budget shard packing** — train split only (the unit a trainer
   streams); val/test stay unsharded (``shard_id`` NULL).

Near-duplicate clustering (the dedup engine's MinHash/LSH/verify/CC
stages, :func:`_near_dup_losers`) slots in between 2 and 3 via
``near_dup=True``, and containment (truncation) collapse
(`containment.py::containment_dedup` — the near-subset case whose Jaccard
is far below any near-dup threshold) after it via ``containment=True``;
both are off by default here because the composition below is exactly
SQL-expressible end to end.  Both optional stages are pinned by pytest.

Scale shape (the part that must survive 1000 executors × 100 TB):

* one text-keyed shuffle (exact collapse: min(struct) argmax — partial
  aggregable, text moves once);
* line dedup's line-key aggregation + one id-keyed rejoin;
* decontamination never shuffles the corpus (eval grams broadcast out,
  rare hits broadcast back);
* sampling / splitting are narrow filters (hash of the id);
* packing range-partitions ONLY the surviving train split and runs the
  distributed prefix-sum (driver sees one number per partition).

No window over an unpartitioned ORDER BY anywhere; no per-row Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import DEFAULT_CONFIG
from .components import connected_components
from .decontam import decontaminate
from .exact import _H2_SEED, normalize_expr, with_signatures
from .lines import line_dedup
from .lsh import candidate_pairs
from .packing import hash_split, pack_into_token_shards, stratified_sample
from .textstats import quality_expr, token_count
from .urldedup import url_dedup
from .verify import verify_pairs


def _near_dup_losers(d: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id_col) of every near-dup cluster member but the min-id one.

    ``d`` holds distinct texts (the exact collapse ran first), so each
    document is its own text rep and the dedup engine's stages run on it
    directly: signatures → LSH band join → verify → connected components.
    """
    cfg = DEFAULT_CONFIG
    # signed feeds the band join and both verify joins: persist so the
    # signature UDF runs once per doc; connected_components fetches (or
    # pins) its input, so the caches can go once it returns
    signed = with_signatures(
        d.select(
            F.col(id_col).alias("rep_id"),
            normalize_expr(F.col(text_col)).alias("norm_text"),
        ),
        cfg,
    ).persist()
    edges, _ = candidate_pairs(signed.select("rep_id", "minhash"), cfg)
    try:
        verified = verify_pairs(edges, signed, cfg, n_payload_rows=signed.count())
        cc = connected_components(verified.select("id_a", "id_b"), cfg)
    finally:
        signed.unpersist()
    return cc.filter(F.col("rep_id") != F.col("cluster_id")).select(
        F.col("rep_id").alias(id_col)
    )


def curate_corpus(
    docs: DataFrame,
    eval_docs: DataFrame | None = None,
    *,
    sample_rates: dict[str, float] | None = None,
    default_rate: float = 1.0,
    stratum_col: str = "lang",
    min_tokens: int = 10,
    min_quality: float = 0.5,
    line_min_dup_docs: int = 2,
    ngram_n: int = 8,
    token_budget: int = 2000,
    split_weights: dict[str, float] | None = None,
    near_dup: bool = False,
    containment: bool = False,
    max_perplexity: float | None = None,
    lm_train_df: DataFrame | None = None,
    max_docs_per_domain: int | None = None,
    attrition: dict | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Run the full curation tail; returns one row per SURVIVING document:

    ``(doc_id, <stratum_col>, n_tokens, quality, split, shard_id)``

    with ``shard_id`` set for the train split (packed to ``token_budget``
    tokens per shard) and NULL for val/test.  Deterministic: every stage
    is a pure function of the input rows (hash-based sampling/splits, no
    ``rand()``), so reruns and retries produce the identical corpus.

    Pass an empty dict as ``attrition`` to get per-stage survivor counts
    (the curation REPORT, sibling of ``dedup_pages``'s REPORT.json):
    ``docs_in``, ``after_url_dedup``, ``after_domain_cap``,
    ``after_exact``, ``after_near_dup``, ``after_containment``,
    ``boilerplate_lines_removed``, ``after_quality_gate``,
    ``after_perplexity``, ``after_decontam``, ``after_sample``, and
    ``splits`` (rows per split).  Counting forces one extra scan per
    stage boundary AT CALL TIME — an opt-in cost; the default path's only
    call-time work is the packing offsets collect (P numbers, by design).
    Absent stages are simply not reported.
    """
    track = attrition is not None
    # -- 1. url refetch collapse (only when the crawl columns exist), then
    # the optional anti-spam per-domain cap (domains.py two-phase top-N;
    # first-crawled wins via ascending id)
    if track:
        attrition["docs_in"] = docs.count()
    if "url" in docs.columns and "warc_ts" in docs.columns:
        docs = url_dedup(docs)
        if track:
            attrition["after_url_dedup"] = docs.count()
    if max_docs_per_domain is not None:
        if "url" not in docs.columns:
            raise ValueError("max_docs_per_domain needs a url column")
        from .domains import domain_cap

        docs = domain_cap(docs, max_docs_per_domain, order_col=id_col)
        if track:
            attrition["after_domain_cap"] = docs.count()
    d = docs.select(id_col, stratum_col, text_col)

    # -- 2. exact collapse: min-id row per byte-identical text.  min(struct)
    # with the unique id first is a deterministic argmin and partial-
    # aggregates map-side; the 128-bit two-hash key avoids birthday false
    # merges at 10^12 distinct texts (exact.py::with_text_hash).
    win = (
        d.withColumn("__th1", F.xxhash64(text_col))
        .withColumn("__th2", F.xxhash64(F.lit(_H2_SEED), text_col))
        .groupBy("__th1", "__th2")
        .agg(F.min(F.struct(id_col, stratum_col, text_col)).alias("w"))
    )
    d = win.select(
        F.col(f"w.{id_col}").alias(id_col),
        F.col(f"w.{stratum_col}").alias(stratum_col),
        F.col(f"w.{text_col}").alias(text_col),
    )
    # Pin the exact-collapse output (lazy; materializes inside the first
    # downstream job): line dedup + its rejoin reference `d` 4x, and each
    # reference re-plans and partially re-executes the text-keyed shuffle
    # above.  Same per-stage materialization discipline as the dedup
    # pipeline's "stages" mode; at sandbox scale the win is mostly
    # DRIVER-SIDE PLANNING — the step-8 meta checkpoint was measured
    # (round 6) spending 2.7-5.8s compiling the unpinned ~12x-duplicated
    # tree, vs ~0.3s per pinned stage.
    d = d.localCheckpoint(eager=False)
    if track:
        attrition["after_exact"] = d.count()

    # -- 2b. optional near-dup collapse (MinHash/LSH/verify/CC engine):
    # keep the min-id member of every near-dup cluster.  Off by default so
    # the composition stays exactly SQL-expressible.
    if near_dup:
        d = d.join(_near_dup_losers(d, id_col, text_col), id_col, "left_anti")
        if track:
            attrition["after_near_dup"] = d.count()

    # -- 2c. optional containment (truncation) collapse — the Jaccard-miss
    # case near-dup structurally can't catch (a half-doc is ~0.5 Jaccard to
    # its source but ~1.0 contained in it): fold verified-contained docs
    # into their superset, keep only the supersets.  Runs AFTER near-dup so
    # the candidate index is built over cluster winners, not every variant.
    if containment:
        from .containment import containment_dedup

        folded = containment_dedup(
            d.select(F.col(id_col).alias("doc_id"),
                     F.col(text_col).alias("text"))
        )
        keep = folded.filter(F.col("canonical_id") == F.col("doc_id")).select(
            F.col("doc_id").alias(id_col)
        )
        d = d.join(keep, id_col, "left_semi")
        if track:
            attrition["after_containment"] = d.count()

    # -- 3. boilerplate line dedup; the deduped text replaces the original
    ld = line_dedup(d, text_col=text_col, id_col=id_col, min_dup_docs=line_min_dup_docs)
    if track:
        attrition["boilerplate_lines_removed"] = int(
            ld.agg(F.sum("n_removed")).collect()[0][0] or 0
        )
    d = d.drop(text_col).join(
        ld.select(id_col, F.col("text_dedup").alias(text_col)), id_col
    )

    # -- 4. quality + length gate on the post-boilerplate text
    d = d.withColumn("n_tokens", token_count(F.col(text_col)).cast("long")).withColumn(
        "quality", quality_expr(F.col(text_col))
    )
    d = d.filter((F.col("n_tokens") >= min_tokens) & (F.col("quality") >= min_quality))
    # Pin the quality-gate survivors (lazy): the optional perplexity gate
    # and the decontamination step each reference `d` 2-3x (score/flag
    # branch + the semi/anti join back), which would re-run the whole
    # line-dedup rejoin per reference — this pin also discharges the
    # round-5 advice that bigram_lm_score's eager path re-executed d's
    # upstream twice.
    d = d.localCheckpoint(eager=False)
    if track:
        attrition["after_quality_gate"] = d.count()

    # -- 4b. optional perplexity gate (CCNet): score the post-boilerplate
    # text under a bigram LM — trained on lm_train_df when given (the
    # clean reference corpus), else self-trained on the survivors, which
    # evicts statistical outliers.  digest='xxhash64' so the gram joins
    # carry 8-byte keys; docs with no bigram evidence (n_bigrams = 0) pass
    # — content-length policing is the quality gate's job, not the LM's.
    if max_perplexity is not None:
        from .lm import bigram_lm_score

        scored = bigram_lm_score(
            d, text_col=text_col, id_col=id_col,
            train_df=lm_train_df, digest="xxhash64",
        )
        keep_ppl = scored.filter(
            (F.col("n_bigrams") == 0)
            | (F.col("perplexity") <= float(max_perplexity))
        ).select(id_col)
        d = d.join(keep_ppl, id_col, "left_semi")
        if track:
            attrition["after_perplexity"] = d.count()

    # -- 5. decontamination (corpus side never shuffles)
    if eval_docs is not None:
        d = decontaminate(d, eval_docs, n=ngram_n, text_col=text_col, id_col=id_col)
        if track:
            attrition["after_decontam"] = d.count()

    # -- 6./7. stratified rebalance + deterministic split
    if sample_rates is not None:
        d = stratified_sample(
            d, sample_rates, stratum_col=stratum_col,
            default_rate=default_rate, id_col=id_col,
        )
        if track:
            attrition["after_sample"] = d.count()
    d = hash_split(d, split_weights, id_col=id_col)

    # -- 8. pack the train split into fixed-token shards.  `meta` feeds
    # BOTH the returned rows and the packing branch — without pinning,
    # every upstream stage (exact shuffle, line dedup, decontam) runs
    # twice.  Lazy localCheckpoint materializes once on first use and is
    # tiny: 5 metadata columns for survivors, no text.
    meta = d.select(
        id_col, stratum_col, "n_tokens", "quality", "split"
    ).localCheckpoint(eager=False)
    if track:
        attrition["splits"] = {
            r["split"]: r["n"]
            for r in meta.groupBy("split").agg(F.count("*").alias("n")).collect()
        }
    train = meta.filter(F.col("split") == "train")
    shards = pack_into_token_shards(
        train, token_budget=token_budget, size_col="n_tokens", id_col=id_col
    ).select(id_col, "shard_id")
    return meta.join(shards, id_col, "left").select(
        id_col, stratum_col, "n_tokens", "quality", "split",
        F.col("shard_id").cast("long").alias("shard_id"),
    )
