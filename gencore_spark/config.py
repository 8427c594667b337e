"""Pipeline configuration.

The reference (OpenGene/gencore) hard-pins its clustering knobs in
``src/options.cpp:10-41`` (umi_diff_threshold=1, cluster sizes, score
thresholds, skipLowComplexityClusterThreshold=1000).  We do the same with a
frozen dataclass: every stage reads thresholds from one ``DedupConfig`` so the
"identical shingle/signature config" correctness pin (BASELINE.json
``north_rule``) is a single object that tests, the pipeline, and the oracle
share.

LSH recall math (why the defaults are what they are)
----------------------------------------------------
With ``num_perms = bands * rows_per_band`` MinHash permutations, a pair with
true shingle-Jaccard ``J`` collides in at least one band with probability

    P(J) = 1 - (1 - J^rows) ** bands

Defaults rows=4, bands=32 give:

    J=0.70 -> 0.99984      J=0.80 -> ~1 - 4.7e-8
    J=0.60 -> 0.9883       J=0.50 -> 0.873

so for every pair at or above the verify threshold ``jaccard_threshold=0.7``
the candidate stage has recall >= 0.9998 — comfortably above the 0.99 gate
(BASELINE.json) — and the verify stage only *removes false positives*, never
true pairs.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class DedupConfig:
    # --- shingling / signatures (the "shingle/signature config" pin) ---
    shingle_k: int = 5            # char k-shingles over normalized text
    bands: int = 32               # LSH bands
    rows_per_band: int = 4        # rows per band (bands*rows = num_perms)
    seed: int = 42                # perm seed; pins signatures bit-for-bit

    # --- verification gates (reference: isDupWith pair.cpp:307-326 — an AND
    # of positional identity and umi-hamming<=1; ours is an AND of three
    # text-similarity gates, Jaccard being the decisive one) ---
    jaccard_threshold: float = 0.7     # exact char-shingle Jaccard gate
    simhash_max_hamming: int = 16      # 64-bit SimHash hamming gate (lenient)
    # LCS >= ratio * min(len_a, len_b).  Deliberately low: its job is to
    # reject bag-of-words collisions (shared vocabulary, no contiguous run —
    # measured lcs_ratio < 0.01), NOT to re-test similarity.  True near-dups
    # with distributed ~5% token edits bottom out around lcs_ratio 0.06, so
    # 0.02 separates the two populations with 3x margin on both sides.
    lcs_min_ratio: float = 0.02

    # --- routing / gates (reference: unmapped passthrough gencore.cpp:255-266,
    # supporting_reads gate cluster.cpp:138-182) ---
    min_text_len: int = 16        # shorter docs bypass dedup (F2 analog)
    min_cluster_size: int = 1     # emit clusters with fr >= this (A7 analog)
    # A5 ratio-threshold fallback (reference: the base vote flags weak
    # majorities via score-ratio thresholds, group.cpp:394-501 with knobs
    # in options.cpp:18-30): a canonical whose winning text holds less
    # than this share of the cluster is emitted with low_confidence=true.
    vote_ratio_threshold: float = 0.8

    # --- skew control (reference: low-complexity cluster skip
    # group.cpp:142-175, threshold options.cpp:31) ---
    # Buckets above the cap switch from all-pairs to anchor-star candidate
    # generation (O(n) edges; connectivity preserved through the anchor).
    # 64 keeps worst-case per-bucket pair cost at C(64,2)=2016 — the same
    # order as the reference's 1000-pair cluster guard (options.cpp:31).
    bucket_size_cap: int = 64

    # --- connected components ---
    # large-star/small-star cycle bound; running out raises RuntimeError
    cc_max_iterations: int = 25

    # --- execution ---
    # Pair-payload attach strategy cutover (operators/verify.py
    # attach_pair_payload): payload sides with <= this many rows are
    # broadcast (two broadcast-hash joins, zero exchanges, no sort);
    # bigger sides use the explode+fold shape that never rests on a
    # single-executor copy.  ~1 KB/doc text ⇒ default caps the broadcast
    # at ~100 MB, inside executor memory on any sane cluster profile.
    attach_broadcast_max_rows: int = 100_000

    @property
    def num_perms(self) -> int:
        """MinHash permutations: one per row of every band (128)."""
        return self.bands * self.rows_per_band

    def candidate_recall_at(self, jaccard: float) -> float:
        """P(candidate stage catches a pair with true Jaccard ``jaccard``)."""
        return 1.0 - (1.0 - jaccard ** self.rows_per_band) ** self.bands


DEFAULT_CONFIG = DedupConfig()
