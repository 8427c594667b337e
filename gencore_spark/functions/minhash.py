"""MinHash signatures + LSH band splitting (pure numpy, no Spark).

Reference analog: the coordinate cluster key ``(tid, left, right)``
(``gencore.cpp:296-313``) — the fixed-width key that routes records into the
hash-agg cluster index (``gencore.cpp:449-467``).  Ours routes documents via
band hashes of a MinHash signature; see :class:`gencore_spark.config
.DedupConfig` for the recall math that pins (num_perms, bands, rows).

Permutation family: multiply-add over uint64 with wraparound modulus —
``h_j(x) = a_j * x + b_j (mod 2**64)``, ``a_j`` odd.  Deterministic from
``seed`` (numpy PCG64), so signatures are pinned bit-for-bit across runs and
machines — the "identical shingle/signature config" pin.
"""

from __future__ import annotations

import numpy as np

from .shingle import shingle_hashes

_BAND_MIX = np.uint64(0x9E3779B97F4A7C15)  # splitmix64 golden-gamma


def perm_params(num_perms: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(a, b) multiply-add parameters, ``a`` forced odd; shape (num_perms,)."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, 1 << 63, size=num_perms, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
    b = rng.integers(0, 1 << 63, size=num_perms, dtype=np.uint64)
    return a, b


def minhash_signature(
    shingles: np.ndarray, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """Signature (num_perms,) uint64 for one shingle set.

    Empty shingle set → all-max signature (never collides with real docs).
    """
    if shingles.shape[0] == 0:
        return np.full(a.shape[0], np.iinfo(np.uint64).max, dtype=np.uint64)
    with np.errstate(over="ignore"):
        # (m, num_perms) outer multiply-add, min over shingle axis
        h = shingles[:, None] * a[None, :] + b[None, :]
    return h.min(axis=0)


# Scratch-buffer row cap.  Small on purpose: (512, 128) uint64 = 512 KiB
# keeps the multiply/add/min working set inside L2, so per-doc RAM traffic
# is just the shingle array instead of 3 full-buffer sweeps — this host is
# memory-bandwidth starved and the difference is ~10x.  Buffers are
# allocated ONCE per batch and reused (fresh large allocations page-fault
# at ~50 MB/s here).
_CHUNK_ROWS = 512


def minhash_many(texts: list[str], k: int, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Signatures for a batch of texts, shape (n_texts, num_perms) uint64.

    Per-doc numpy inner loop with one reused scratch buffer; work per doc is
    |shingles| * num_perms fused multiply-add-min passes.
    """
    num_perms = a.shape[0]
    sets = [shingle_hashes(t if t is not None else "", k) for t in texts]
    n = len(sets)
    out = np.full((n, num_perms), np.iinfo(np.uint64).max, dtype=np.uint64)
    if n == 0:
        return out
    max_m = min(max((s.shape[0] for s in sets), default=1), _CHUNK_ROWS)
    buf = np.empty((max(max_m, 1), num_perms), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for i, s in enumerate(sets):
            m = s.shape[0]
            if m == 0:
                continue
            for s0 in range(0, m, _CHUNK_ROWS):
                chunk = s[s0 : s0 + _CHUNK_ROWS]
                c = chunk.shape[0]
                np.multiply(chunk[:, None], a[None, :], out=buf[:c])
                buf[:c] += b[None, :]
                np.minimum(out[i], buf[:c].min(axis=0), out=out[i])
    return out


def signatures_many(
    texts: list[str], k: int, a: np.ndarray, b: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """MinHash signatures AND SimHash fingerprints in one shingle pass.

    Returns ``(sigs (n, num_perms) uint64, simhashes (n,) uint64)``.
    Shingling is ~15% of signature cost; doing both hashes over one shingle
    set also halves the text decode traffic — worth it on a
    bandwidth-starved host.
    """
    num_perms = a.shape[0]
    bits = np.arange(64, dtype=np.uint64)
    sets = [shingle_hashes(t if t is not None else "", k) for t in texts]
    n = len(sets)
    sigs = np.full((n, num_perms), np.iinfo(np.uint64).max, dtype=np.uint64)
    fps = np.zeros(n, dtype=np.uint64)
    if n == 0:
        return sigs, fps
    max_m = min(max((s.shape[0] for s in sets), default=1), _CHUNK_ROWS)
    buf = np.empty((max(max_m, 1), num_perms), dtype=np.uint64)
    votes = np.empty(64, dtype=np.int64)
    with np.errstate(over="ignore"):
        for i, s in enumerate(sets):
            m = s.shape[0]
            if m == 0:
                continue
            votes[:] = 0
            for s0 in range(0, m, _CHUNK_ROWS):
                chunk = s[s0 : s0 + _CHUNK_ROWS]
                c = chunk.shape[0]
                np.multiply(chunk[:, None], a[None, :], out=buf[:c])
                buf[:c] += b[None, :]
                np.minimum(sigs[i], buf[:c].min(axis=0), out=sigs[i])
                # bit votes via unpackbits on the little-endian uint8 view:
                # (c, 64) uint8 in one pass vs the shift/mask (c, 64) uint64
                # 3-sweep — 8x less scratch traffic (2.6x on the vote step,
                # ~1.25x whole-kernel, interleaved A/B) on this bandwidth-
                # starved host; votes are bit-identical (bitorder='little'
                # makes column j = bit j of the uint64).
                unpacked = np.unpackbits(
                    chunk.view(np.uint8).reshape(c, 8), axis=1, bitorder="little"
                )
                votes += unpacked.sum(axis=0, dtype=np.int64)
            fps[i] = (((2 * votes) > m).astype(np.uint64) << bits).sum(
                dtype=np.uint64
            )
    return sigs, fps


def band_hashes(signatures: np.ndarray, bands: int, rows_per_band: int) -> np.ndarray:
    """Collapse signatures (n, num_perms) → band keys (n, bands) uint64.

    Each band's ``rows_per_band`` signature slots are mixed with a
    splitmix64-style combiner; the band index is mixed in so identical row
    values in different bands never collide.
    """
    n = signatures.shape[0]
    sig = signatures.reshape(n, bands, rows_per_band)
    with np.errstate(over="ignore"):
        h = np.full((n, bands), _BAND_MIX, dtype=np.uint64)
        for r in range(rows_per_band):
            h ^= sig[:, :, r]
            h *= _BAND_MIX
            h ^= h >> np.uint64(29)
        h ^= np.arange(bands, dtype=np.uint64)[None, :] * _BAND_MIX
    return h
