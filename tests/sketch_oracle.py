"""Brute-force references (pure Python and numpy) for the near-dup tests."""

from __future__ import annotations


def py_shingles(text: str, k: int = 5) -> set:
    """Distinct k-char substrings; a text shorter than k is one shingle."""
    if len(text) < k:
        return {text}
    return {text[i : i + k] for i in range(len(text) - k + 1)}


def hamming(a: int, b: int) -> int:
    """Hamming distance of two signed 64-bit SimHash values."""
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def band_pairs(sigs: dict, bands: int) -> set:
    """All (a < b) id pairs whose signatures share at least one band
    slice (``sigs`` maps id -> signature list)."""
    r = len(next(iter(sigs.values()))) // bands
    buckets: dict = {}
    for i, sig in sigs.items():
        for band in range(bands):
            buckets.setdefault((band, tuple(sig[band * r : (band + 1) * r])), []).append(i)
    return {(a, b) for ids in buckets.values() for a in ids for b in ids if a < b}


def cosine_pairs_micro(ids, vecs, threshold_micro: int) -> dict:
    """Every (a < b) id pair with floor(cos * 1e6) >= ``threshold_micro``
    over all pairs, as {(a, b): cos_micro} (numpy float64 matmul)."""
    import numpy as np

    ids = np.asarray(ids, dtype=np.int64)
    m = np.asarray(vecs, dtype=np.float64)
    n = np.sqrt((m * m).sum(axis=1))
    micro = np.floor((m @ m.T) / np.outer(n, n) * 1_000_000.0)
    ia, ib = np.nonzero((micro >= threshold_micro) & (ids[:, None] < ids[None, :]))
    return {(int(ids[i]), int(ids[j])): int(micro[i, j]) for i, j in zip(ia, ib)}
