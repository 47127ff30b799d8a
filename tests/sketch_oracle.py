"""Pure-Python brute-force references for the near-dup sketch tests."""

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
