"""Mergeable quantile sketches as a persistable BINARY column.

The missing twin of the HLL rollup (plans/catalog.py::approx_distinct_hll):
HLL state persists per day and union-merges, but quantiles previously
recomputed from raw rows (``percentile_approx`` exposes no reusable
state).  This module gives quantiles the same economics:

- ``build`` aggregates one group's values into a bounded multi-level
  summary (an MRL/KLL-family sketch: level ``i`` holds items of weight
  ``2**i``; a full level sorts and keeps alternating items, promoting
  them one level up — Manku/Rajagopalan/Lindsay SIGMOD'98, Karnin/
  Lang/Liberty FOCS'16 are the public ancestry);
- sketches serialize to bytes (a parquet BINARY column — per-day state
  is O(k·log(n/k)) floats, ~KBs, regardless of row count);
- ``merge`` folds any number of sketches into one, so a new day means
  "union one more sketch", never a rescan of history.

Determinism contract (what the tests pin): this implementation is a
PURE FUNCTION OF THE VALUE MULTISET — values are sorted before
insertion and compaction keeps alternating indices (no RNG), so the
same group produces byte-identical sketches under any partitioning,
task retry, or row order, and a ``merge`` call is a pure function of
the multiset of its input sketches.  The classic
randomized-offset analysis trades this determinism for unbiasedness;
we keep determinism (retry-safe lineage, exact regression pins) and
verify accuracy empirically with the TRUE rank-interval audit
(plans/catalog.py::quantile_sketch_rollup), the same
membership-with-proven-gap oracle pattern as the HLL query.

Spark integration is one Arrow-batched ``applyInPandas`` path (never
per-row Python): ``build_sketches`` builds one sketch per group of
rows and ``fold_sketches`` merges one group's sketches.  The catalog
rollup (``build_day_sketches`` per (group, day), ``rollup_sketches``
per group) and ``cdc.sketch_view.SketchView`` (create and refresh)
both call them; ``sketch_quantiles`` decodes stored blobs into
estimates.  100-TB shape: a hot day can be sharded further (group by
(day, hash(key) % S)) and the shards merged — mergeability is exactly
what makes that free; the per-group final fold handles #days·#shards
sketch rows, not data rows.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: items kept per level before a compaction promotes half of them.
DEFAULT_K = 256


class QuantileSketch:
    """Deterministic MRL-style sketch. ``levels[i]`` is a sorted
    float64 array whose items each represent ``2**i`` original rows."""

    __slots__ = ("k", "levels", "n")

    def __init__(self, k: int = DEFAULT_K):
        self.k = int(k)
        self.levels: list[np.ndarray] = [np.empty(0)]
        self.n = 0  # exact count of inserted rows (cheap, useful)

    # ------------------------------------------------------------ build
    def add(self, values: np.ndarray) -> "QuantileSketch":
        """Insert a batch.  The concatenated level is fully re-sorted,
        so the result is a pure function of the multiset, not the
        arrival order (one sort — pre-sorting the batch would be wasted
        work since np.sort does not exploit sorted runs).  ``-0.0`` is
        stored as ``0.0``: np.sort keeps equal signed zeros in arrival
        order, so keeping both would make the bytes order-dependent."""
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)] + 0.0
        if v.size == 0:
            return self
        self.n += int(v.size)
        self.levels[0] = np.sort(np.concatenate([self.levels[0], v]))
        self._compress()
        return self

    def _compress(self) -> None:
        i = 0
        while i < len(self.levels):
            arr = self.levels[i]
            if arr.size <= self.k:
                i += 1
                continue
            # arr is sorted.  Promote alternating items of the even
            # prefix one level up (weight doubles); an odd straggler
            # stays.  Offset alternates with level parity to cancel the
            # systematic low/high bias a fixed offset would build up.
            m = arr.size // 2
            promoted = arr[(i % 2) : 2 * m : 2]
            leftover = arr[2 * m :]
            self.levels[i] = leftover
            if i + 1 == len(self.levels):
                self.levels.append(np.empty(0))
            self.levels[i + 1] = np.sort(
                np.concatenate([self.levels[i + 1], promoted])
            )
            i += 1

    # ------------------------------------------------------------ merge
    @staticmethod
    def merge(sketches: "list[QuantileSketch]", k: int | None = None) -> "QuantileSketch":
        """Fold sketches level-by-level (weights align), then compress.
        A single merge call is a pure function of the MULTISET of input
        sketches (each level is concatenated, ``-0.0`` mapped to ``0.0``
        as in ``add`` since stored blobs may predate that mapping, and
        re-sorted before the deterministic compress), so one-shot
        rollups are partitioning- and order-invariant.  Incremental
        re-merging (fold yesterday's rollup with today's sketch) stays
        within the same error bounds but compresses at different
        boundaries, so it is semantically — not byte — equal to the
        one-shot fold; the tests pin both."""
        ks = [s.k for s in sketches] + ([int(k)] if k else [])
        out = QuantileSketch(min(ks) if ks else DEFAULT_K)
        depth = max((len(s.levels) for s in sketches), default=1)
        out.levels = [
            np.sort(
                np.concatenate(
                    [s.levels[i] for s in sketches if i < len(s.levels)]
                    or [np.empty(0)]
                )
                + 0.0
            )
            for i in range(depth)
        ]
        out.n = sum(s.n for s in sketches)
        out._compress()
        return out

    # ------------------------------------------------------------ query
    def weight(self) -> int:
        return sum((1 << i) * arr.size for i, arr in enumerate(self.levels))

    def quantile(self, q: float) -> float:
        """Smallest sketch value whose cumulative weight covers q."""
        vals = np.concatenate([a for a in self.levels if a.size] or [np.empty(0)])
        if vals.size == 0:
            return float("nan")
        wts = np.concatenate(
            [np.full(a.size, 1 << i, dtype=np.int64) for i, a in enumerate(self.levels) if a.size]
        )
        order = np.argsort(vals, kind="stable")
        cum = np.cumsum(wts[order])
        target = q * cum[-1]
        idx = int(np.searchsorted(cum, target, side="left"))
        return float(vals[order][min(idx, vals.size - 1)])

    # -------------------------------------------------------- serialize
    def to_bytes(self) -> bytes:
        head = struct.pack("<iqi", self.k, self.n, len(self.levels))
        sizes = struct.pack(f"<{len(self.levels)}i", *[a.size for a in self.levels])
        body = b"".join(np.ascontiguousarray(a, dtype=np.float64).tobytes() for a in self.levels)
        return head + sizes + body

    @staticmethod
    def from_bytes(b: bytes) -> "QuantileSketch":
        k, n, depth = struct.unpack_from("<iqi", b, 0)
        off = struct.calcsize("<iqi")
        sizes = struct.unpack_from(f"<{depth}i", b, off)
        off += struct.calcsize(f"<{depth}i")
        s = QuantileSketch(k)
        s.n = n
        s.levels = []
        for sz in sizes:
            s.levels.append(np.frombuffer(b, dtype=np.float64, count=sz, offset=off).copy())
            off += 8 * sz
        return s


# ---------------------------------------------------------------- spark
def _quantile_labels(quantiles: list[float]) -> list[str]:
    """Column label per quantile: ``0.95 -> 'q95'``, ``0.999 ->
    'q99_9'``.  Fraction-safe — ``int(q*100)`` would truncate
    ``0.29*100 == 28.999...`` to ``q28`` and collide 0.99 with 0.999."""
    labels = ["q" + ("%g" % round(q * 100, 9)).replace(".", "_").replace("-", "m") for q in quantiles]
    if len(set(labels)) != len(labels):
        raise ValueError(f"quantile labels collide: {labels} for {quantiles}")
    return labels


def _per_group(df, keys: list[str], fields: list, fn):
    """The one grouped Spark path of the build and the fold: Arrow-
    batched ``applyInPandas``, one call per ``keys`` group, emitting the
    group's keys plus ``fn(pdf)`` as the values of ``fields``."""
    schema = T.StructType([df.schema[c] for c in keys] + fields)

    def _apply(pdf):
        row = {c: [pdf[c].iloc[0]] for c in keys}
        row.update((f.name, [v]) for f, v in zip(fields, fn(pdf)))
        return pd.DataFrame(row)

    return df.groupBy(*keys).applyInPandas(_apply, schema)


def build_sketches(df, keys: list[str], value_col: str, k: int = DEFAULT_K, sketch_col: str = "sketch"):
    """The grouped build: ``keys`` -> one row of ``sketch_col`` BINARY
    over ``value_col`` + exact ``n_rows``.  The sort inside ``add``
    makes the bytes independent of how Spark distributed or ordered
    the rows."""
    fields = [T.StructField(sketch_col, T.BinaryType()), T.StructField("n_rows", T.LongType())]

    def _build(pdf):
        return QuantileSketch(k).add(pdf[value_col].to_numpy(dtype="float64")).to_bytes(), len(pdf)

    return _per_group(df.select(*keys, value_col), keys, fields, _build)


def fold_sketches(df, keys: list[str], sketch_col: str = "sketch", quantiles: list[float] = ()):
    """The grouped fold: ``keys`` -> the merged ``sketch_col``, the
    summed exact ``n_rows`` and one DOUBLE estimate per quantile.  A
    merge is a pure function of the multiset of its inputs, so the
    bytes do not depend on the order the group's rows arrive in."""
    labels = _quantile_labels(quantiles)
    fields = [T.StructField(sketch_col, T.BinaryType()), T.StructField("n_rows", T.LongType())]
    fields += [T.StructField(lbl, T.DoubleType()) for lbl in labels]

    def _fold(pdf):
        merged = QuantileSketch.merge(
            [QuantileSketch.from_bytes(b) for b in pdf[sketch_col] if b is not None]
        )
        return merged.to_bytes(), int(pdf["n_rows"].sum()), *[merged.quantile(q) for q in quantiles]

    return _per_group(df.select(*keys, sketch_col, "n_rows"), keys, fields, _fold)


def sketch_quantiles(sketch_col: str, quantiles: list[float]):
    """One struct column of DOUBLE estimates, a field per quantile
    labelled as in ``fold_sketches``; each blob decodes once for all
    quantiles, and a NULL blob gives NULL estimates."""
    labels = _quantile_labels(quantiles)

    @F.pandas_udf(T.StructType([T.StructField(lbl, T.DoubleType()) for lbl in labels]))
    def _estimates(blobs: pd.Series) -> pd.DataFrame:
        sketches = (None if b is None else QuantileSketch.from_bytes(b) for b in blobs)
        rows = [[None] * len(quantiles) if s is None else [s.quantile(q) for q in quantiles] for s in sketches]
        return pd.DataFrame(rows, columns=labels, dtype="float64")

    return _estimates(sketch_col)


def build_day_sketches(df, group_cols: list[str], day_col: str, value_col: str, k: int = DEFAULT_K):
    """(group..., day) -> one sketch row: ``sketch`` BINARY + exact
    ``n_rows``."""
    return build_sketches(df, [*group_cols, day_col], value_col, k)


def rollup_sketches(day_df, group_cols: list[str], day_col: str, quantiles: list[float]):
    """Fold each group's ``day_col`` sketches into one and emit quantile
    estimates + total exact n.  Input is sketch rows (one per
    group×day), so this stage shuffles KBs."""
    return fold_sketches(day_df, group_cols, "sketch", quantiles).drop("sketch")
