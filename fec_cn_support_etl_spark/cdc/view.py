"""Incremental materialized-view maintenance over the change feed.

The reference recomputes its support rollups from scratch every cycle
(scripts/merge_support.py re-reads every per-script CSV; the whole
pipeline re-runs per FEC drop).  At 100 TB the derived aggregate must
instead advance by the DELTA: this module maintains grouped SUM/COUNT
aggregates of a LakeTable's live state from ``read_changes`` (CDF),
touching only what changed:

    delta(group) = contributions(post-images of the changed keys @ to)
                 - contributions(pre-images of the changed keys @ from)

- the change feed is O(rows changed) — MOR commits emit their delta
  files by reference, zero recompute (table.read_changes) — and is
  used ONLY for its key set.  The images themselves are re-read from
  the table, because a by-reference MOR change row can LOSE read-time
  LWW against the base under out-of-order delivery (a streaming
  micro-batch carrying lower lsns than an already-applied one): the
  appended image is then never the table's current state, and an
  algebra trusting it double-counts.  Caught by the streaming verify
  drive; regression-pinned in tests;
- pre- and post-images come from TIME-TRAVEL reads at the last-synced
  and target versions with hash-bucket pruning (``read_keys``) —
  O(changed buckets), never a table scan.  Unchanged-key groups cancel
  exactly in the subtraction;
- the view update rewrites only groups with a nonzero delta.

SUM/COUNT form a commutative group under retraction (the classic
incremental-view algebra), so the maintained view is EXACTLY equal to
a from-scratch ``read().groupBy(...)`` at every sync point — the tests
pin that equality through inserts, updates, deletes and compaction.
The exactness claim holds for EXACT arithmetic only, so ``sum_cols``
are validated at construction to be integral/decimal (float SUM is
non-associative and would let the maintained view drift).  MIN/MAX
are deliberately absent: they are not retractable without per-group
history.

Retention contract: ``refresh`` reads snapshots back to the last sync,
so run it before ``vacuum`` trims them (same rule as any CDF consumer).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .table import LakeTable

class ViewStale(RuntimeError):
    """The view's last-synced snapshot no longer exists (vacuumed away);
    the caller must rebuild with ``create``."""


class MarkerStateView:
    """The one maintenance loop for incrementally-maintained view
    artifacts: one parquet dir per synced version plus an atomically
    renamed JSON marker (``MARKER``), so a crashed refresh re-runs
    idempotently and a reader never sees a half-written view.
    Subclasses set ``spark``, ``main`` and ``root`` in their __init__
    and supply ``_build`` (live rows -> state, for ``create``) and
    ``_fold`` (state + new upsert images -> state, for the image-stream
    ``refresh``); :class:`IncrementalAggView` replaces ``refresh`` with
    its retraction delta."""

    MARKER = "_VIEW.json"

    spark: SparkSession
    main: LakeTable
    root: str

    def _marker_path(self) -> str:
        return os.path.join(self.root, self.MARKER)

    def _state(self) -> dict:
        with open(self._marker_path()) as f:
            return json.load(f)

    def exists(self) -> bool:
        return os.path.exists(self._marker_path())

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self._state()["dir"])

    def synced_version(self) -> int:
        return int(self._state()["synced_version"])

    def _wipe_artifacts(self) -> None:
        """Drop remnants of a prior build (full-rebuild path)."""
        os.makedirs(self.root, exist_ok=True)
        for d in os.listdir(self.root):
            if d.startswith("v"):
                shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)

    def _pending_changes(self):
        """Refresh preamble shared by every view: ``(from_snap, snap,
        changes)`` — the last-synced snapshot, the table's current one
        and the change feed between them — or ``(None, snap, None)``
        when the view is already at the current version. Raises
        ViewStale when the range is no longer retained."""
        from_v = self.synced_version()
        snap = self.main.current_snapshot()
        if snap.version == from_v:
            return None, snap, None
        try:
            from_snap = self.main.snapshot_at(from_v)
        except FileNotFoundError as exc:  # snapshot vacuumed away
            raise ViewStale(
                f"last-synced snapshot v{from_v} is gone (vacuumed?); rebuild with create()"
            ) from exc
        try:
            changes = self.main.read_changes(from_v, snap.version)
        except FileNotFoundError as exc:  # a mid-range snapshot was vacuumed
            raise ViewStale(
                f"change-feed range v{from_v}..v{snap.version} is no longer fully retained; "
                "rebuild with create()"
            ) from exc
        return from_snap, snap, changes

    def _publish(self, df: DataFrame, version: int) -> None:
        out = os.path.join(self.root, f"v{version}")
        df.write.mode("overwrite").parquet(out)
        tmp = self._marker_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"synced_version": version, "dir": out}, f)
        os.replace(tmp, self._marker_path())
        # keep the published dir plus one predecessor (a reader holding
        # the previous marker finishes safely); older artifacts go
        vdirs = sorted(
            (d for d in os.listdir(self.root) if d.startswith("v") and d[1:].isdigit()),
            key=lambda d: int(d[1:]),
        )
        for d in vdirs[:-2]:
            shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)

    def create(self) -> dict:
        """Full build over the table's live rows at the current version
        (the one full scan the view ever pays; every later sync is
        delta-sized)."""
        snap = self.main.current_snapshot()
        self._wipe_artifacts()
        self._publish(self._build(self.main.read(snap=snap)), snap.version)
        return {"synced_version": snap.version, "full_build": True}

    def refresh(self) -> dict:
        """Fold every upsert image committed since the last sync into
        the stored state.  Deletes are ignored: insert-only synopses do
        not retract (image-stream semantics, cdc/sketch_view.py)."""
        from_snap, snap, changes = self._pending_changes()
        if changes is None:
            return {"from": snap.version, "to": snap.version, "noop": True}
        images = changes.filter(F.col("_change_type") == "upsert").drop(
            "_change_type", "_commit_version"
        )
        self._publish(self._fold(self.read(), images), snap.version)
        return {"from": from_snap.version, "to": snap.version, "noop": False}


def outer_join_groups(a: DataFrame, b: DataFrame, group_cols: list[str]):
    """Full-outer join of two group-keyed frames, aliased ``a`` and
    ``b``, with NULL-SAFE key equality (a join on column names would
    split a NULL group into two mutually-incomplete rows).  Returns the
    joined frame and the coalesced group-key columns to select."""
    cond = None
    for g in group_cols:
        c = F.col(f"a.{g}").eqNullSafe(F.col(f"b.{g}"))
        cond = c if cond is None else (cond & c)
    keys = [F.coalesce(F.col(f"a.{g}"), F.col(f"b.{g}")).alias(g) for g in group_cols]
    return a.alias("a").join(b.alias("b"), cond, "full_outer"), keys


class IncrementalAggView(MarkerStateView):
    """Grouped COUNT(*) + SUM(cols) over a LakeTable's live rows,
    maintained incrementally from the table's change feed.

    View state is a small derived artifact (group cardinality, not row
    cardinality), stored per :class:`MarkerStateView` — single-
    maintainer by design (the upstream table already serializes
    writers; a second maintainer would just race to produce the
    identical artifact).
    """

    def __init__(
        self,
        spark: SparkSession,
        main: LakeTable,
        root: str,
        group_cols: list[str],
        sum_cols: list[str] | None = None,
    ):
        self.spark = spark
        self.main = main
        self.root = root
        self.group_cols = list(group_cols)
        self.sum_cols = list(sum_cols or [])
        # The retraction algebra is EXACT only under exact arithmetic:
        # float sums are non-associative, so an incrementally maintained
        # double SUM could drift from a from-scratch aggregate.
        import pyspark.sql.types as T

        schema = {f.name: f.dataType for f in main.schema()}
        for c in self.sum_cols:
            dt = schema.get(c)
            if dt is not None and not isinstance(
                dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.DecimalType)
            ):
                raise TypeError(
                    f"sum_col {c!r} has non-exact type {dt.simpleString()}; "
                    "incremental SUM retraction is only exact for integral/"
                    "decimal columns — cast the column or aggregate it as decimal"
                )

    # ------------------------------------------------------- maintenance
    def _contrib(self, df: DataFrame, sign: int) -> DataFrame:
        aggs = [F.sum(F.lit(sign)).alias("n_rows")] + [
            F.sum(F.col(c) * sign).alias(f"sum_{c}") for c in self.sum_cols
        ]
        return df.groupBy(*self.group_cols).agg(*aggs)

    def _build(self, rows: DataFrame) -> DataFrame:
        return self._contrib(rows, +1)

    def refresh(self) -> dict:
        """Advance the view to the table's current version by the
        change-feed delta.  No-op (marker advance only) when the range
        holds nothing but maintenance commits."""
        from_snap, snap, changes = self._pending_changes()
        to_v = snap.version
        if changes is None:
            return {"from": to_v, "to": to_v, "changed_groups": 0, "noop": True}
        from_v = from_snap.version
        # the feed contributes only the CHANGED-KEY SET; both images are
        # re-read from the table (bucket-pruned) — see module docstring
        keys = changes.select(*snap.key_cols).distinct()
        post = self.main.read_keys(keys, snap=snap)
        pre = self.main.read_keys(keys, snap=from_snap)

        # persisted: BOTH consumers below (the changed-group count and
        # the published merge) otherwise re-execute the whole delta
        # pipeline — change feed + two bucket-pruned key-set reads +
        # aggregation — doubling exactly the cost the incremental
        # design exists to minimize
        delta = (
            self._contrib(post, +1)
            .unionByName(self._contrib(pre, -1))
            .groupBy(*self.group_cols)
            .agg(
                F.sum("n_rows").alias("n_rows"),
                *[F.sum(f"sum_{c}").alias(f"sum_{c}") for c in self.sum_cols],
            )
            .persist()
        )
        joined, group_keys = outer_join_groups(self.read(), delta, self.group_cols)

        def _add(c):
            return (F.coalesce(F.col(f"a.{c}"), F.lit(0)) + F.coalesce(F.col(f"b.{c}"), F.lit(0))).alias(c)

        merged = joined.select(
            *group_keys, _add("n_rows"), *[_add(f"sum_{c}") for c in self.sum_cols]
        ).filter(F.col("n_rows") != 0)
        try:
            n_changed = delta.count()  # materializes the cache for the publish
            self._publish(merged, to_v)
        finally:
            delta.unpersist()
        return {"from": from_v, "to": to_v, "changed_groups": n_changed, "noop": False}
