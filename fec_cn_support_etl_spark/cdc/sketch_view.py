"""Incremental SKETCH-view maintenance over the change feed.

`IncrementalAggView` (cdc/view.py) maintains exact SUM/COUNT because
those form a group under retraction.  Sketches do not retract — HLL,
MRL/KLL and friends are insert-only — so the honest incremental
semantic is a sketch over the APPEND-ONLY IMAGE STREAM: every upsert
image the table commits after the view is created folds in exactly
once; deletes and the superseding of old images are ignored by
construction.  That is precisely the rolling-ingest-dashboard contract
("distinct users and latency quantiles per group, advancing with the
feed, never rescanning history"), and it is the reason the sketch trio
(HLL rollup, quantile sketches, heavy-hitters summaries) was built
mergeable in the first place: a refresh is

    state(group) = merge(state(group), sketch(new images of group))

touching O(changed rows) + O(groups) state, never the table.

Maintained per group: exact ``n_rows`` (images observed), a
Datasketches HLL sketch of ``distinct_col`` (JVM ``hll_sketch_agg`` /
``hll_union_agg`` — the same path as plans/catalog.py::
approx_distinct_hll), and an MRL quantile sketch of ``quantile_col``
(built and folded by operators/qsketch.py's ``build_sketches`` /
``fold_sketches``, the same Spark path as the catalog rollup).

Both classes here run the one maintenance loop of
``cdc.view.MarkerStateView``: ``create`` publishes ``_build`` over the
live rows, and the image-stream ``refresh`` publishes ``_fold(state,
new upsert images)``; each class supplies only those two.  State is
stored exactly like IncrementalAggView's: one parquet dir per synced
version + an atomically renamed JSON marker, so a crashed refresh
re-runs idempotently (same version in, same artifact out) and a reader
never sees a half-written view.

Accuracy is pinned the membership-with-proven-gap way (the HLL and
quantile catalog queries' discipline): estimates are checked against
exact answers within the sketches' documented bounds — incremental
merge order can change sketch BYTES, but both HLL union and MRL merge
stay within the one-shot error envelope (tests/test_sketch_view.py).

Reference analog: scripts/verify_data.py:47-90 recomputes its count
summaries from scratch each cycle; this is that reporting surface made
incremental and approximate-with-bounds at 100-TB image volumes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.heavyhitters import SHARD_COL as HH_SHARD_COL
from ..operators.heavyhitters import heavy_hitters, hh_merge, hh_summary, hh_truncate
from ..operators.qsketch import DEFAULT_K, build_sketches, fold_sketches, sketch_quantiles
from .table import LakeTable
from .view import MarkerStateView, outer_join_groups


class SketchView(MarkerStateView):
    """Per-group mergeable sketches over a LakeTable's image stream,
    maintained incrementally from ``read_changes``.  State storage =
    :class:`MarkerStateView` (versioned parquet + atomic marker)."""

    MARKER = "_SKETCH_VIEW.json"

    def __init__(
        self,
        spark: SparkSession,
        main: LakeTable,
        root: str,
        group_cols: list[str],
        distinct_col: str | None = None,
        quantile_col: str | None = None,
        lg_k: int = 14,
        qsketch_k: int = DEFAULT_K,
    ):
        if not distinct_col and not quantile_col:
            raise ValueError("at least one of distinct_col / quantile_col is required")
        self.spark = spark
        self.main = main
        self.root = root
        self.group_cols = list(group_cols)
        self.distinct_col = distinct_col
        self.quantile_col = quantile_col
        self.lg_k = int(lg_k)
        self.qsketch_k = int(qsketch_k)

    # ------------------------------------------------------- maintenance
    def _build(self, rows: DataFrame) -> DataFrame:
        """One sketch-state row per group.  The JVM side (count + HLL)
        and the Python side (MRL quantiles) each collapse to group
        cardinality before the tiny join."""
        g = self.group_cols
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        if self.distinct_col:
            aggs.append(F.hll_sketch_agg(self.distinct_col, F.lit(self.lg_k)).alias("hll"))
        out = rows.groupBy(*g).agg(*aggs)
        if self.quantile_col:
            out = self._join_qsk(out, build_sketches(rows, g, self.quantile_col, self.qsketch_k, "qsk"))
        return out

    def _fold(self, state: DataFrame, images: DataFrame) -> DataFrame:
        """Stack the stored state with the new images' state and fold
        per group: counts add, HLL blobs union in the JVM, quantile
        blobs merge in one Arrow batch per group."""
        g = self.group_cols
        parts = state.unionByName(self._build(images), allowMissingColumns=True)
        aggs = [F.sum("n_rows").alias("n_rows")]
        if self.distinct_col:
            aggs.append(F.hll_union_agg("hll").alias("hll"))
        out = parts.groupBy(*g).agg(*aggs)
        if self.quantile_col:
            out = self._join_qsk(out, fold_sketches(parts, g, "qsk"))
        return out

    def _join_qsk(self, jvm: DataFrame, qs: DataFrame) -> DataFrame:
        joined, keys = outer_join_groups(jvm, qs, self.group_cols)
        rest = [F.col(f"a.{c}") for c in jvm.columns if c not in self.group_cols]
        return joined.select(*keys, *rest, F.col("b.qsk").alias("qsk"))

    # --------------------------------------------------------- estimates
    def estimates(self, quantiles: list[float] | None = None) -> DataFrame:
        """Human-facing view: group cols, exact n_rows, approx distinct
        (HLL estimate), and requested quantile estimates — all derived
        from the maintained state, no table access."""
        df = self.read()
        cols = [*self.group_cols, "n_rows"]
        if self.distinct_col:
            df = df.withColumn("approx_distinct", F.hll_sketch_estimate("hll"))
            cols.append("approx_distinct")
        if self.quantile_col and quantiles:
            est = df.select(*cols, sketch_quantiles("qsk", quantiles).alias("_q"))
            return est.select(*cols, "_q.*")
        return df.select(*cols)


class HeavyHittersView(MarkerStateView):
    """Per-group heavy-hitters summary over a LakeTable's image stream,
    maintained incrementally — the third member of the mergeable trio
    next to :class:`SketchView`'s HLL + quantile state.

    State is the bounded (kept, tail) summary of
    ``operators/heavyhitters.py`` — per (group, item-hash shard) the
    exact top-``keep`` item counts plus one tail bound for everything
    dropped, <= n_shards*(keep+1) rows per group regardless of item
    cardinality.  A refresh builds the new images' summary and
    ``hh_merge``-folds it into the stored one (merge is associative and
    closed, so continuous maintenance is exactly a rolling
    epoch-rollup).  Both frames persist as ONE parquet artifact with a
    ``kind`` discriminator ('kept'/'tail') under the shared
    versioned-marker protocol.

    ``heavy_hitters(threshold)`` decodes guaranteed candidates with the
    same derived two-sided bounds the batch query proves
    (plans/catalog.py::heavy_hitters_guaranteed): every item whose true
    image-stream count exceeds its shard's summed tail bound IS present
    with ``cnt_lb <= true <= cnt_lb + err_ub``.
    """

    MARKER = "_HH_VIEW.json"

    def __init__(
        self,
        spark: SparkSession,
        main: LakeTable,
        root: str,
        group_cols: list[str],
        item_col: str,
        n_shards: int = 8,
        keep: int = 64,
    ):
        self.spark = spark
        self.main = main
        self.root = root
        self.group_cols = list(group_cols)
        self.item_col = item_col
        self.n_shards = int(n_shards)
        self.keep = int(keep)

    # ------------------------------------------------------------ codec
    def _pack(self, kept: DataFrame, tail: DataFrame) -> DataFrame:
        k = kept.select(
            F.lit("kept").alias("kind"),
            *self.group_cols,
            F.col(HH_SHARD_COL).alias("shard"),
            "item",
            "cnt",
            F.coalesce(F.col("n_epochs_kept"), F.lit(1)).alias("n_epochs_kept")
            if "n_epochs_kept" in kept.columns
            else F.lit(1).alias("n_epochs_kept"),
            F.lit(None).cast("long").alias("tail_max"),
            F.lit(None).cast("long").alias("tail_mass"),
        )
        t = tail.select(
            F.lit("tail").alias("kind"),
            *self.group_cols,
            F.col(HH_SHARD_COL).alias("shard"),
            F.lit(None).cast("string").alias("item"),
            F.lit(None).cast("long").alias("cnt"),
            F.lit(None).cast("long").alias("n_epochs_kept"),
            F.col("tail_max").cast("long").alias("tail_max"),
            F.col("tail_mass").cast("long").alias("tail_mass"),
        )
        return k.unionByName(t)

    def _unpack(self, df: DataFrame) -> tuple[DataFrame, DataFrame]:
        g = self.group_cols
        kept = df.filter(F.col("kind") == "kept").select(
            *g, F.col("shard").alias(HH_SHARD_COL), "item", "cnt", "n_epochs_kept"
        )
        tail = df.filter(F.col("kind") == "tail").select(
            *g, F.col("shard").alias(HH_SHARD_COL), "tail_max", "tail_mass"
        )
        return kept, tail

    # ------------------------------------------------------- maintenance
    def _summary(self, images: DataFrame) -> tuple[DataFrame, DataFrame]:
        return hh_summary(images, self.group_cols, self.item_col, self.n_shards, self.keep)

    def _build(self, rows: DataFrame) -> DataFrame:
        return self._pack(*self._summary(rows))

    def _fold(self, state: DataFrame, images: DataFrame) -> DataFrame:
        merged = hh_merge([self._unpack(state), self._summary(images)], self.group_cols)
        # SpaceSaving re-truncation: without it, state grows by up to
        # `keep` rows per shard per refresh (hh_merge keeps the union);
        # with it the view is O(n_shards * keep) per group FOREVER, and
        # the dropped counts fold into the tail bound soundly.
        return self._pack(*hh_truncate(*merged, self.group_cols, self.keep))

    # --------------------------------------------------------- estimates
    def heavy_hitters(self, threshold: int) -> DataFrame:
        """Guaranteed-candidate heavy hitters of the image stream with
        two-sided bounds, decoded from the maintained state — no table
        access."""
        return heavy_hitters(*self._unpack(self.read()), self.group_cols, threshold)
