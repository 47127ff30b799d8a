"""Structured Streaming surfaces.

1. ``stream_cdc_ingest``: the CDC engine in true streaming form — a
   file-source readStream tails the WAL directory and ``foreachBatch``
   applies each micro-batch through the same engine.apply_epoch
   (epoch = micro-batch id). Exactly-once = Spark checkpoint (source
   offsets) x the table's own idempotent epoch manifest: if a batch is
   re-delivered after a crash, the manifest makes the re-apply a no-op.
   This is the north rule's "binlog/WAL tail" shape; the batch runner
   (cdc/runner.py) is the replay/backfill shape of the same engine.

2. ``windowed_event_agg``: watermarked tumbling-window aggregation over
   the events table (late data handled by the watermark), the standard
   streaming-agg pattern, runnable with availableNow=True so tests and
   the DuckDB oracle can compare its complete output.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cdc.engine import apply_epoch
from ..cdc.table import LakeTable


def read_file_stream(spark: SparkSession, path: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """Parquet file-stream source over ``path`` with the schema of the
    files already there.  The file source needs a directory, so a
    single file is read as its parent with a glob filter on its name."""
    reader = spark.readStream.schema(spark.read.parquet(path).schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    return reader.parquet(path)


def drain_to_memory(stream: DataFrame, sink_table: str, output_mode: str) -> DataFrame:
    """Run ``stream`` to completion (availableNow) into the memory sink
    ``sink_table`` and return that table as a batch DataFrame."""
    q = (
        stream.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream.sparkSession.table(sink_table)


def stream_cdc_ingest(
    spark: SparkSession,
    wal_dir: str,
    table: LakeTable,
    checkpoint_dir: str,
    available_now: bool = True,
    n_salts: int = 0,
    mode: str = "cow",
    compact_every: int | None = None,
    view=None,
    max_files_per_trigger: int = 8,
):
    """Tail the WAL dir as a stream; upsert each micro-batch. Returns
    the StreamingQuery (caller awaits termination).

    ``mode="mor"`` is the streaming sweet spot: micro-batches are small
    relative to table state, so O(batch) delta appends (vs O(touched
    state) rewrites) keep per-trigger latency flat as the table grows;
    ``compact_every=N`` folds deltas every N micro-batches. Epoch
    stats take the same path as in the batch runner: MOR reads them
    from the written delta files' footers (the append is the
    micro-batch's only job), COW from its grouped stats job. Neither
    needs a query listener, which never fires inside foreachBatch.

    ``max_files_per_trigger`` is the latency/throughput knob: each
    trigger pays a fixed cost (offset commit, checkpoint write, plan
    setup) plus one table commit, so catch-up/backfill throughput
    scales with batch size until the commit dominates (measured at the
    probe protocol in BENCH.md round 6 — 8 files/trigger is the
    low-latency tail default; a draining consumer wants 64+).  LWW
    semantics are batch-size-invariant: the engine dedups by (key,
    lsn) inside each micro-batch exactly as the batch replayer dedups
    a whole epoch, so regrouping WAL files across triggers cannot
    change the final state (digest equality is test-pinned).

    ``view``: any refreshable view over ``table`` — an exact
    ``cdc.view.IncrementalAggView`` or a ``cdc.sketch_view.SketchView``
    (rolling HLL/quantile state over the image stream) — refreshed
    after each applied micro-batch, so the derived aggregate advances
    by the batch's change-feed delta inside the same trigger
    (continuous materialized-view maintenance). Idempotence composes:
    a re-delivered batch is a manifest no-op and ``refresh`` is a pure
    catch-up to the table's current version (no-op at head), so crash
    replay cannot double-count the view."""
    batch_schema = spark.read.parquet(wal_dir).schema

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_epoch(spark, table, batch_df, epoch=f"stream-{batch_id}", n_salts=n_salts, mode=mode)
        if compact_every and (batch_id + 1) % compact_every == 0:
            table.compact(max_files=1)
        if view is not None:
            view.refresh()

    reader = (
        spark.readStream.schema(batch_schema)
        .option("maxFilesPerTrigger", int(max_files_per_trigger))
        .parquet(wal_dir)
    )
    writer = reader.writeStream.foreachBatch(_apply).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_dedup(
    spark: SparkSession,
    events_path: str,
    key_cols=("event_id",),
    watermark: str = "2 hours",
    sink_table: str = "stream_deduped",
) -> DataFrame:
    """Streaming exact dedup via ``dropDuplicatesWithinWatermark``: a
    re-delivered key arriving within the watermark horizon is
    suppressed; dedup state is evicted once the watermark passes, so
    memory stays bounded by the horizon (the streaming analog of
    operators.dedup.exact_dedup, for at-least-once upstream sources).
    Run to completion with availableNow; returns the deduped rows."""
    stream = read_file_stream(spark, events_path).withColumn("ts", F.col("ts").cast("timestamp"))
    deduped = stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(list(key_cols))
    return drain_to_memory(deduped, sink_table, "append")


def windowed_event_agg(
    spark: SparkSession,
    events_path: str,
    sink_table: str = "windowed_agg",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window agg with watermark, run to completion via
    availableNow + memory sink; returns the complete result as a
    batch DataFrame (window_start formatted for oracle comparison)."""
    # parquet TIMESTAMP_NTZ -> session-TZ timestamp (watermarks require
    # TIMESTAMP; session TZ is UTC so the wall-clock value is unchanged)
    stream = read_file_stream(spark, events_path).withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2).cast("double").alias("total_value"),
            F.count("*").alias("n"),
        )
    )
    out = agg.select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "total_value",
        "n",
    )
    return drain_to_memory(out, sink_table, "complete")


def stream_stream_interval_join(
    spark: SparkSession,
    events_path: str,
    sink_table: str = "ss_join",
    lookback: str = "10 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join with an event-time interval condition:
    each click matches the same user's purchases in the trailing
    ``lookback`` window. Both sides carry watermarks + the time-range
    constraint, so Spark bounds the join state (purchases older than
    click-watermark - lookback are evicted) — the canonical bounded-
    state stream-stream join; run to completion via availableNow and
    returned as a batch DataFrame for the oracle compare."""
    stream = read_file_stream(spark, events_path).withColumn("ts", F.col("ts").cast("timestamp"))
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"), F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", watermark)
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"), F.col("value").alias("p_value"))
        .withWatermark("p_ts", watermark)
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts") - F.expr(f"INTERVAL {lookback}"))
        & (F.col("p_ts") <= F.col("c_ts")),
    )
    out = joined.select(
        "click_id",
        F.col("c_user").alias("user_id"),
        F.date_format("c_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("click_ts"),
        F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("purchase_ts"),
        "p_value",
    )
    return drain_to_memory(out, sink_table, "append")
