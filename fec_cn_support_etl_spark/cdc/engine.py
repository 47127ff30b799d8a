"""The CDC upsert engine: one epoch of change events -> lake table.

Dataflow per epoch (north rule, BASELINE.json):

  batch = WAL[epoch]
    | LWW dedup on (repo, path) by max (lsn, commit):
    |   skew-immune by ALGEBRA — max_by partial aggregation collapses a
    |   hot key to one row per map partition before the shuffle, so no
    |   reducer ever sees a hot key's raw event count (one shuffle);
    |   optional n_salts>0 adds explicit two-phase salted groupBy for
    |   the non-algebraic cases (operators/skew.py for the general kit)
    | content sha256 (vectorized pandas UDF) + lang normalization
    | Arrow/StructType schema reconcile vs the table (add/widen)
    | bucket-level copy-on-write MERGE, conditional LWW vs state
    |   (tombstoned deletes -> out-of-order delivery converges)
    | atomic snapshot commit embedding the (epoch -> applied) manifest
    v
  per-partition lineage/metrics row(s)

Epoch stats (key and delete counts, LSN range, per-bucket rows) have one
source per commit mode: COW and ``auto`` take them from the grouped
stats job in ``prepare_epoch`` (it also yields the touched buckets the
merge needs); MOR reads them from the footers of the delta files it just
wrote, so a MOR epoch runs no job besides the append.

Exactly-once: the manifest lives INSIDE the snapshot JSON, so data +
manifest commit atomically (one rename). Re-delivered epochs are
detected before any work and become no-ops; a crash between data-file
write and snapshot rename leaves ignorable orphans and the replay
re-applies cleanly (LWW dedup is idempotent on identical input).
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.udfs import lang_normalize_udf, sha256_udf
from .schema_evolution import reconcile
from .table import BUCKET_COL, LakeTable, bucket_expr, resolve_lww

KEYS = ["repo", "path"]
ORDER_COLS = ["lsn", "commit"]  # total order => bit-stable replay
META_COLS = ["op", "epoch"]


@dataclass
class ApplyResult:
    epoch: str
    skipped: bool
    n_events: int = 0
    n_keys: int = 0
    n_upserts: int = 0
    n_deletes: int = 0
    min_lsn: int | None = None
    max_lsn: int | None = None
    touched_buckets: int = 0
    apply_sec: float = 0.0
    snapshot: int | None = None


def lww_dedup(
    batch: DataFrame,
    hot_keys: DataFrame | None = None,
    n_salts: int = 0,
) -> DataFrame:
    """Last-writer-wins image per (repo, path): max-by-(lsn, commit).

    Skew stance: ``max_by`` is ALGEBRAIC, so Spark's partial (map-side)
    aggregation already splits hot keys — every map partition collapses
    a hot key's rows to one partial before the shuffle, so the final
    reducer for that key receives at most n_map_partitions rows, never
    the raw event count. One shuffle total, skew-immune by algebra.
    (`tests/test_cdc.py::test_skew_handling_same_result` pins the
    equivalence; operators/skew.py documents the general strategy.)

    ``n_salts > 0`` switches to EXPLICIT two-phase salting — groupBy
    (key, salt) then (key) — needed when the per-key reduction is not
    algebraic (window/row_number style) or when feeding a downstream
    key-partitioned op that must not see a hot partition. It costs a
    second full shuffle, so it is not the default. ``hot_keys``
    restricts the salt fan-out to known-hot keys.

    Reference analog: the prefer-principal / keep-first dedup
    (scripts/merge_support.py:150-180) generalized to a total LSN order.
    """
    if n_salts <= 1:
        return resolve_lww(batch, KEYS, ORDER_COLS)
    ord_struct = F.struct(*[F.col(c) for c in ORDER_COLS])
    row_struct = F.struct(*[F.col(c) for c in batch.columns])
    if hot_keys is None:
        salted = batch.withColumn("__salt", F.pmod(F.xxhash64("lsn"), F.lit(n_salts)).cast("int"))
    else:
        hot = F.broadcast(hot_keys.select(*KEYS).withColumn("__hot", F.lit(1)))
        salted = batch.join(hot, on=KEYS, how="left").withColumn(
            "__salt",
            F.when(F.col("__hot").isNotNull(), F.pmod(F.xxhash64("lsn"), F.lit(n_salts))).otherwise(F.lit(0)).cast("int"),
        )
    phase1 = salted.groupBy(*KEYS, "__salt").agg(F.max_by(row_struct, ord_struct).alias("r"))
    return (
        phase1.groupBy(*KEYS)
        .agg(F.max_by(F.col("r"), F.struct(*[F.col(f"r.{c}") for c in ORDER_COLS])).alias("r"))
        .select("r.*")
    )


def enrich_content(df: DataFrame) -> DataFrame:
    """content sha256 + lang normalization — the two mandated vectorized
    pandas UDFs (BASELINE.json input_hint)."""
    sha = F.when(F.col("content").isNotNull(), sha256_udf(F.col("content")))
    return df.withColumn("content_sha", sha).withColumn("lang", lang_normalize_udf(F.col("lang")))


@dataclass
class PreparedEpoch:
    """Output of the parallel phase. Two shapes, fixed by the mode:

    - COW / ``auto``: ``stats`` (epoch totals), ``touched`` (sorted
      bucket ids) and ``bucket_stats`` (per-bucket lineage rows) come
      from one grouped stats job that also materialized a persist of
      ``winners``.
    - MOR: all three are None. No job runs before the append; the
      commit reads them from the written delta files' footers."""

    epoch: str
    winners: DataFrame
    stats: dict | None
    touched: list[int] | None
    t_start: float
    bucket_stats: list | None = None
    # the layout `touched`/`bucket_stats` were derived under, plus the
    # raw batch — commit_epoch re-derives the touched set if a foreign
    # rebucket() changed n_buckets between prepare and commit (the COW
    # twin of commit_append_delta's 'layout changed' guard: a stale
    # touched list would read the wrong bucket subset and silently
    # drop rows whose new bucket falls outside it)
    n_buckets: int = 0
    batch: DataFrame = None


def _rollup(bucket_stats) -> dict:
    """Epoch totals from per-bucket stats rows (Rows or dicts with
    n_keys / n_deletes / min_lsn / max_lsn)."""
    mins = [r["min_lsn"] for r in bucket_stats if r["min_lsn"] is not None]
    maxs = [r["max_lsn"] for r in bucket_stats if r["max_lsn"] is not None]
    return {
        "n_keys": sum(r["n_keys"] for r in bucket_stats),
        "n_deletes": sum(r["n_deletes"] or 0 for r in bucket_stats),
        "min_lsn": min(mins) if mins else None,
        "max_lsn": max(maxs) if maxs else None,
    }


def prepare_epoch(
    spark: SparkSession,
    table: LakeTable,
    batch: DataFrame,
    epoch: str,
    n_salts: int = 0,
    mode: str = "cow",
) -> PreparedEpoch | None:
    """The embarrassingly-parallel half of an epoch apply: dedup +
    enrich (+ stats). Independent of table state, so the runner
    pipelines it with the previous epoch's merge/commit. Returns None
    when the manifest says the epoch is already applied.

    COW and ``auto`` need the touched-bucket list BEFORE the merge plan
    exists (it decides which buckets' state to read): one stats job
    grouped by bucket materializes a persist of the winners and yields
    the touched buckets, the epoch totals and the per-partition lineage
    rows (north rule: event ranges + row counts per partition) at <=
    n_buckets rows. MOR needs none of it before the write: the append
    is the epoch's only job, and its stats come from the delta files'
    footers (``LakeTable.commit_append_delta`` reads them)."""
    epoch = str(epoch)
    if table.is_applied(epoch):
        return None
    t0 = time.time()
    n_buckets = table.current_snapshot().n_buckets
    winners = lww_dedup(batch, n_salts=n_salts)
    winners = enrich_content(winners)
    winners = winners.withColumn(BUCKET_COL, bucket_expr(KEYS, n_buckets))
    if mode == "mor":
        return PreparedEpoch(
            epoch=epoch, winners=winners, stats=None, touched=None, t_start=t0,
            n_buckets=n_buckets, batch=batch,
        )
    winners.persist()
    bucket_stats = winners.groupBy(BUCKET_COL).agg(
        F.count("*").alias("n_keys"),
        F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("n_deletes"),
        F.min("lsn").alias("min_lsn"),
        F.max("lsn").alias("max_lsn"),
    ).collect()
    return PreparedEpoch(
        epoch=epoch, winners=winners, stats=_rollup(bucket_stats),
        touched=sorted(r[BUCKET_COL] for r in bucket_stats), t_start=t0,
        bucket_stats=bucket_stats, n_buckets=n_buckets, batch=batch,
    )


def apply_epoch(
    spark: SparkSession,
    table: LakeTable,
    batch: DataFrame,
    epoch: str,
    n_salts: int = 0,
    metrics_dir: str | None = None,
    mode: str = "cow",
) -> ApplyResult:
    """Apply one epoch of change events. Idempotent by manifest check.

    ``n_salts=0`` (default) relies on algebraic partial aggregation for
    skew; ``n_salts>0`` adds explicit two-phase salting (see lww_dedup).

    ``mode="cow"`` rewrites touched buckets (read amplification 0,
    write cost O(touched state)); ``mode="mor"`` appends the winners as
    delta files (write cost O(batch), reads resolve LWW over
    base+deltas until ``table.compact()`` folds them) — pick by
    workload, exactly like Iceberg's write.update.mode. Neither mode's
    epoch stats depend on a query listener, so both run inside a
    Structured Streaming foreachBatch.
    """
    prep = prepare_epoch(spark, table, batch, epoch, n_salts=n_salts, mode=mode)
    if prep is None:
        return ApplyResult(epoch=str(epoch), skipped=True)
    return commit_epoch(spark, table, prep, metrics_dir=metrics_dir, mode=mode)


def commit_epoch(
    spark: SparkSession,
    table: LakeTable,
    prep: PreparedEpoch,
    metrics_dir: str | None = None,
    mode: str = "cow",
) -> ApplyResult:
    """The serialized half: conditional-LWW merge against table state +
    atomic snapshot commit. The runner keeps epoch-commit order in one
    process; against OTHER writers this is an optimistic-concurrency
    loop — the merge is derived from a base snapshot and published with
    base.version+1, so a foreign commit in between raises
    CommitConflict and the merge re-derives from the fresh snapshot
    (correctness under reordering is still covered by tombstoned
    conditional LWW)."""
    from .table import CommitConflict, EpochAlreadyApplied

    if prep.stats is None and mode != "mor":
        raise ValueError(f"epoch {prep.epoch} was prepared with mode='mor' and must commit as mor")
    epoch, winners, stats, touched = prep.epoch, prep.winners, prep.stats, prep.touched
    bucket_stats = prep.bucket_stats
    try:
        for attempt in range(3):
            snap = table.current_snapshot()
            if snap.is_applied(epoch):
                # the competing writer applied our epoch — manifest no-op
                return ApplyResult(epoch=epoch, skipped=True)
            if touched is not None and prep.n_buckets and snap.n_buckets != prep.n_buckets:
                # foreign rebucket() between prepare and commit: the
                # touched list (and per-bucket lineage) were derived
                # under the OLD bucket hash — re-derive from the raw
                # batch keys under the fresh layout; bucket_expr inside
                # the commit fns already uses snap.n_buckets
                touched = sorted(
                    r[0]
                    for r in prep.batch.select(
                        bucket_expr(KEYS, snap.n_buckets).alias(BUCKET_COL)
                    ).distinct().collect()
                )
                bucket_stats = None  # stale bucket ids; epoch-level stats stay valid
            try:
                if _resolve_mode(table, snap, touched, mode) == "mor":
                    new_snap, footer_rows = _append_and_commit(spark, table, snap, winners, stats, touched, epoch)
                else:
                    new_snap = _merge_and_commit(spark, table, snap, winners, stats, touched, epoch)
                    footer_rows = None
                break
            except EpochAlreadyApplied:
                # lost the race to a writer that applied THIS epoch:
                # a skipped apply, never a metrics row (the winner
                # already counted it)
                return ApplyResult(epoch=epoch, skipped=True)
            except CommitConflict:
                if attempt == 2:
                    raise
    finally:
        winners.unpersist()

    if footer_rows is not None:
        # a mode="mor" epoch: its numbers were read from the footers
        stats, bucket_stats = _rollup(footer_rows), footer_rows
        touched = [r[BUCKET_COL] for r in footer_rows]
    lineage = _lineage(stats, len(touched))
    res = ApplyResult(
        epoch=epoch,
        skipped=False,
        n_keys=lineage["n_keys"],
        n_deletes=lineage["n_deletes"],
        n_upserts=lineage["n_keys"] - lineage["n_deletes"],
        min_lsn=lineage["min_lsn"],
        max_lsn=lineage["max_lsn"],
        touched_buckets=lineage["touched_buckets"],
        apply_sec=time.time() - prep.t_start,
        snapshot=new_snap.version,
    )
    if metrics_dir:
        from .metrics import write_epoch_metrics

        write_epoch_metrics(spark, metrics_dir, res, bucket_stats=bucket_stats)
    return res


def _lineage(stats: dict, touched_buckets: int, **extra) -> dict:
    """The epoch's applied entry in the snapshot manifest, from the
    epoch totals (``_rollup``) and the touched-bucket count."""
    return {
        "n_events": int(stats["n_keys"]),
        "n_keys": int(stats["n_keys"]),
        "n_deletes": int(stats["n_deletes"] or 0),
        "min_lsn": int(stats["min_lsn"]) if stats["min_lsn"] is not None else None,
        "max_lsn": int(stats["max_lsn"]) if stats["max_lsn"] is not None else None,
        "touched_buckets": touched_buckets,
        **extra,
    }


# mode="auto" COW/MOR crossover: rewrite state in place while the
# touched state is small enough that the rewrite IO is cheap; switch to
# delta appends once the rewrite would dominate. 256 MiB default from
# the measured single-disk crossover (BENCH.md round-5 compression/
# crossover section); tune per deployment via table props — on a real
# cluster with striped object storage the budget is much higher.
DEFAULT_COW_STATE_BUDGET = 256 * 1024 * 1024


def _resolve_mode(table: LakeTable, snap, touched, mode: str) -> str:
    """Resolve mode='auto' to cow or mor for THIS epoch against THIS
    snapshot: COW's marginal cost is rewriting the touched buckets'
    current state, known driver-side from the manifest (os.stat, no
    Spark job). Re-resolved per optimistic attempt, so a competing
    writer growing the table flips the decision on retry."""
    if mode != "auto":
        return mode
    if not snap.order_cols:
        return "cow"  # read-time LWW impossible without order_cols
    budget = int(snap.props.get("cow_state_budget_bytes", DEFAULT_COW_STATE_BUDGET))
    return "mor" if table.state_size_bytes(snap, touched) > budget else "cow"


def _footer_stats_row(r: dict) -> dict:
    """A per-bucket stats row from one of ``commit_append_delta``'s
    footer rows (row and tombstone counts, lsn min/max)."""
    lsn = r["stats"].get("lsn") or {}
    return {
        BUCKET_COL: r[BUCKET_COL],
        "n_keys": r["n_rows"],
        "n_deletes": r["n_deletes"],
        "min_lsn": lsn.get("min"),
        "max_lsn": lsn.get("max"),
    }


def _target_schema(table: LakeTable, snap, winners: DataFrame):
    """The table schema reconciled with the epoch's payload: the
    winners minus bucket/meta columns, plus the tombstone flag."""
    from pyspark.sql import types as T

    from .table import DELETED_COL

    batch_payload_schema = T.StructType(
        [f for f in winners.schema.fields if f.name not in (BUCKET_COL, *META_COLS)]
        + [T.StructField(DELETED_COL, T.BooleanType())]
    )
    return reconcile(table.schema(snap), batch_payload_schema)[0]


def _merge_and_commit(spark, table, snap, winners, stats, touched, epoch):
    """One optimistic attempt: derive the merged state FROM ``snap`` and
    publish with ``base_snap=snap`` (CommitConflict if anyone else
    published first). Returns the snapshot."""
    from .table import DELETED_COL, _conform

    lineage = _lineage(stats, len(touched))
    if not touched:
        # empty epoch still must be recorded (manifest completeness)
        empty = spark.createDataFrame([], table.schema(snap).add(BUCKET_COL, "int"))
        return table.commit_merge(empty, [], epoch, lineage=lineage, base_snap=snap)

    target_schema = _target_schema(table, snap, winners)
    state = table.read(snap, buckets=touched, include_deleted=True)
    batch_rows = _conform(
        winners.drop(BUCKET_COL, "epoch").withColumn(DELETED_COL, F.col("op") == "D").drop("op"),
        target_schema,
    )

    # Single-pass conditional LWW (MERGE ... WHEN MATCHED AND s.lsn >
    # t.lsn semantics): every state row competes with its batch winner
    # (if any) in ONE union + max_by groupBy. Keys the batch did not
    # touch win their group trivially — the old survivors/contested
    # split read the touched-bucket state TWICE (left_anti + left_semi
    # branches); this reads it once and merges in a single shuffle.
    # Batches need NOT arrive in LSN order (streaming file order,
    # backfill replays): the state row (including tombstones) competes
    # with the batch row and highest (lsn, commit) wins. Deletes become
    # tombstone rows, so an out-of-order older upsert cannot resurrect
    # a deleted key; read() hides tombstones.
    new_state = resolve_lww(
        _conform(state, target_schema).unionByName(batch_rows), KEYS, ORDER_COLS
    ).withColumn(BUCKET_COL, bucket_expr(KEYS, snap.n_buckets))
    # Bucket-aligned repartition: exactly one file per bucket AND full
    # write parallelism (without it AQE coalesces the small agg output
    # to ~2 x 64MB partitions and the parquet write serializes).
    n_write = max(1, min(len(touched), spark.sparkContext.defaultParallelism * 2))
    new_state = new_state.repartition(n_write, F.col(BUCKET_COL))
    return table.commit_merge(new_state, touched, epoch, new_schema=target_schema, lineage=lineage, base_snap=snap)


def _append_and_commit(spark, table, snap, winners, stats, touched, epoch):
    """One merge-on-read attempt: conform the epoch's winners to the
    reconciled schema and APPEND them as bucket-partitioned delta files
    — zero table-state reads, commit cost O(batch). The read-time LWW
    (table.resolve_lww over base+deltas by (lsn, commit)) computes the
    exact same final image as the COW union+max_by in _merge_and_commit,
    just lazily; test_mor pins digest equality between the two modes.

    ``stats`` is None for a mode="mor" epoch: the append IS the epoch's
    only Spark job, and the lineage comes from the WRITTEN delta files'
    footers, one row per bucket dir from ``commit_append_delta``'s own
    footer pass, like Iceberg deriving snapshot summaries from its
    manifests. ``mode="auto"`` epochs arrive with their stats job's
    numbers. Returns (snapshot, per-bucket footer stats rows — None
    when ``stats`` was given)."""
    from .table import DELETED_COL, _conform

    target_schema = _target_schema(table, snap, winners)
    if stats is not None:
        footer_rows = None
        lineage = _lineage(stats, len(touched), mode="mor")
        if not touched:
            return table.commit_append_delta(None, [], epoch, lineage=lineage, base_snap=snap), None
    else:
        footer_rows = []

        def lineage(bucket_footers):
            footer_rows.extend(_footer_stats_row(r) for r in bucket_footers)
            return _lineage(_rollup(footer_rows), len(footer_rows), mode="mor")

    # tombstone encoding: deletes are True, live rows are NULL (every
    # reader coalesces to False) — the live/delete split then lives in
    # the parquet footer null counts, making the footer stats a pure
    # metadata read
    deleted = F.when(F.col("op") == "D", F.lit(True))
    batch_rows = _conform(
        winners.drop(BUCKET_COL, "epoch").withColumn(DELETED_COL, deleted).drop("op"),
        target_schema,
    ).withColumn(BUCKET_COL, bucket_expr(KEYS, snap.n_buckets))
    n_write = spark.sparkContext.defaultParallelism * 2
    if touched is not None:
        n_write = min(len(touched), n_write)
    batch_rows = batch_rows.repartition(max(1, n_write), F.col(BUCKET_COL))
    new_snap = table.commit_append_delta(
        batch_rows, touched, epoch, new_schema=target_schema, lineage=lineage, base_snap=snap
    )
    return new_snap, footer_rows


def iceberg_merge_sql(target: str, source_view: str, extra_cols: list[str] = ()) -> str:
    """The equivalent MERGE INTO for a real Iceberg catalog (needs the
    iceberg-spark-runtime jar; see session.get_spark(enable_iceberg=True)).
    The engine above is used in-sandbox because the jar isn't available."""
    cols = ["repo", "path", "commit", "lang", "content", "content_sha", "lsn", *extra_cols]
    sets = ", ".join(f"t.{c} = s.{c}" for c in cols if c not in KEYS)
    names = ", ".join(cols)
    vals = ", ".join(f"s.{c}" for c in cols)
    return f"""
MERGE INTO {target} t
USING {source_view} s
ON t.repo = s.repo AND t.path = s.path
WHEN MATCHED AND s.op = 'D' THEN DELETE
WHEN MATCHED THEN UPDATE SET {sets}
WHEN NOT MATCHED AND s.op != 'D' THEN INSERT ({names}) VALUES ({vals})
""".strip()
