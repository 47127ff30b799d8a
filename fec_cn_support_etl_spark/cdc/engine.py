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
from .table import BUCKET_COL, LakeTable, bucket_expr

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
    ord_struct = F.struct(*[F.col(c) for c in ORDER_COLS])
    row_struct = F.struct(*[F.col(c) for c in batch.columns])
    if n_salts <= 1:
        return batch.groupBy(*KEYS).agg(F.max_by(row_struct, ord_struct).alias("r")).select("r.*")
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


def enrich_content(df: DataFrame, use_pandas_udf: bool = True) -> DataFrame:
    """content sha256 + lang normalization — the two mandated vectorized
    pandas UDFs (BASELINE.json input_hint). use_pandas_udf=False swaps
    sha256 to the JVM-native F.sha2 (same result, no Python at all) for
    benchmarking the UDF overhead."""
    sha = sha256_udf(F.col("content")) if use_pandas_udf else F.sha2(F.col("content"), 256)
    if use_pandas_udf:
        lang = lang_normalize_udf(F.col("lang"))
    else:
        from ..functions.udfs import _LANG_ALIASES

        folded = F.trim(F.lower(F.col("lang")))
        alias_map = F.create_map(*[F.lit(x) for kv in _LANG_ALIASES.items() for x in kv])
        lang = F.coalesce(F.element_at(alias_map, folded), folded)
    return df.withColumn("content_sha", F.when(F.col("content").isNotNull(), sha)).withColumn("lang", lang)


@dataclass
class PreparedEpoch:
    """Output of the parallel phase.

    Two shapes: eager (``stats``/``touched``/``bucket_stats`` populated
    by a dedicated stats job that also materialized a persist) and lazy
    (``stats`` None — epoch stats ride the commit's write job as
    Observation metrics, so the epoch costs ONE Spark job; ``touched``
    is None in MOR mode, discovered from the written delta dirs)."""

    epoch: str
    winners: DataFrame
    stats: object  # dict (eager) | None (lazy: harvested from the write)
    touched: list[int] | None  # None => discovered post-write (MOR)
    t_start: float
    bucket_stats: list = None  # per-bucket (partition) lineage rows
    # the layout `touched`/`bucket_stats` were derived under, plus the
    # raw batch — commit_epoch re-derives the touched set if a foreign
    # rebucket() changed n_buckets between prepare and commit (the COW
    # twin of commit_append_delta's 'layout changed' guard: a stale
    # touched list would read the wrong bucket subset and silently
    # drop rows whose new bucket falls outside it)
    n_buckets: int = 0
    batch: DataFrame = None


def prepare_epoch(
    spark: SparkSession,
    table: LakeTable,
    batch: DataFrame,
    epoch: str,
    n_salts: int = 0,
    use_pandas_udf: bool = True,
    eager_stats: bool = False,
    mode: str = "cow",
) -> PreparedEpoch | None:
    """The embarrassingly-parallel half of an epoch apply: dedup +
    enrich (+ stats). Independent of table state, so the runner
    pipelines it with the previous epoch's merge/commit. Returns None
    when the manifest says the epoch is already applied.

    ``eager_stats=False`` (default, the throughput path): NO stats job
    and no persist — epoch stats (counts, lsn range) ride the commit's
    own write job as Observation metrics, so small epochs pay ONE
    Spark job instead of two; in the small-epoch regime the fixed
    per-job cost dominates, and this is what clears the probe target.
    COW still needs the touched-bucket list BEFORE the merge plan
    exists (it decides which buckets' state to read), sourced from the
    cheapest possible job: a column-pruned distinct over the RAW batch
    keys (no dedup, no enrich, no sha) — the key set, hence bucket
    set, is invariant under LWW dedup. MOR needs it only AFTER the
    write (delta dirs are discovered from the output listing), so it
    runs zero extra jobs.

    ``eager_stats=True``: the metrics path — one stats job grouped by
    bucket materializes a persist AND yields per-partition lineage
    (north rule: event ranges + row counts per partition) at <=
    n_buckets rows; required when per-bucket metrics are emitted."""
    epoch = str(epoch)
    if table.is_applied(epoch):
        return None
    t0 = time.time()
    n_buckets = table.current_snapshot().n_buckets
    winners = lww_dedup(batch, n_salts=n_salts)
    winners = enrich_content(winners, use_pandas_udf=use_pandas_udf)
    winners = winners.withColumn(BUCKET_COL, bucket_expr(KEYS, n_buckets))
    if not eager_stats:
        touched = None
        if mode != "mor":
            touched = sorted(
                r[0]
                for r in batch.select(bucket_expr(KEYS, n_buckets).alias(BUCKET_COL)).distinct().collect()
            )
        return PreparedEpoch(
            epoch=epoch, winners=winners, stats=None, touched=touched, t_start=t0,
            n_buckets=n_buckets, batch=batch,
        )
    winners.persist()
    bucket_stats = winners.groupBy(BUCKET_COL).agg(
        F.count("*").alias("n_keys"),
        F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("n_deletes"),
        F.min("lsn").alias("min_lsn"),
        F.max("lsn").alias("max_lsn"),
    ).collect()
    mins = [r["min_lsn"] for r in bucket_stats if r["min_lsn"] is not None]
    maxs = [r["max_lsn"] for r in bucket_stats if r["max_lsn"] is not None]
    stats = {
        "n_keys": sum(r["n_keys"] for r in bucket_stats),
        "n_deletes": sum(r["n_deletes"] or 0 for r in bucket_stats),
        "min_lsn": min(mins) if mins else None,
        "max_lsn": max(maxs) if maxs else None,
    }
    touched = sorted(r[BUCKET_COL] for r in bucket_stats)
    return PreparedEpoch(
        epoch=epoch, winners=winners, stats=stats, touched=touched, t_start=t0,
        bucket_stats=bucket_stats, n_buckets=n_buckets, batch=batch,
    )


def apply_epoch(
    spark: SparkSession,
    table: LakeTable,
    batch: DataFrame,
    epoch: str,
    n_salts: int = 0,
    use_pandas_udf: bool = True,
    metrics_dir: str | None = None,
    mode: str = "cow",
    eager_stats: bool | None = None,
) -> ApplyResult:
    """Apply one epoch of change events. Idempotent by manifest check.

    ``n_salts=0`` (default) relies on algebraic partial aggregation for
    skew; ``n_salts>0`` adds explicit two-phase salting (see lww_dedup).

    ``mode="cow"`` rewrites touched buckets (read amplification 0,
    write cost O(touched state)); ``mode="mor"`` appends the winners as
    delta files (write cost O(batch), reads resolve LWW over
    base+deltas until ``table.compact()`` folds them) — pick by
    workload, exactly like Iceberg's write.update.mode.

    ``eager_stats=None`` (default) picks the lazy Observation path
    unless per-bucket metrics are requested; pass True from execution
    contexts where CollectMetrics listener events don't fire (e.g.
    foreachBatch — see streaming/pipeline.py).
    """
    prep = prepare_epoch(
        spark,
        table,
        batch,
        epoch,
        n_salts=n_salts,
        use_pandas_udf=use_pandas_udf,
        # per-bucket lineage rows need the stats job
        eager_stats=(metrics_dir is not None) if eager_stats is None else eager_stats,
        mode=mode,
    )
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

    epoch, winners, stats, touched, t0 = prep.epoch, prep.winners, prep.stats, prep.touched, prep.t_start
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
                eff_mode = _resolve_mode(table, snap, touched, mode)
                commit_fn = _append_and_commit if eff_mode == "mor" else _merge_and_commit
                new_snap, lineage = commit_fn(spark, table, snap, winners, stats, touched, epoch)
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

    _ = lineage
    if stats is None:
        # lazy path: the stats rode the commit's write job (Observation
        # metrics / delta-dir discovery) and were embedded in the
        # snapshot's applied entry — read them back from there
        stats = new_snap.applied.get(str(epoch), {})
    n_touched = len(touched) if touched is not None else int(stats.get("touched_buckets") or 0)
    res = ApplyResult(
        epoch=epoch,
        skipped=False,
        n_keys=int(stats.get("n_keys") or 0),
        n_deletes=int(stats.get("n_deletes") or 0),
        n_upserts=int(stats.get("n_keys") or 0) - int(stats.get("n_deletes") or 0),
        min_lsn=int(stats["min_lsn"]) if stats.get("min_lsn") is not None else None,
        max_lsn=int(stats["max_lsn"]) if stats.get("max_lsn") is not None else None,
        touched_buckets=n_touched,
        apply_sec=time.time() - t0,
        snapshot=new_snap.version,
    )
    if metrics_dir:
        from .metrics import write_epoch_metrics

        write_epoch_metrics(spark, metrics_dir, res, bucket_stats=bucket_stats)
    return res


def _stat_exprs():
    from .table import DELETED_COL

    return [
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.when(F.col(DELETED_COL), 1).otherwise(0)).alias("n_deletes"),
        F.min("lsn").alias("min_lsn"),
        F.max("lsn").alias("max_lsn"),
    ]


# Tunable per deployment (ADVICE r4): embedded execution contexts that
# can't deliver CollectMetrics events should pass eager_stats=True to
# apply_epoch (the streaming ingest does — streaming/pipeline.py);
# where that's impossible, shrink the fallback latency via this env
# knob instead of paying the full 60s per epoch.
def _obs_timeout_default() -> float:
    import os

    return float(os.environ.get("SPARK_GRAFT_OBS_TIMEOUT_SEC", "60"))


def _epoch_observation(batch_rows, obs_timeout_sec: float | None = None):
    """Attach epoch-stat metrics to the commit's OWN write job: count,
    delete count, lsn range — the same numbers the eager stats job
    computes, for free (CollectMetrics evaluates inside the existing
    scan). Fresh Observation per attempt: an Observation binds to one
    action. Returns (observed_df, memoized_lineage_fn).

    Safety net: ``Observation.get`` relies on a QueryExecutionListener
    event that some embedded execution contexts never deliver (actions
    run inside a Structured Streaming foreachBatch are the known case —
    the streaming ingest therefore uses eager stats instead,
    streaming/pipeline.py). If the metrics have not arrived within
    ``obs_timeout_sec`` of the write finishing, the stats are
    recomputed with a direct aggregate job — one extra job in a
    pathological context beats a silent infinite hang.

    The fallback costs are bounded but real (ADVICE r4): the waiter
    thread stays blocked on ``Observation.get`` forever (py4j offers no
    interruptible wait — it is a daemon thread, reclaimed at process
    exit, and a warning discloses each leak), and the direct aggregate
    re-runs the batch dedup (the sha-enrich column IS pruned away —
    stats touch only lsn/op — so the recompute is the dedup shuffle,
    not the pandas UDF). Tune via ``SPARK_GRAFT_OBS_TIMEOUT_SEC`` or
    the ``obs_timeout_sec`` arg; contexts that KNOW the listener never
    fires must pass ``eager_stats=True`` to apply_epoch instead of
    relying on this net."""
    from pyspark.sql import Observation

    if obs_timeout_sec is None:
        obs_timeout_sec = _obs_timeout_default()
    obs = Observation()
    observed = batch_rows.observe(obs, *_stat_exprs())
    memo = {}

    def lineage_fn():
        if not memo:
            import threading

            box = {}

            def _wait():
                try:
                    box.update(obs.get)
                except Exception:
                    pass

            th = threading.Thread(target=_wait, daemon=True, name="epoch-obs-wait")
            th.start()
            th.join(obs_timeout_sec)
            if not box:
                import warnings

                warnings.warn(
                    f"Observation metrics not delivered within {obs_timeout_sec}s "
                    "(CollectMetrics listener silent — foreachBatch context?); "
                    "recomputing epoch stats with a direct aggregate and leaking "
                    "one blocked daemon thread. Pass eager_stats=True to "
                    "apply_epoch in this context, or tune SPARK_GRAFT_OBS_TIMEOUT_SEC.",
                    stacklevel=2,
                )
            m = box if box else batch_rows.agg(*_stat_exprs()).collect()[0].asDict()
            n_keys = int(m["n_keys"] or 0)
            n_del = int(m["n_deletes"] or 0)
            memo.update(
                {
                    "n_events": n_keys,
                    "n_keys": n_keys,
                    "n_deletes": n_del,
                    "min_lsn": int(m["min_lsn"]) if m["min_lsn"] is not None else None,
                    "max_lsn": int(m["max_lsn"]) if m["max_lsn"] is not None else None,
                }
            )
        return dict(memo)

    return observed, lineage_fn


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


def _footer_epoch_stats(out_dir: str | None) -> dict:
    """Epoch stats from the written delta files' parquet footers —
    num_rows, lsn min/max (column statistics), and delete count via the
    tombstone NULL-encoding (live rows carry NULL ``_deleted``, so
    n_deletes = rows - null_count). Driver-side os/footer metadata
    only: no Spark job, no listener, safe inside foreachBatch."""
    import os as _os

    import pyarrow.parquet as pq

    from .table import DELETED_COL

    n_rows, n_del, mn, mx = 0, 0, None, None
    if out_dir and _os.path.isdir(out_dir):
        for root, _dirs, files in _os.walk(out_dir):
            for name in files:
                if not name.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(_os.path.join(root, name)).metadata
                n_rows += md.num_rows
                idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
                for rg in range(md.num_row_groups):
                    rgm = md.row_group(rg)
                    if "lsn" in idx:
                        st = rgm.column(idx["lsn"]).statistics
                        if st is not None and st.has_min_max:
                            mn = st.min if mn is None else min(mn, st.min)
                            mx = st.max if mx is None else max(mx, st.max)
                    if DELETED_COL in idx:
                        st = rgm.column(idx[DELETED_COL]).statistics
                        if st is None or not st.has_null_count:
                            # Missing footer stats must degrade to ZERO counted
                            # deletes, not "whole row group is deletes".
                            continue
                        n_del += rgm.num_rows - st.null_count
    return {
        "n_events": n_rows,
        "n_keys": n_rows,
        "n_deletes": n_del,
        "min_lsn": int(mn) if mn is not None else None,
        "max_lsn": int(mx) if mx is not None else None,
    }


def _merge_and_commit(spark, table, snap, winners, stats, touched, epoch):
    """One optimistic attempt: derive the merged state FROM ``snap`` and
    publish with ``base_snap=snap`` (CommitConflict if anyone else
    published first)."""
    from pyspark.sql import types as T

    from .table import DELETED_COL, _conform

    n_buckets = snap.n_buckets
    if not touched:
        # empty epoch still must be recorded (manifest completeness)
        empty = spark.createDataFrame([], table.schema(snap).add(BUCKET_COL, "int"))
        lineage = {"n_events": 0}
        return table.commit_merge(empty, [], epoch, lineage=lineage, base_snap=snap), lineage

    batch_payload_schema = T.StructType(
        [f for f in winners.schema.fields if f.name not in (BUCKET_COL, *META_COLS)]
        + [T.StructField(DELETED_COL, T.BooleanType())]
    )
    table_schema = table.schema(snap)
    target_schema, _changed = reconcile(table_schema, batch_payload_schema)

    state = table.read(snap, buckets=touched, include_deleted=True)
    batch_rows = _conform(
        winners.drop(BUCKET_COL, "epoch").withColumn(DELETED_COL, F.col("op") == "D").drop("op"),
        target_schema,
    )
    lineage_fn = None
    if stats is None:
        batch_rows, lineage_fn = _epoch_observation(batch_rows)

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
    ord_struct = F.struct(*[F.col(c) for c in ORDER_COLS])
    row_cols = [f.name for f in target_schema.fields]
    new_state = (
        _conform(state, target_schema)
        .unionByName(batch_rows)
        .groupBy(*KEYS)
        .agg(F.max_by(F.struct(*row_cols), ord_struct).alias("r"))
        .select("r.*")
        .withColumn(BUCKET_COL, bucket_expr(KEYS, n_buckets))
    )
    # Bucket-aligned repartition: exactly one file per bucket AND full
    # write parallelism (without it AQE coalesces the small agg output
    # to ~2 x 64MB partitions and the parquet write serializes).
    n_write = max(1, min(len(touched), spark.sparkContext.defaultParallelism * 2))
    new_state = new_state.repartition(n_write, F.col(BUCKET_COL))

    if lineage_fn is not None:
        lineage = lambda: {**lineage_fn(), "touched_buckets": len(touched)}  # noqa: E731
    else:
        lineage = {
            "n_events": int(stats["n_keys"]),
            "n_keys": int(stats["n_keys"]),
            "n_deletes": int(stats["n_deletes"] or 0),
            "min_lsn": int(stats["min_lsn"]) if stats["min_lsn"] is not None else None,
            "max_lsn": int(stats["max_lsn"]) if stats["max_lsn"] is not None else None,
            "touched_buckets": len(touched),
        }
    return (
        table.commit_merge(new_state, touched, epoch, new_schema=target_schema, lineage=lineage, base_snap=snap),
        lineage,
    )


def _append_and_commit(spark, table, snap, winners, stats, touched, epoch):
    """One merge-on-read attempt: conform the epoch's winners to the
    reconciled schema and APPEND them as bucket-partitioned delta files
    — zero table-state reads, commit cost O(batch). The read-time LWW
    (table.resolve_lww over base+deltas by (lsn, commit)) computes the
    exact same final image as the COW union+max_by in _merge_and_commit,
    just lazily; test_mor pins digest equality between the two modes."""
    from pyspark.sql import types as T

    from .table import DELETED_COL, _conform

    batch_payload_schema = T.StructType(
        [f for f in winners.schema.fields if f.name not in (BUCKET_COL, *META_COLS)]
        + [T.StructField(DELETED_COL, T.BooleanType())]
    )
    target_schema, _changed = reconcile(table.schema(snap), batch_payload_schema)
    if stats is not None:
        lineage = {
            "n_events": int(stats["n_keys"]),
            "n_keys": int(stats["n_keys"]),
            "n_deletes": int(stats["n_deletes"] or 0),
            "min_lsn": int(stats["min_lsn"]) if stats["min_lsn"] is not None else None,
            "max_lsn": int(stats["max_lsn"]) if stats["max_lsn"] is not None else None,
            "touched_buckets": len(touched),
            "mode": "mor",
        }
        if not touched:
            return table.commit_append_delta(None, [], epoch, lineage=lineage, base_snap=snap), lineage
    # tombstone encoding: deletes are True, live rows are NULL (every
    # reader coalesces to False) — the live/delete split then lives in
    # the parquet footer null counts, making the lazy stats below a
    # pure metadata read
    deleted = F.when(F.col("op") == "D", F.lit(True))
    batch_rows = _conform(
        winners.drop(BUCKET_COL, "epoch").withColumn(DELETED_COL, deleted).drop("op"),
        target_schema,
    ).withColumn(BUCKET_COL, bucket_expr(KEYS, snap.n_buckets))
    if stats is None:
        # lazy path: the append IS the epoch's only Spark job — stats
        # come from the WRITTEN delta files' parquet FOOTERS (row
        # counts, lsn min/max, tombstone counts via _deleted null
        # counts): a driver-side metadata read, like Iceberg deriving
        # snapshot summaries from its manifests. Unlike the Observation
        # listener this works in ANY execution context, including
        # foreachBatch (the r4 hang); touched buckets come from the
        # delta dir listing.
        lineage = lambda out_dir=None: {**_footer_epoch_stats(out_dir), "mode": "mor"}  # noqa: E731
        touched = None
    n_write = max(1, spark.sparkContext.defaultParallelism * 2) if touched is None else max(
        1, min(len(touched), spark.sparkContext.defaultParallelism * 2)
    )
    batch_rows = batch_rows.repartition(n_write, F.col(BUCKET_COL))
    return (
        table.commit_append_delta(
            batch_rows, touched, epoch, new_schema=target_schema, lineage=lineage, base_snap=snap
        ),
        lineage,
    )


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
