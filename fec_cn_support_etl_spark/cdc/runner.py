"""CDC batch-replay driver: tail a WAL dir and apply epochs in order.

spark-submit entrypoint (north rule: "run via spark-submit --py-files"):

    spark-submit --py-files fec_cn_support_etl_spark.zip \
        -m fec_cn_support_etl_spark.cdc.runner ... (or python -m ...)

    python -m fec_cn_support_etl_spark.cdc.runner \
        --wal /tmp/wal --table /tmp/lake --metrics /tmp/metrics \
        --n-buckets 64 --master 'local[32]'

Resume-from-checkpoint is free: the table's snapshot manifest IS the
checkpoint. Re-running after a crash (or a duplicate delivery) skips
every already-applied epoch and continues from the first missing one.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from ..session import get_spark
from .table import LakeTable

TABLE_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content", T.StringType()),
        T.StructField("content_sha", T.StringType()),
        T.StructField("lsn", T.LongType()),
        T.StructField("_deleted", T.BooleanType()),  # tombstones (out-of-order LWW safety)
    ]
)


def _epoch_footer(path: str):
    """(row count, spark schema) from parquet footers on the driver —
    saves the count job AND the schema-inference job per epoch while
    staying schema-evolution-safe (each epoch's own footer schema)."""
    import pyarrow.parquet as pq

    total = 0
    arrow_schema = None
    for name in sorted(os.listdir(path)):
        if name.endswith(".parquet"):
            f = pq.ParquetFile(os.path.join(path, name))
            total += f.metadata.num_rows
            if arrow_schema is None:
                arrow_schema = f.schema_arrow
    spark_schema = None
    if arrow_schema is not None:
        try:
            from pyspark.sql.pandas.types import from_arrow_schema

            spark_schema = from_arrow_schema(arrow_schema)
        except Exception:
            spark_schema = None  # fall back to Spark's own inference
    return total, spark_schema


def list_epochs(wal_dir: str) -> list[int]:
    eps = []
    for name in os.listdir(wal_dir):
        m = re.fullmatch(r"epoch=(\d+)", name)
        if m:
            eps.append(int(m.group(1)))
    return sorted(eps)


def open_or_create(
    spark: SparkSession, table_dir: str, n_buckets: int, props: dict | None = None
) -> LakeTable:
    if LakeTable.exists(table_dir):
        t = LakeTable(spark, table_dir)
        if props:
            # a resumed replay must honor the props the caller asked for
            # (--compression / --cow-state-budget-mb on an existing
            # table dir): merge them in with a metadata-only commit
            # instead of silently keeping creation-time values
            t.update_props(props)
        return t
    # order_cols enables merge-on-read commits; harmless for COW (reads
    # only resolve when a bucket actually holds delta files)
    return LakeTable.create(
        spark, table_dir, TABLE_SCHEMA, key_cols=["repo", "path"], n_buckets=n_buckets,
        order_cols=["lsn", "commit"], props=props,
    )


def replay(
    spark: SparkSession,
    wal_dir: str,
    table_dir: str,
    n_buckets: int = 64,
    n_salts: int = 0,
    metrics_dir: str | None = None,
    stop_after: int | None = None,
    vacuum_every: int | None = None,
    mode: str = "cow",
    compact_every: int | None = None,
    max_delta_files: int = 1,
    table_props: dict | None = None,
    expectations: list | None = None,
    quarantine_dir: str | None = None,
    log=print,
) -> dict:
    """Apply every pending epoch; returns summary incl. events/sec.

    Each epoch's parallel phase (dedup + enrich + stats,
    engine.prepare_epoch) runs in a prepare thread, epoch k+1's while
    epoch k merges and commits — Spark schedules both job
    sets concurrently, hiding the commit tail behind the next epoch's
    compute. Commits still happen strictly in epoch order.

    ``vacuum_every=N`` runs table maintenance (vacuum keeping the
    latest snapshot) after every N applied epochs — bounds superseded
    snapshot/data accumulation on long replays; time-travel reads of
    vacuumed versions stop working, by design.

    ``mode="mor"`` commits each epoch as appended delta files (O(batch)
    commit; reads LWW-resolve base+deltas); ``compact_every=N`` folds
    buckets holding more than ``max_delta_files`` files back into one
    base file every N applied epochs, bounding read amplification —
    Iceberg's write.update.mode=merge-on-read + scheduled rewrite_data_files.
    """
    from concurrent.futures import ThreadPoolExecutor

    from .engine import commit_epoch, prepare_epoch

    table = open_or_create(spark, table_dir, n_buckets, props=table_props)
    t0 = time.time()
    total_events = 0
    applied = 0
    epochs = list_epochs(wal_dir)
    if stop_after is not None:
        pending = [e for e in epochs if not table.is_applied(e)][:stop_after]
        epochs = [e for e in epochs if table.is_applied(e)] + pending

    exp_metrics: dict = {}

    def _prepare(ep):
        epoch_dir = os.path.join(wal_dir, f"epoch={ep}")
        n, schema = _epoch_footer(epoch_dir)
        reader = spark.read.schema(schema) if schema is not None else spark.read
        batch = reader.parquet(epoch_dir)
        if expectations:
            # data-quality gate at the front door: the clean batch is
            # what the epoch ingests; violations are counted (and
            # quarantined) per epoch, surfaced in the summary
            from .expectations import apply_expectations

            batch, m = apply_expectations(
                batch, expectations, quarantine_dir=quarantine_dir, epoch=str(ep)
            )
            exp_metrics[str(ep)] = m
            n = m["_rows_in"] - m["_rows_dropped"]
        return ep, n, prepare_epoch(spark, table, batch, str(ep), n_salts=n_salts, mode=mode)

    def _finish(ep, n, prep):
        nonlocal applied, total_events
        if prep is None:
            log(f"epoch {ep}: already applied (manifest no-op)")
            return
        res = commit_epoch(spark, table, prep, metrics_dir=metrics_dir, mode=mode)
        applied += 1
        total_events += n
        log(
            f"epoch {ep}: {n} events -> {res.n_upserts} upserts / {res.n_deletes} deletes, "
            f"{res.touched_buckets} buckets, {res.apply_sec:.2f}s, snapshot v{res.snapshot}"
        )
        if compact_every and applied % compact_every == 0:
            csnap = table.compact(max_files=max_delta_files)
            if csnap is not None:
                log(f"compact after epoch {ep}: snapshot v{csnap.version}")
        if vacuum_every and applied % vacuum_every == 0:
            removed = table.vacuum(keep_last=1)
            log(f"vacuum after epoch {ep}: {removed} superseded data dirs removed")

    if epochs:
        with ThreadPoolExecutor(max_workers=1, thread_name_prefix="cdc-prepare") as pool:
            fut = pool.submit(_prepare, epochs[0])
            for nxt in epochs[1:]:
                ep, n, prep = fut.result()
                fut = pool.submit(_prepare, nxt)  # next epoch computes while we commit
                _finish(ep, n, prep)
            _finish(*fut.result())

    wall = time.time() - t0
    out = {
        "epochs_applied": applied,
        "events": total_events,
        "wall_sec": wall,
        "events_per_sec": total_events / wall if wall > 0 else 0.0,
    }
    if exp_metrics:
        out["expectations"] = exp_metrics
    return out


def main(argv=None):
    p = argparse.ArgumentParser(description="CDC WAL -> lake table replay")
    p.add_argument("--wal", required=True)
    p.add_argument("--table", required=True)
    p.add_argument("--metrics", default=None)
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--n-salts", type=int, default=0, help="explicit two-phase salting (0 = rely on algebraic partial agg)")
    p.add_argument("--master", default=None)
    p.add_argument("--stop-after", type=int, default=None, help="apply at most N epochs (crash/resume testing)")
    p.add_argument("--warmup", action="store_true", help="run a small throwaway replay first (JVM/codegen warmup)")
    p.add_argument("--vacuum-every", type=int, default=None, help="vacuum superseded snapshots every N applied epochs")
    p.add_argument("--mode", choices=["cow", "mor", "auto"], default="cow", help="copy-on-write bucket rewrite vs merge-on-read delta append; auto picks per epoch by touched-state size vs the cow_state_budget_bytes table prop")
    p.add_argument("--compression", default=None, help="parquet codec for state/delta writes; default zstd (LakeTable.DEFAULT_COMPRESSION)")
    p.add_argument("--cow-state-budget-mb", type=int, default=None, help="mode=auto crossover: COW while touched state is below this, MOR above")
    p.add_argument("--compact-every", type=int, default=None, help="fold MOR delta files into base every N applied epochs")
    p.add_argument("--max-delta-files", type=int, default=1, help="compaction threshold: rewrite buckets holding more than this many files")
    a = p.parse_args(argv)
    spark = get_spark(app_name="cdc-replay", master=a.master)
    if a.warmup:
        import tempfile

        from .events import gen_change_events, write_wal

        wdir = tempfile.mkdtemp(prefix="cdc-warmup-")
        write_wal(gen_change_events(spark, 50_000, epochs=1, seed=1), os.path.join(wdir, "wal"))
        replay(spark, os.path.join(wdir, "wal"), os.path.join(wdir, "lake"), log=lambda *_: None)
    props = {}
    if a.compression:
        props["write_compression"] = a.compression
    if a.cow_state_budget_mb is not None:
        props["cow_state_budget_bytes"] = a.cow_state_budget_mb * 1024 * 1024
    summary = replay(
        spark,
        a.wal,
        a.table,
        table_props=props or None,
        n_buckets=a.n_buckets,
        n_salts=a.n_salts,
        metrics_dir=a.metrics,
        stop_after=a.stop_after,
        vacuum_every=a.vacuum_every,
        mode=a.mode,
        compact_every=a.compact_every,
        max_delta_files=a.max_delta_files,
    )
    print(json.dumps(summary))  # machine-readable: bench parses with json.loads
    return 0


if __name__ == "__main__":
    sys.exit(main())
