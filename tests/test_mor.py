"""Merge-on-read mode: delta-append commits must produce bit-identical
table state to copy-on-write, under replay, compaction, schema
evolution, out-of-order delivery, and racing writers."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from fec_cn_support_etl_spark.cdc import runner
from fec_cn_support_etl_spark.cdc.table import CommitConflict, LakeTable, Snapshot

from test_cdc import EPOCHS, pandas_oracle, state_digest, table_state, wal  # noqa: F401


def _replay(spark, wal_dir, table_dir, **kw):
    return runner.replay(spark, wal_dir, table_dir, n_buckets=8, log=lambda *_: None, **kw)


def test_mor_matches_cow_and_pandas_oracle(spark, wal, tmp_path):
    cow = str(tmp_path / "cow")
    mor = str(tmp_path / "mor")
    _replay(spark, wal, cow, mode="cow")
    _replay(spark, wal, mor, mode="mor")
    d_cow, d_mor = state_digest(table_state(spark, cow)), state_digest(table_state(spark, mor))
    assert d_mor == d_cow
    want = pandas_oracle(wal, list(range(EPOCHS)))
    got = table_state(spark, mor)
    assert state_digest(got) == state_digest(want[got.columns])
    # MOR really appended: some bucket holds >1 file before compaction
    snap = LakeTable(spark, mor).current_snapshot()
    assert any(len(files) > 1 for files in snap.buckets.values())


def test_mor_compaction_preserves_state_and_folds_files(spark, wal, tmp_path):
    mor = str(tmp_path / "mor")
    _replay(spark, wal, mor, mode="mor")
    t = LakeTable(spark, mor)
    before = state_digest(table_state(spark, mor))
    snap = t.compact(max_files=1)
    assert snap is not None
    assert all(len(files) == 1 for files in snap.buckets.values())
    assert state_digest(table_state(spark, mor)) == before
    # nothing left to compact -> no-op
    assert t.compact(max_files=1) is None
    # post-compaction merges still work (append on top of new base)
    assert state_digest(table_state(spark, mor)) == before


def test_mor_scheduled_compaction_during_replay(spark, wal, tmp_path):
    a = str(tmp_path / "plain")
    b = str(tmp_path / "compacting")
    _replay(spark, wal, a, mode="mor")
    _replay(spark, wal, b, mode="mor", compact_every=2, max_delta_files=1)
    assert state_digest(table_state(spark, a)) == state_digest(table_state(spark, b))
    # scheduled compaction bounded the per-bucket file count
    worst = max(len(f) for f in LakeTable(spark, b).current_snapshot().buckets.values())
    assert worst <= 3  # <= max_delta_files + epochs between compactions


def test_mor_duplicate_delivery_noop(spark, wal, tmp_path):
    mor = str(tmp_path / "mor")
    _replay(spark, wal, mor, mode="mor")
    v1 = LakeTable(spark, mor).current_snapshot().version
    d1 = state_digest(table_state(spark, mor))
    again = _replay(spark, wal, mor, mode="mor")
    assert again["epochs_applied"] == 0
    assert LakeTable(spark, mor).current_snapshot().version == v1
    assert state_digest(table_state(spark, mor)) == d1


def test_mor_out_of_order_epochs_converge(spark, wal, tmp_path):
    from fec_cn_support_etl_spark.cdc.engine import apply_epoch

    fwd = str(tmp_path / "fwd")
    rev = str(tmp_path / "rev")
    _replay(spark, wal, fwd, mode="mor")
    t = runner.open_or_create(spark, rev, n_buckets=8)
    for ep in reversed(range(EPOCHS)):
        batch = spark.read.parquet(os.path.join(wal, f"epoch={ep}"))
        apply_epoch(spark, t, batch, str(ep), mode="mor")
    assert state_digest(table_state(spark, rev)) == state_digest(table_state(spark, fwd))


def test_mor_append_rebases_on_foreign_commit(spark, wal, tmp_path):
    """A snapshot CAS lost to a foreign (non-conflicting) commit must
    rebase the already-written delta dir instead of failing or
    rewriting data — appends commute."""
    mor = str(tmp_path / "mor")
    _replay(spark, wal, mor, mode="mor", stop_after=2)
    t = LakeTable(spark, mor)
    base = t.current_snapshot()
    digest_before = state_digest(table_state(spark, mor))

    # foreign writer publishes version base+1 with an unrelated manifest entry
    foreign_applied = dict(base.applied)
    foreign_applied["foreign-epoch"] = {"snapshot": base.version + 1, "ts": 0.0}
    t._write_snapshot(
        Snapshot(
            version=base.version + 1,
            schema_json=base.schema_json,
            current_schema_id=base.current_schema_id,
            buckets=base.buckets,
            applied=foreign_applied,
            key_cols=base.key_cols,
            n_buckets=base.n_buckets,
            props=base.props,
            order_cols=base.order_cols,
        )
    )
    # our append derives from the STALE base -> CAS loses once -> rebases
    summary = _replay(spark, wal, mor, mode="mor", stop_after=1)
    assert summary["epochs_applied"] == 1
    snap = t.current_snapshot()
    assert snap.version == base.version + 2
    assert "foreign-epoch" in snap.applied  # winner's commit survived
    assert "2" in snap.applied
    _ = digest_before
    # full replay afterwards still converges with COW
    _replay(spark, wal, mor, mode="mor")
    cow = str(tmp_path / "cow")
    _replay(spark, wal, cow, mode="cow")
    assert state_digest(table_state(spark, mor)) == state_digest(table_state(spark, cow))


def test_mor_schema_race_raises_for_rederive(spark, wal, tmp_path):
    """If the foreign commit changed the CURRENT schema, blind rebase
    would clobber the widened schema — commit_append_delta must raise
    CommitConflict so the engine re-reconciles."""
    import pyspark.sql.types as T

    mor = str(tmp_path / "mor")
    _replay(spark, wal, mor, mode="mor", stop_after=1)
    t = LakeTable(spark, mor)
    base = t.current_snapshot()
    evolved = T.StructType(t.schema(base).fields + [T.StructField("extra", T.StringType())])
    foreign = Snapshot(
        version=base.version + 1,
        schema_json={**base.schema_json, "s_f": evolved.json()},
        current_schema_id="s_f",
        buckets=base.buckets,
        applied=dict(base.applied),
        key_cols=base.key_cols,
        n_buckets=base.n_buckets,
        props=base.props,
        order_cols=base.order_cols,
    )
    t._write_snapshot(foreign)
    delta = t.read(base, include_deleted=True).limit(1).withColumn("__bucket", F.lit(0))
    with pytest.raises(CommitConflict, match="schema changed"):
        t.commit_append_delta(delta, [0], "race-epoch", base_snap=base, max_retries=2)


def test_mor_schema_evolution_applies(spark, wal, tmp_path):
    """The wal fixture evolves its schema at EVOLVE_AT; MOR replay must
    carry the added column through delta files + read-time merge (the
    cross-mode digest test already proves values; this pins the
    column)."""
    mor = str(tmp_path / "mor")
    _replay(spark, wal, mor, mode="mor")
    t = LakeTable(spark, mor)
    assert "size_bytes" in t.schema().fieldNames()  # added at EVOLVE_AT (events.py)
    cow = str(tmp_path / "cow")
    _replay(spark, wal, cow, mode="cow")
    assert sorted(t.schema().fieldNames()) == sorted(LakeTable(spark, cow).schema().fieldNames())


def test_mor_time_travel_and_vacuum(spark, wal, tmp_path):
    mor = str(tmp_path / "mor")
    _replay(spark, wal, mor, mode="mor", stop_after=3)
    t = LakeTable(spark, mor)
    v3 = t.current_snapshot().version
    d3 = state_digest(table_state(spark, mor))
    _replay(spark, wal, mor, mode="mor")
    old = (
        t.read_version(v3)
        .select("repo", "path", "commit", "lang", "content_sha", "lsn")
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    assert state_digest(old) == d3
    t.compact(max_files=1)
    removed = t.vacuum(keep_last=1)
    assert removed > 0  # superseded deltas + bases reclaimed
    final = state_digest(table_state(spark, mor))
    cow = str(tmp_path / "cow")
    _replay(spark, wal, cow, mode="cow")
    assert final == state_digest(table_state(spark, cow))


def test_rebucket_preserves_order_cols_for_future_mor(spark, wal, tmp_path):
    """rebucket() must carry order_cols — dropping it would silently
    disable read-time LWW for deltas appended after the rebucket."""
    mor = str(tmp_path / "mor")
    _replay(spark, wal, mor, mode="mor", stop_after=2)
    t = LakeTable(spark, mor)
    t.compact(max_files=1)
    t.rebucket(16)
    assert t.current_snapshot().order_cols == ["lsn", "commit"]
    _replay(spark, wal, mor, mode="mor")  # appends on the rebucketed table
    cow = str(tmp_path / "cow")
    _replay(spark, wal, cow, mode="cow")
    assert state_digest(table_state(spark, mor)) == state_digest(table_state(spark, cow))


def test_mor_read_resolves_only_dirty_buckets(spark, wal, tmp_path):
    """Only buckets holding delta files pay the read-time LWW shuffle:
    a clean bucket's rows must not pass through the resolve aggregate
    (at 100 TB, one dirty bucket must not re-shuffle the whole table)."""
    mor = str(tmp_path / "mor")
    _replay(spark, wal, mor, mode="mor")
    t = LakeTable(spark, mor)
    t.compact(max_files=1)  # all clean now
    snap = t.current_snapshot()
    # append a delta to exactly one bucket
    one = t.read(snap, include_deleted=True).limit(1).withColumn(
        "__bucket", F.lit(int(sorted(snap.buckets)[0]))
    ).withColumn("lsn", F.col("lsn") + 10_000_000)
    t.commit_append_delta(one, [int(sorted(snap.buckets)[0])], "probe-delta", base_snap=snap)
    plan = t.read()._jdf.queryExecution().optimizedPlan().toString()
    # exactly ONE aggregate (the dirty bucket's resolve), not a global one
    assert plan.count("Aggregate") == 1
    # and correctness: the bumped-lsn row wins in the read
    got = table_state(spark, mor)
    assert (got["lsn"] >= 10_000_000).sum() == 1


def test_change_data_feed_mor_and_cow(spark, wal, tmp_path):
    """read_changes(v_a, v_b): a downstream consumer applying the feed
    on top of snapshot v_a must reconstruct snapshot v_b exactly —
    for MOR (delta-by-reference) AND COW (exceptAll diff) commits."""
    for mode in ("mor", "cow"):
        lake = str(tmp_path / mode)
        _replay(spark, wal, lake, mode=mode, stop_after=3)
        t = LakeTable(spark, lake)
        v_a = t.current_snapshot().version
        base = t.read_version(v_a).toPandas()
        _replay(spark, wal, lake, mode=mode)  # epochs 3..5
        v_b = t.current_snapshot().version
        want = table_state(spark, lake)

        ch = t.read_changes(v_a, v_b).toPandas()
        assert set(ch["_change_type"]) <= {"upsert", "delete"}
        assert ch["_commit_version"].between(v_a + 1, v_b).all()
        # replay feed over the v_a image
        state = {(r["repo"], r["path"]): r for r in base.to_dict("records")}
        for r in ch.sort_values(["_commit_version", "lsn"]).to_dict("records"):
            key = (r["repo"], r["path"])
            if r["_change_type"] == "delete":
                state.pop(key, None)
            else:
                state[key] = r
        import pandas as pd

        got = (
            pd.DataFrame([{ "repo": k[0], "path": k[1], "commit": v["commit"], "lang": v["lang"],
                            "content_sha": v["content_sha"], "lsn": v["lsn"] } for k, v in state.items()])
            .sort_values(["repo", "path"]).reset_index(drop=True)
        )
        assert state_digest(got[want.columns]) == state_digest(want), f"mode={mode}"


def test_change_feed_skips_maintenance_commits(spark, wal, tmp_path):
    mor = str(tmp_path / "mor")
    _replay(spark, wal, mor, mode="mor")
    t = LakeTable(spark, mor)
    v1 = t.current_snapshot().version
    t.compact(max_files=1)
    v2 = t.current_snapshot().version
    assert v2 == v1 + 1
    assert t.read_changes(v1, v2).count() == 0  # compaction changes nothing logically


def test_read_changes_loads_each_snapshot_once(spark, wal, tmp_path, monkeypatch):
    """Every snapshot JSON carries the whole manifest: a feed over N
    versions loads each of the N+1 snapshots it spans once, carrying
    version v forward as v+1's predecessor instead of reloading it."""
    mor = str(tmp_path / "mor")
    _replay(spark, wal, mor, mode="mor")
    t = LakeTable(spark, mor)
    n = t.current_snapshot().version
    loaded = []
    snapshot_at = LakeTable.snapshot_at

    def counting(self, version):
        loaded.append(version)
        return snapshot_at(self, version)

    monkeypatch.setattr(LakeTable, "snapshot_at", counting)
    assert t.read_changes(0).count() > 0
    assert sorted(loaded) == list(range(n + 1))


def test_manifest_stats_prune_raw_lsn_reads(spark, wal, tmp_path):
    """Commits record parquet-footer lsn ranges in the snapshot; a raw
    ``read_images_where`` on an lsn lower bound prunes whole files
    driver-side and still returns exactly the rows with lsn >= bound."""
    mor = str(tmp_path / "mor")
    _replay(spark, wal, mor, mode="mor")
    t = LakeTable(spark, mor)
    snap = t.current_snapshot()
    entries = [f for fs in snap.buckets.values() for f in fs]
    assert all("stats" in f and "lsn" in f["stats"] for f in entries)
    full = t.read(snap, include_deleted=True).select("repo", "path", "lsn").toPandas()
    # raw images >= a cutoff in the middle of the lsn range
    cut = int(full["lsn"].quantile(0.6))
    got = t.read_images_where({"lsn": (cut, None)}).select("lsn").toPandas()
    assert (got["lsn"] >= cut).all()
    # every epoch-3+ event image above the cut appears (raw, incl. losers)
    import pandas as pd

    raw = pd.concat(
        [pd.read_parquet(os.path.join(wal, f"epoch={e}")) for e in range(EPOCHS)], ignore_index=True
    )
    # winners per key with lsn >= cut are necessarily present
    expect_min = raw[raw.lsn >= cut].groupby(["repo", "path"]).lsn.max()
    have = set(got["lsn"])
    assert set(expect_min).issubset(have)
    # and pruning really skipped something: a cutoff above the global
    # max lists zero files
    past = t.read_images_where({"lsn": (int(full["lsn"].max()) + 1, None)})
    assert past.inputFiles() == [] and past.count() == 0


def test_snapshot_isolation_for_pinned_readers(spark, wal, tmp_path):
    """A reader holding snapshot v must see v's data even after later
    commits land (until vacuum reclaims v) — Iceberg snapshot
    isolation. Works in both modes because commits never mutate
    published files."""
    mor = str(tmp_path / "mor")
    _replay(spark, wal, mor, mode="mor", stop_after=2)
    t = LakeTable(spark, mor)
    pinned_snap = t.current_snapshot()
    pinned_df = t.read(pinned_snap)  # lazy plan pinned to v
    d_before = state_digest(
        pinned_df.select("repo", "path", "commit", "lang", "content_sha", "lsn")
        .toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    )
    _replay(spark, wal, mor, mode="mor")  # more commits on top
    assert t.current_snapshot().version > pinned_snap.version
    d_after = state_digest(
        t.read(pinned_snap).select("repo", "path", "commit", "lang", "content_sha", "lsn")
        .toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    )
    assert d_after == d_before  # pinned view unchanged by later commits
    assert d_after != state_digest(table_state(spark, mor))  # head moved on


def test_manifest_compaction_watermark(spark, wal, tmp_path):
    """compact_manifest collapses the contiguous numeric-epoch prefix
    into a watermark: the snapshot stays small at millions of epochs,
    and idempotency still holds for compacted epochs (re-delivery is a
    no-op via the watermark comparison)."""
    mor = str(tmp_path / "mor")
    _replay(spark, wal, mor, mode="mor")
    t = LakeTable(spark, mor)
    full = set(t.applied_epochs())
    assert full == {str(e) for e in range(EPOCHS)}
    snap = t.compact_manifest(keep_last=2)
    assert snap.props["epoch_watermark"] == EPOCHS - 1
    assert set(snap.applied) == {str(EPOCHS - 2), str(EPOCHS - 1)}
    # every compacted epoch still reads as applied
    assert all(t.is_applied(e) for e in range(EPOCHS))
    assert not t.is_applied(EPOCHS)
    d = state_digest(table_state(spark, mor))
    # duplicate delivery of a compacted epoch: full replay is a no-op
    summary = _replay(spark, wal, mor, mode="mor")
    assert summary["epochs_applied"] == 0
    assert state_digest(table_state(spark, mor)) == d
    # idempotent: nothing left to compact
    v = t.current_snapshot().version
    assert t.compact_manifest(keep_last=2).version == v


def test_mor_rebucket_race_raises_for_rederive(spark, wal, tmp_path):
    """A foreign rebucket() between derive and publish changes the
    bucket hash — delta files placed under the OLD n_buckets must NOT
    be rebased blindly (bucket-scoped reads would silently miss them).
    commit_append_delta must raise so the engine re-derives placement."""
    mor = str(tmp_path / "mor")
    _replay(spark, wal, mor, mode="mor", stop_after=2)
    t = LakeTable(spark, mor)
    t.compact(max_files=1)
    base = t.current_snapshot()
    t.rebucket(16)  # the foreign structural change
    delta = t.read(base, include_deleted=True).limit(1).withColumn("__bucket", F.lit(0))
    with pytest.raises(CommitConflict, match="layout changed"):
        t.commit_append_delta(delta, [0], "race-layout", base_snap=base, max_retries=3)


def test_mor_lost_epoch_race_raises_already_applied(spark, wal, tmp_path):
    """A competing writer applying THIS epoch mid-rebase must surface
    as EpochAlreadyApplied (a CommitConflict subclass), not a silent
    foreign-snapshot return the caller would count as its own apply."""
    from fec_cn_support_etl_spark.cdc.table import EpochAlreadyApplied

    mor = str(tmp_path / "mor")
    _replay(spark, wal, mor, mode="mor", stop_after=1)
    t = LakeTable(spark, mor)
    base = t.current_snapshot()
    _replay(spark, wal, mor, mode="mor", stop_after=2)  # foreign writer applies epoch 1
    delta = t.read(base, include_deleted=True).limit(1).withColumn("__bucket", F.lit(0))
    with pytest.raises(EpochAlreadyApplied):
        t.commit_append_delta(delta, [0], "1", base_snap=base, max_retries=3)


def test_lost_epoch_race_reports_skipped_no_metrics(spark, wal, tmp_path, monkeypatch):
    """The engine converts EpochAlreadyApplied into a SKIPPED apply:
    the losing writer must not report a real apply nor write epoch /
    bucket metrics (the winner already counted the epoch)."""
    from fec_cn_support_etl_spark.cdc import engine
    from fec_cn_support_etl_spark.cdc.table import EpochAlreadyApplied

    mor = str(tmp_path / "mor")
    _replay(spark, wal, mor, mode="mor", stop_after=1)
    t = LakeTable(spark, mor)
    batch = spark.read.parquet(os.path.join(wal, "epoch=1"))
    prep = engine.prepare_epoch(spark, t, batch, "1")
    assert prep is not None

    def lose_race(*a, **k):
        raise EpochAlreadyApplied("competing writer applied epoch 1")

    monkeypatch.setattr(engine, "_append_and_commit", lose_race)
    mdir = str(tmp_path / "metrics")
    res = engine.commit_epoch(spark, t, prep, metrics_dir=mdir, mode="mor")
    assert res.skipped
    assert not os.path.exists(mdir), "losing writer wrote metrics for an epoch it did not apply"


def test_read_changes_mor_classification_survives_manifest_compaction(spark, wal, tmp_path):
    """CDF must classify MOR commits by the -delta data-dir suffix, not
    the prunable manifest lineage: after compact_manifest removes the
    numeric entries, the change feed must be byte-identical (a
    misclassified MOR commit would be diffed with exceptAll and drop
    redelivered rows bit-identical to pre-existing state)."""
    import pandas as pd

    mor = str(tmp_path / "mor")
    _replay(spark, wal, mor, mode="mor")
    t = LakeTable(spark, mor)

    def feed_digest():
        pdf = t.read_changes(0).toPandas()
        pdf = pdf.sort_values(list(pdf.columns)).reset_index(drop=True)
        return state_digest(pdf.astype(str).where(~pdf.isna(), ""))

    before = feed_digest()
    t.compact_manifest(keep_last=0)
    assert t.current_snapshot().props.get("epoch_watermark") == EPOCHS - 1
    assert before == feed_digest()


def test_watermark_only_swallows_nonnegative_numeric_epochs(spark, wal, tmp_path):
    """'-5'.lstrip('-').isdigit() is True — a dash-prefixed numeric
    epoch name must NOT read as applied via the watermark comparison
    after compaction (it was never part of the collapsed 0..W prefix)."""
    mor = str(tmp_path / "mor")
    _replay(spark, wal, mor, mode="mor")
    t = LakeTable(spark, mor)
    t.compact_manifest(keep_last=0)
    assert all(t.is_applied(e) for e in range(EPOCHS))
    assert not t.is_applied(-5)
    assert not t.is_applied("-3")
    assert not t.is_applied("stream-7")


def test_mor_auto_compact_bounds_snapshot_growth(spark, wal, tmp_path):
    """Without scheduled compaction, every MOR append grows the
    snapshot's per-bucket file list — and EVERY commit rewrites the
    snapshot JSON, so at 10^5 epochs the manifest itself becomes the
    bottleneck. The max_delta_files backstop must bound the chain
    (structurally, independent of epoch count) with state unchanged."""
    mor = str(tmp_path / "mor")
    _replay(spark, wal, mor, mode="mor", stop_after=1)
    t = LakeTable(spark, mor)
    snap = t.current_snapshot()
    t._write_snapshot(
        Snapshot(
            version=snap.version + 1,
            schema_json=dict(snap.schema_json),
            current_schema_id=snap.current_schema_id,
            buckets=snap.buckets,
            applied=dict(snap.applied),
            key_cols=snap.key_cols,
            n_buckets=snap.n_buckets,
            props={**snap.props, "max_delta_files": 2},
            order_cols=snap.order_cols,
        )
    )
    _replay(spark, wal, mor, mode="mor")  # 5 more epochs, no compact_every
    worst = max(len(f) for f in t.current_snapshot().buckets.values())
    assert worst <= 2, f"delta chain unbounded: {worst} files in one bucket"
    cow = str(tmp_path / "cow")
    _replay(spark, wal, cow, mode="cow")
    assert state_digest(table_state(spark, mor)) == state_digest(table_state(spark, cow))


def test_mor_lazy_epoch_folds_stats_into_write_job(spark, wal, tmp_path):
    """The small-epoch throughput contract: a MOR epoch's stats ride
    its delta-append write. ``prepare_epoch`` runs NO Spark job, and
    the append is the epoch's only one (AQE may split it into
    stage-jobs, so the test pins the shape, not a magic count): a COW
    apply of the same batch, which needs its grouped stats job before
    the merge, costs strictly more jobs. The footer stats equal a
    pandas LWW count of the batch."""
    import pandas as pd

    from fec_cn_support_etl_spark.cdc import engine

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _replay(spark, wal, a, mode="mor", stop_after=1)
    _replay(spark, wal, b, mode="cow", stop_after=1)
    epoch_dir = os.path.join(wal, "epoch=1")
    batch = spark.read.parquet(epoch_dir)
    batch.count()  # warm the scan so both probes count only the apply
    tracker = spark.sparkContext.statusTracker()

    def jobs():
        return set(tracker.getJobIdsForGroup())

    before = jobs()
    t = LakeTable(spark, a)
    prep = engine.prepare_epoch(spark, t, batch, "1", mode="mor")
    assert jobs() == before, "MOR prepare ran a Spark job"
    with pytest.raises(ValueError, match="must commit as mor"):
        engine.commit_epoch(spark, t, prep, mode="cow")  # no touched list to merge by
    mor = engine.commit_epoch(spark, t, prep, mode="mor")
    mor_jobs = len(jobs() - before)
    before = jobs()
    cow = engine.apply_epoch(spark, LakeTable(spark, b), batch, "1", mode="cow")
    cow_jobs = len(jobs() - before)
    assert mor_jobs < cow_jobs, f"mor {mor_jobs} jobs vs cow {cow_jobs}"

    events = pd.read_parquet(epoch_dir).sort_values(["lsn", "commit"])
    winners = events.groupby(["repo", "path"]).last()
    assert mor.n_keys == len(winners)
    assert mor.n_deletes == int((winners["op"] == "D").sum())
    assert (mor.min_lsn, mor.max_lsn) == (winners["lsn"].min(), winners["lsn"].max())
    assert mor.touched_buckets > 0
    for f in ("n_keys", "n_deletes", "min_lsn", "max_lsn", "touched_buckets"):
        assert getattr(mor, f) == getattr(cow, f), f


def test_footer_stats_missing_statistics_degrade_to_zero_deletes(tmp_path):
    """A parquet file written WITHOUT footer statistics must contribute
    zero counted deletes (the review trap: defaulting null_count to 0
    counted the whole row group as deletes)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fec_cn_support_etl_spark.cdc.engine import _footer_stats_row
    from fec_cn_support_etl_spark.cdc.table import _agg_stats, _delta_counts, _file_stats, _footers

    tbl = pa.table(
        {
            "id": pa.array([1, 2, 3, 4], pa.int64()),
            "lsn": pa.array([10, 11, 12, 13], pa.int64()),
            "_deleted": pa.array([True, None, None, True], pa.bool_()),
        }
    )
    d_stats = str(tmp_path / "with_stats")
    d_none = str(tmp_path / "no_stats")
    os.makedirs(d_stats), os.makedirs(d_none)
    pq.write_table(tbl, os.path.join(d_stats, "part-0.parquet"))
    pq.write_table(
        tbl, os.path.join(d_none, "part-0.parquet"), write_statistics=False
    )

    def bucket_row(d):
        n_rows, n_deletes = _delta_counts(_footers(d).values())
        stats = _agg_stats(_file_stats(_footers(d), ["lsn"]))
        return _footer_stats_row({"__bucket": 3, "n_rows": n_rows, "n_deletes": n_deletes, "stats": stats})

    assert bucket_row(d_stats) == {"__bucket": 3, "n_keys": 4, "n_deletes": 2, "min_lsn": 10, "max_lsn": 13}
    st2 = bucket_row(d_none)
    assert st2["n_keys"] == 4
    assert st2["n_deletes"] == 0, "missing stats must not count as all-deletes"
    assert st2["min_lsn"] is None and st2["max_lsn"] is None


def test_append_delta_lineage_dict_or_footer_callable(spark, tmp_path):
    """commit_append_delta takes its lineage as a dict or as a callable
    of the per-bucket footer rows of the files it just wrote; with
    ``touched_buckets=None`` it records the touched count from the
    written dir's bucket listing."""
    from pyspark.sql import types as T

    from fec_cn_support_etl_spark.cdc.table import BUCKET_COL, bucket_expr

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("lsn", T.LongType()),
        ]
    )
    t = LakeTable.create(
        spark, str(tmp_path / "lake"), schema,
        key_cols=["id"], n_buckets=2, order_cols=["lsn"],
    )
    base = (
        spark.createDataFrame([(1, "a", 1), (2, "b", 1)], schema)
        .withColumn(BUCKET_COL, bucket_expr(["id"], 2))
    )
    t.commit_merge(base, [0, 1], epoch="0")
    delta = (
        spark.createDataFrame([(1, "a2", 2)], schema)
        .withColumn(BUCKET_COL, bucket_expr(["id"], 2))
    )
    snap = t.commit_append_delta(delta, None, epoch="1", lineage={"mode": "dict"})
    assert snap.applied["1"]["mode"] == "dict"
    assert snap.applied["1"]["touched_buckets"] == 1
    delta2 = (
        spark.createDataFrame([(2, "b2", 3)], schema)
        .withColumn(BUCKET_COL, bucket_expr(["id"], 2))
    )
    seen = []
    snap2 = t.commit_append_delta(
        delta2, None, epoch="2",
        lineage=lambda rows: seen.extend(rows) or {"n_rows": sum(r["n_rows"] for r in rows)},
    )
    (row,) = seen
    (b2,) = [r[0] for r in delta2.select(BUCKET_COL).collect()]
    assert row[BUCKET_COL] == b2 and row["n_rows"] == 1 and row["n_deletes"] == 0
    assert row["stats"]["lsn"]["min"] == row["stats"]["lsn"]["max"] == 3
    assert snap2.applied["2"]["n_rows"] == 1
    assert snap2.applied["2"]["touched_buckets"] == 1


def test_state_codec_default_and_override(spark, tmp_path):
    """Codec policy: zstd for ALL state and delta writes (measured best
    at both the scaling and probe protocols — BENCH.md round 6; a
    size-aware snappy-for-small-deltas variant was measured to cost
    16M-event MOR scaling 0.82->0.77 and rejected);
    props['write_compression'] forces another codec everywhere."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from fec_cn_support_etl_spark.cdc.table import BUCKET_COL, bucket_expr

    def codecs(table_dir, pattern):
        out = set()
        for p in glob.glob(os.path.join(table_dir, "data", pattern, "**", "*.parquet"), recursive=True):
            md = pq.ParquetFile(p).metadata
            out.add(md.row_group(0).column(0).compression.lower())
        return out

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("lsn", T.LongType()),
        ]
    )

    def mk(root, props=None):
        t = LakeTable.create(
            spark, root, schema, key_cols=["id"], n_buckets=2,
            order_cols=["lsn"], props=props,
        )
        base = (
            spark.createDataFrame([(1, "a", 1), (2, "b", 1)], schema)
            .withColumn(BUCKET_COL, bucket_expr(["id"], 2))
        )
        t.commit_merge(base, [0, 1], epoch="0")
        delta = (
            spark.createDataFrame([(1, "a2", 2)], schema)
            .withColumn(BUCKET_COL, bucket_expr(["id"], 2))
        )
        t.commit_append_delta(delta, None, epoch="1")
        return t

    d1 = str(tmp_path / "default")
    mk(d1)
    assert codecs(d1, "v1-*") == {"zstd"}
    assert codecs(d1, "*-delta") == {"zstd"}
    d2 = str(tmp_path / "forced")
    mk(d2, props={"write_compression": "snappy"})
    assert codecs(d2, "v1-*") == {"snappy"}
    assert codecs(d2, "*-delta") == {"snappy"}
