"""CDC engine correctness: final-state sha256 equality vs an
independent pure-pandas replayer (FIXTURES.md §B3), plus the north-rule
scenario coverage: duplicate delivery no-op, delete/re-insert, schema
evolution mid-stream, resume-from-checkpoint, hot-key skew.
"""

from __future__ import annotations

import hashlib
import os

import pandas as pd
from pyspark.sql import functions as F
import pytest

from fec_cn_support_etl_spark.cdc import events as ev
from fec_cn_support_etl_spark.cdc import runner
from fec_cn_support_etl_spark.cdc.table import LakeTable

N_EVENTS = 6000
EPOCHS = 6
EVOLVE_AT = 4

_LANG_ALIASES = {
    "py": "python", "python3": "python", "rs": "rust", "md": "markdown",
    "c++": "cpp", "golang": "go", "js": "javascript", "ts": "typescript",
}


def pandas_oracle(wal_dir: str, epochs: list[int]) -> pd.DataFrame:
    """Independent replayer: fold events by (repo, path), max lsn wins,
    deletes drop the key; emit (repo, path, commit, lang_norm, sha)."""
    frames = [pd.read_parquet(os.path.join(wal_dir, f"epoch={e}")) for e in epochs]
    all_ev = pd.concat(frames, ignore_index=True)
    all_ev = all_ev.sort_values("lsn").groupby(["repo", "path"], as_index=False).last()
    alive = all_ev[all_ev["op"] != "D"].copy()
    alive["content_sha"] = alive["content"].map(
        lambda c: hashlib.sha256(c.encode()).hexdigest() if isinstance(c, str) else None
    )
    alive["lang"] = alive["lang"].map(lambda v: _LANG_ALIASES.get(v.strip().lower(), v.strip().lower()))
    return alive[["repo", "path", "commit", "lang", "content_sha", "lsn"]].sort_values(["repo", "path"]).reset_index(drop=True)


def table_state(spark, table_dir: str) -> pd.DataFrame:
    t = LakeTable(spark, table_dir)
    cols = ["repo", "path", "commit", "lang", "content_sha", "lsn"]
    return t.read().select(*cols).toPandas().sort_values(["repo", "path"]).reset_index(drop=True)


def state_digest(df: pd.DataFrame) -> str:
    payload = "\n".join("|".join("" if pd.isna(v) else str(v) for v in row) for row in df.itertuples(index=False))
    return hashlib.sha256(payload.encode()).hexdigest()


@pytest.fixture(scope="module")
def wal(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("wal"))
    df = ev.gen_change_events(
        spark, N_EVENTS, n_repos=20, n_paths=60, epochs=EPOCHS, hot_fraction=0.35,
        delete_ratio=0.08, evolve_from_epoch=EVOLVE_AT, seed=7, partitions=4,
    )
    ev.write_wal(df, d)
    return d


def test_full_replay_matches_pandas_oracle(spark, wal, tmp_path):
    table_dir = str(tmp_path / "lake")
    summary = runner.replay(spark, wal, table_dir, n_buckets=16, metrics_dir=str(tmp_path / "m"))
    assert summary["epochs_applied"] == EPOCHS
    got = table_state(spark, table_dir)
    want = pandas_oracle(wal, list(range(EPOCHS)))
    assert len(got) == len(want), f"{len(got)} vs {len(want)}"
    pd.testing.assert_frame_equal(got, want[got.columns], check_dtype=False)
    assert state_digest(got) == state_digest(want[got.columns])


def test_duplicate_delivery_is_noop(spark, wal, tmp_path):
    table_dir = str(tmp_path / "lake")
    runner.replay(spark, wal, table_dir, n_buckets=16)
    before = LakeTable(spark, table_dir).current_snapshot().version
    d1 = state_digest(table_state(spark, table_dir))
    # re-deliver the whole WAL
    summary = runner.replay(spark, wal, table_dir, n_buckets=16)
    assert summary["epochs_applied"] == 0
    after = LakeTable(spark, table_dir).current_snapshot().version
    assert after == before, "duplicate delivery must not create snapshots"
    assert state_digest(table_state(spark, table_dir)) == d1


def test_resume_from_checkpoint(spark, wal, tmp_path):
    full_dir = str(tmp_path / "full")
    part_dir = str(tmp_path / "part")
    runner.replay(spark, wal, full_dir, n_buckets=16)
    # crash after 3 epochs, then resume
    runner.replay(spark, wal, part_dir, n_buckets=16, stop_after=3)
    t = LakeTable(spark, part_dir)
    assert len(t.applied_epochs()) == 3
    summary = runner.replay(spark, wal, part_dir, n_buckets=16)
    assert summary["epochs_applied"] == EPOCHS - 3
    assert state_digest(table_state(spark, part_dir)) == state_digest(table_state(spark, full_dir))


def test_skew_handling_same_result(spark, wal, tmp_path):
    """Explicit two-phase salting == single-phase algebraic dedup."""
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    runner.replay(spark, wal, a, n_buckets=16, n_salts=16)
    runner.replay(spark, wal, b, n_buckets=16, n_salts=0)
    assert state_digest(table_state(spark, a)) == state_digest(table_state(spark, b))


def test_detect_hot_keys_lazy_single_scan(spark, wal):
    """Skew detection must not cost an eager extra scan OR a
    single-task stage: building the hot-key frame runs ZERO jobs (the
    total is a lazy 1-row aggregate broadcast back, not an eager
    count()), and the physical plan contains no SinglePartition
    exchange — an unpartitioned window here would sort every distinct
    key in one task, the exact bottleneck this module exists to avoid."""
    from fec_cn_support_etl_spark.operators.skew import detect_hot_keys

    # one hot key (60% of rows) among a uniform tail
    data = [("hot/repo", "a.py")] * 300 + [(f"r{i % 40}", f"p{i}.py") for i in range(200)]
    batch = spark.createDataFrame(data, ["repo", "path"])
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    hot = detect_hot_keys(batch, ["repo", "path"], threshold=0.02)
    assert set(tracker.getJobIdsForGroup()) == before, "detect_hot_keys ran an eager job"
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        hot.explain("formatted")
    p = buf.getvalue()
    # No window operator: an unpartitioned window ships ALL distinct
    # keys into one sort task. (The scalar total's own SinglePartition
    # exchange is fine — it moves one partial row per task, not keys.)
    assert "Window" not in p, "hot-key plan funnels all keys through one window task"
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p  # total attached by broadcast
    rows = hot.collect()
    assert {(r["repo"], r["path"]) for r in rows} == {("hot/repo", "a.py")}
    # exactness unchanged vs the eager two-pass version on real WAL data
    wal_batch = spark.read.parquet(os.path.join(wal, "epoch=0"))
    pdf = wal_batch.toPandas()
    counts = pdf.groupby(["repo", "path"]).size()
    cutoff = max(1, int(len(pdf) * 0.005))
    want = set(counts[counts >= cutoff].index)
    got = {(r["repo"], r["path"]) for r in detect_hot_keys(wal_batch, ["repo", "path"], threshold=0.005).collect()}
    assert got == want


def test_schema_evolution_added_column(spark, wal, tmp_path):
    table_dir = str(tmp_path / "lake")
    runner.replay(spark, wal, table_dir, n_buckets=16)
    t = LakeTable(spark, table_dir)
    schema = t.schema()
    assert "size_bytes" in schema.fieldNames(), "added column must reach the table schema"
    df = t.read().toPandas()
    evolved = df[df["size_bytes"].notna()]
    legacy = df[df["size_bytes"].isna()]
    # rows last-written before the evolution epoch read as NULL
    assert len(evolved) > 0
    assert len(legacy) > 0
    # and the added value is consistent with the content it describes
    sample = evolved.head(50)
    assert (sample["size_bytes"] == sample["content"].str.len()).all()


def test_delete_then_reinsert(spark, tmp_path):
    """Handcrafted WAL: key inserted (epoch 0), deleted (1), re-inserted (2)."""
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("lsn", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("repo", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("commit", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("content", T.StringType()),
            T.StructField("epoch", T.IntegerType()),
        ]
    )
    rows = [
        (1, "I", "r", "a.py", "c1", "PY", "v1", 0),
        (2, "I", "r", "b.py", "c2", "py", "v1b", 0),
        (3, "D", "r", "a.py", "c3", "py", None, 1),
        (4, "U", "r", "b.py", "c4", "Python", "v2b", 1),
        (5, "I", "r", "a.py", "c5", "rs", "v2", 2),
        (6, "D", "r", "never-existed.py", "c6", "py", None, 2),
    ]
    wal_dir = str(tmp_path / "wal")
    spark.createDataFrame(rows, schema).write.partitionBy("epoch").parquet(wal_dir)
    table_dir = str(tmp_path / "lake")
    runner.replay(spark, wal_dir, table_dir, n_buckets=4)
    got = table_state(spark, table_dir)
    assert list(got["path"]) == ["a.py", "b.py"]
    assert list(got["lsn"]) == [5, 4]
    assert list(got["lang"]) == ["rust", "python"]
    assert got.loc[got["path"] == "a.py", "content_sha"].iloc[0] == hashlib.sha256(b"v2").hexdigest()


def test_out_of_order_epoch_delivery(spark, wal, tmp_path):
    """Applying epochs in reverse order must converge to the same state:
    the merge is conditional LWW (s.lsn > t.lsn), not blind replace."""
    import os

    from fec_cn_support_etl_spark.cdc.engine import apply_epoch

    fwd = str(tmp_path / "fwd")
    rev = str(tmp_path / "rev")
    runner.replay(spark, wal, fwd, n_buckets=16)
    table = runner.open_or_create(spark, rev, 16)
    for e in reversed(range(EPOCHS)):
        batch = spark.read.parquet(os.path.join(wal, f"epoch={e}"))
        apply_epoch(spark, table, batch, str(e))
    assert state_digest(table_state(spark, rev)) == state_digest(table_state(spark, fwd))


def test_purge_tombstones_and_vacuum(spark, wal, tmp_path):
    import os

    table_dir = str(tmp_path / "lake")
    runner.replay(spark, wal, table_dir, n_buckets=16)
    t = LakeTable(spark, table_dir)
    visible_before = state_digest(table_state(spark, table_dir))
    n_tombs = t.read(include_deleted=True).filter("_deleted").count()
    assert n_tombs > 0
    t.purge_tombstones(below_lsn=10**12)
    assert t.read(include_deleted=True).filter("_deleted").count() == 0
    assert state_digest(table_state(spark, table_dir)) == visible_before
    removed = t.vacuum(keep_last=1)
    assert removed > 0
    # table still reads fine after vacuum
    assert state_digest(table_state(spark, table_dir)) == visible_before
    assert len(os.listdir(os.path.join(table_dir, "snapshots"))) == 1


def test_rebucket_preserves_state_and_future_merges(spark, wal, tmp_path):
    """Bucket-count evolution: rebucket(32) after a partial replay
    leaves the state digest invariant, records the new count, writes
    entries with manifest stats (bounded reads keep pruning), and
    subsequent epochs merge against the NEW bucketing correctly; a
    shrinking rebucket(4) keeps the state and drops the old layout."""
    table_dir = str(tmp_path / "lake_rb")
    runner.replay(spark, wal, table_dir, n_buckets=8, stop_after=2, log=lambda *_: None)
    t = LakeTable(spark, table_dir)
    before = state_digest(table_state(spark, table_dir))
    snap = t.rebucket(32)
    assert snap.n_buckets == 32 and len(snap.buckets) <= 32
    assert state_digest(table_state(spark, table_dir)) == before
    # rebucket commits through the merge path: resolved entries with lsn
    # stats, so an lsn-bounded read prunes and still equals the filter
    entries = [f for fs in snap.buckets.values() for f in fs]
    assert all(f.get("resolved") and "lsn" in f.get("stats", {}) for f in entries)
    mins = sorted(f["stats"]["lsn"]["min"] for f in entries)
    bounds = {"lsn": (None, mins[len(mins) // 2])}
    _, dirty, pruned_files, _ = t._plan_pruned_scan(bounds, snap)
    assert pruned_files >= 1 and not dirty
    cols = ["repo", "path", "commit", "lang", "content_sha", "lsn"]
    want = sorted(t.read(snap).filter(F.col("lsn") <= bounds["lsn"][1]).select(*cols).collect())
    assert want and sorted(t.read_where(bounds, snap).select(*cols).collect()) == want
    # remaining epochs apply on the 32-bucket layout; final state must
    # still match the independent pandas replayer
    runner.replay(spark, wal, table_dir, n_buckets=8, log=lambda *_: None)
    got = table_state(spark, table_dir)
    want = pandas_oracle(wal, list(range(EPOCHS)))
    assert state_digest(got) == state_digest(want)
    assert LakeTable(spark, table_dir).current_snapshot().n_buckets == 32
    small = t.rebucket(4)
    assert small.n_buckets == 4 and set(small.buckets) <= {"0", "1", "2", "3"}
    assert state_digest(table_state(spark, table_dir)) == state_digest(got)


def test_time_travel_read_version(spark, wal, tmp_path):
    """Iceberg VERSION AS OF parity: after further commits, reading an
    older snapshot returns exactly the state as of that snapshot."""
    table_dir = str(tmp_path / "lake_tt")
    runner.replay(spark, wal, table_dir, n_buckets=8, stop_after=2, log=lambda *_: None)
    t = LakeTable(spark, table_dir)
    v2 = t.current_snapshot().version
    digest_v2 = state_digest(table_state(spark, table_dir))
    runner.replay(spark, wal, table_dir, n_buckets=8, log=lambda *_: None)
    assert t.current_snapshot().version > v2
    cols = ["repo", "path", "commit", "lang", "content_sha", "lsn"]
    old = t.read_version(v2).select(*cols).toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    assert state_digest(old) == digest_v2
    # and the current state moved on
    assert state_digest(table_state(spark, table_dir)) != digest_v2


def test_scheduled_vacuum_keeps_state(spark, wal, tmp_path):
    """--vacuum-every maintenance: superseded data dirs get reclaimed
    mid-replay and the final state still matches the pandas oracle."""
    import os

    table_dir = str(tmp_path / "lake_vac")
    runner.replay(spark, wal, table_dir, n_buckets=8, vacuum_every=2, log=lambda *_: None)
    got = table_state(spark, table_dir)
    want = pandas_oracle(wal, list(range(EPOCHS)))
    assert state_digest(got) == state_digest(want)
    snaps = [f for f in os.listdir(os.path.join(table_dir, "snapshots")) if f.endswith(".json")]
    assert len(snaps) == 1  # only the latest survives


def test_commit_conflict_on_racing_publish(spark, wal, tmp_path):
    """CAS publish: a writer that read snapshot N cannot clobber a
    v{N+1} another writer already published — it gets CommitConflict
    and the winner's snapshot stays intact."""
    from fec_cn_support_etl_spark.cdc.table import CommitConflict, Snapshot

    table_dir = str(tmp_path / "lake_cas")
    runner.replay(spark, wal, table_dir, n_buckets=8, stop_after=1, log=lambda *_: None)
    t = LakeTable(spark, table_dir)
    snap = t.current_snapshot()  # the already-published v1
    loser = Snapshot(
        version=snap.version,
        schema_json=snap.schema_json,
        current_schema_id=snap.current_schema_id,
        buckets={},  # would wipe the table if it won
        applied={},
        key_cols=snap.key_cols,
        n_buckets=snap.n_buckets,
    )
    with pytest.raises(CommitConflict):
        t._write_snapshot(loser)
    after = t.current_snapshot()
    assert after.buckets == snap.buckets and after.applied == snap.applied


def test_losing_writer_cannot_clobber_winner_data(spark, wal, tmp_path):
    """The r2-ADVICE race: two writers derive from the same base
    snapshot; the winner publishes v{N+1}, then the loser WRITES ITS
    DATA (commit_merge writes parquet before the snapshot CAS) and only
    then loses the CAS. With a shared data/v{N+1} directory the loser's
    mode('overwrite') would delete the winner's already-published files
    — unique per-attempt data dirs must keep the winner's state
    byte-identical through the loser's failed attempt."""
    from pyspark.sql import functions as F

    from fec_cn_support_etl_spark.cdc.table import BUCKET_COL, CommitConflict, bucket_expr

    table_dir = str(tmp_path / "lake_clobber")
    runner.replay(spark, wal, table_dir, n_buckets=8, stop_after=1, log=lambda *_: None)
    t = LakeTable(spark, table_dir)
    base = t.current_snapshot()

    full = t.read(base, include_deleted=True).withColumn(
        BUCKET_COL, bucket_expr(base.key_cols, base.n_buckets)
    )
    touched = sorted(r[0] for r in full.select(BUCKET_COL).distinct().collect())
    t.commit_merge(full, touched, epoch="writer-a", base_snap=base)
    digest_after_winner = state_digest(table_state(spark, table_dir))

    # loser: same base, same target version, recognizably different rows
    loser_data = full.withColumn("commit", F.lit("LOSER"))
    with pytest.raises(CommitConflict):
        t.commit_merge(loser_data, touched, epoch="writer-b", base_snap=base)

    # the winner's committed files survived the loser's data write
    assert state_digest(table_state(spark, table_dir)) == digest_after_winner
    assert not (table_state(spark, table_dir)["commit"] == "LOSER").any()
    # and vacuum reclaims the loser's orphan attempt dir
    t.vacuum(keep_last=1)
    assert state_digest(table_state(spark, table_dir)) == digest_after_winner


def test_commit_epoch_retries_on_conflict(spark, wal, tmp_path, monkeypatch):
    """Optimistic concurrency: commit_epoch re-derives the merge from a
    fresh snapshot when the publish loses the CAS race; the result
    equals the no-conflict replay."""
    from fec_cn_support_etl_spark.cdc.table import CommitConflict

    table_dir = str(tmp_path / "lake_occ")
    runner.replay(spark, wal, table_dir, n_buckets=8, stop_after=1, log=lambda *_: None)
    t = LakeTable(spark, table_dir)
    real = LakeTable.commit_merge
    fails = {"n": 0}

    def flaky(self, *a, **kw):
        if fails["n"] == 0:
            fails["n"] += 1
            raise CommitConflict("simulated racing writer")
        return real(self, *a, **kw)

    monkeypatch.setattr(LakeTable, "commit_merge", flaky)
    runner.replay(spark, wal, table_dir, n_buckets=8, stop_after=2, log=lambda *_: None)
    monkeypatch.setattr(LakeTable, "commit_merge", real)
    assert fails["n"] == 1  # the retry path actually ran
    runner.replay(spark, wal, table_dir, n_buckets=8, log=lambda *_: None)
    got = table_state(spark, table_dir)
    want = pandas_oracle(wal, list(range(EPOCHS)))
    assert state_digest(got) == state_digest(want)


def test_metrics_lineage(spark, wal, tmp_path):
    from fec_cn_support_etl_spark.cdc.metrics import read_metrics

    table_dir = str(tmp_path / "lake")
    mdir = str(tmp_path / "metrics")
    runner.replay(spark, wal, table_dir, n_buckets=16, metrics_dir=mdir)
    m = read_metrics(spark, mdir).toPandas()
    assert len(m) == EPOCHS
    assert (m["n_keys"] > 0).all()
    assert (m["apply_sec"] > 0).all()
    # lineage also lives in the snapshot manifest
    snap = LakeTable(spark, table_dir).current_snapshot()
    assert set(snap.applied.keys()) == {str(e) for e in range(EPOCHS)}
    assert all("max_lsn" in v for v in snap.applied.values())


def _assert_bucket_lineage(spark, wal, tmp_path, mode):
    """Per-bucket rows of every epoch: counts sum to the epoch row, LSN
    ranges lie inside it (and reach its ends), and the bucket ids are
    exactly the buckets the epoch's keys hash to."""
    from fec_cn_support_etl_spark.cdc.engine import KEYS
    from fec_cn_support_etl_spark.cdc.metrics import read_bucket_metrics, read_metrics
    from fec_cn_support_etl_spark.cdc.table import bucket_expr

    n_buckets = 16
    table_dir = str(tmp_path / "lake")
    mdir = str(tmp_path / "metrics")
    runner.replay(spark, wal, table_dir, n_buckets=n_buckets, metrics_dir=mdir, mode=mode, log=lambda *_: None)
    ep = read_metrics(spark, mdir).toPandas()
    assert len(ep) == EPOCHS  # _buckets subdir hidden from the root read
    bk = read_bucket_metrics(spark, mdir).toPandas()
    assert set(bk["epoch"]) == set(ep["epoch"])
    for _, row in ep.iterrows():
        b = bk[bk["epoch"] == row["epoch"]]
        assert b["n_keys"].sum() == row["n_keys"]
        assert b["n_deletes"].sum() == row["n_deletes"]
        assert (b["min_lsn"] >= row["min_lsn"]).all() and (b["max_lsn"] <= row["max_lsn"]).all()
        assert b["min_lsn"].min() == row["min_lsn"] and b["max_lsn"].max() == row["max_lsn"]
        batch = spark.read.parquet(os.path.join(wal, f"epoch={row['epoch']}"))
        touched = sorted(r[0] for r in batch.select(bucket_expr(KEYS, n_buckets)).distinct().collect())
        assert sorted(b["bucket"]) == touched
        assert row["touched_buckets"] == len(touched)


def test_bucket_level_lineage_metrics(spark, wal, tmp_path):
    """Per-partition lineage (north rule): one row per (epoch, bucket)
    with event LSN ranges + row counts, consistent with the epoch-level
    rollup, and invisible to reads of the epoch table. COW takes the
    rows from the prepare-side stats job."""
    _assert_bucket_lineage(spark, wal, tmp_path, "cow")


def test_bucket_level_lineage_metrics_mor(spark, wal, tmp_path):
    """The MOR twin: the per-bucket rows come from the footers of each
    ``__bucket=K`` delta dir, not from a stats job."""
    _assert_bucket_lineage(spark, wal, tmp_path, "mor")


def test_table_cli_metadata_and_maintenance(spark, wal, tmp_path, capsys):
    """The ops CLI: describe/history/files answer from snapshot JSON
    alone (no Spark), and compact/vacuum run maintenance end-to-end."""
    import json as _json

    from fec_cn_support_etl_spark.cdc import table_cli

    table_dir = str(tmp_path / "lake")
    runner.replay(spark, wal, table_dir, n_buckets=8, mode="mor", log=lambda *_: None)
    before = state_digest(table_state(spark, table_dir))

    table_cli.main(["describe", "--table", table_dir])
    desc = _json.loads(capsys.readouterr().out)
    assert desc["key_cols"] == ["repo", "path"] and desc["mor_dirty_buckets"] > 0
    assert desc["applied_epochs"] == EPOCHS

    table_cli.main(["history", "--table", table_dir])
    hist = _json.loads(capsys.readouterr().out)
    assert len(hist) == EPOCHS and all(r["mode"] == "mor" for r in hist)
    assert [r["snapshot"] for r in hist] == sorted(r["snapshot"] for r in hist)

    table_cli.main(["files", "--table", table_dir])
    files = _json.loads(capsys.readouterr().out)
    assert any(f["role"].startswith("delta") for f in files)
    assert all("lsn" in (f["stats"] or {}) for f in files)

    # maintenance via CLI entry points (reuse the session's local master)
    import fec_cn_support_etl_spark.session as sess

    orig = sess.get_spark
    try:
        sess.get_spark = lambda **kw: spark  # CLI runs inside the test session
        table_cli.main(["compact", "--table", table_dir])
        comp = _json.loads(capsys.readouterr().out)
        assert comp["compacted"] is True
        table_cli.main(["vacuum", "--table", table_dir])
        vac = _json.loads(capsys.readouterr().out)
        assert vac["removed_dirs"] > 0
    finally:
        sess.get_spark = orig
    assert state_digest(table_state(spark, table_dir)) == before


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_type_widening_mid_stream(spark, tmp_path, mode):
    """north rule: 'widened columns' — a batch arriving with size_bytes
    as LONG after the table recorded INT must widen the table schema
    and cast earlier files up on read, in both commit modes."""
    import pyspark.sql.types as T

    from fec_cn_support_etl_spark.cdc.engine import apply_epoch
    from fec_cn_support_etl_spark.cdc.schema_evolution import SchemaEvolutionError, reconcile

    narrow = T.StructType(
        [
            T.StructField("repo", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("commit", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("content", T.StringType()),
            T.StructField("content_sha", T.StringType()),
            T.StructField("lsn", T.LongType()),
            T.StructField("size_bytes", T.IntegerType()),
            T.StructField("_deleted", T.BooleanType()),
        ]
    )
    table_dir = str(tmp_path / f"lake-{mode}")
    t = LakeTable.create(
        spark, table_dir, narrow, key_cols=["repo", "path"], n_buckets=4, order_cols=["lsn", "commit"]
    )
    b1 = spark.createDataFrame(
        [("r1", "a.py", "c1", "py", "x", 10, 1, "I")],
        "repo string, path string, commit string, lang string, content string, lsn long, size_bytes int, op string",
    )
    apply_epoch(spark, t, b1, "e1", mode=mode)
    assert dict((f.name, f.dataType.simpleString()) for f in t.schema().fields)["size_bytes"] == "int"
    b2 = spark.createDataFrame(
        [("r1", "b.py", "c2", "py", "y", 20, 5_000_000_000, "I")],
        "repo string, path string, commit string, lang string, content string, lsn long, size_bytes long, op string",
    )
    apply_epoch(spark, t, b2, "e2", mode=mode)
    assert dict((f.name, f.dataType.simpleString()) for f in t.schema().fields)["size_bytes"] == "bigint"
    got = {r.path: r.size_bytes for r in t.read().collect()}
    assert got == {"a.py": 1, "b.py": 5_000_000_000}  # old int file cast up on read
    # incompatible change still refuses
    with pytest.raises(SchemaEvolutionError):
        reconcile(t.schema(), T.StructType([T.StructField("size_bytes", T.StringType())]))


def test_cow_rebucket_between_prepare_and_commit_rederives_touched(spark, wal, tmp_path):
    """COW twin of the MOR 'layout changed' guard: a foreign rebucket()
    between prepare_epoch and commit_epoch invalidates the prepared
    touched-bucket list (old hash). commit_epoch must re-derive it
    under the fresh layout — a stale list would read the wrong bucket
    subset and silently drop every row whose new bucket falls outside
    it."""
    from fec_cn_support_etl_spark.cdc import engine

    d = str(tmp_path / "lake")
    runner.replay(spark, wal, d, n_buckets=8, stop_after=1, log=lambda *_: None)
    t = LakeTable(spark, d)
    batch = spark.read.parquet(os.path.join(wal, "epoch=1"))
    prep = engine.prepare_epoch(spark, t, batch, "1")  # touched derived under 8 buckets
    assert prep is not None and prep.n_buckets == 8
    t.rebucket(16)  # the foreign structural change
    res = engine.commit_epoch(spark, t, prep, mode="cow")
    assert not res.skipped and res.n_keys > 0
    runner.replay(spark, wal, d, n_buckets=16, log=lambda *_: None)  # finish the feed
    clean = str(tmp_path / "clean")
    runner.replay(spark, wal, clean, n_buckets=8, log=lambda *_: None)
    assert state_digest(table_state(spark, d)) == state_digest(table_state(spark, clean))


def test_auto_mode_crossover_and_digest(spark, wal, tmp_path):
    """mode='auto' (VERDICT r4 next-round #1): COW while the touched
    state is under cow_state_budget_bytes, MOR above — final state
    digest identical to a pure-COW replay either way.

    A tiny budget forces the crossover inside the 6-epoch fixture: the
    first epoch lands on an empty table (0 bytes < budget -> cow, so the
    table bootstraps base files), later epochs see grown state -> mor
    (delta-suffix data dirs appear)."""
    auto_dir = str(tmp_path / "auto")
    cow_dir = str(tmp_path / "cow")
    runner.replay(spark, wal, cow_dir, n_buckets=16)
    runner.replay(
        spark, wal, auto_dir, n_buckets=16, mode="auto",
        table_props={"cow_state_budget_bytes": 1},  # everything-but-bootstrap -> mor
    )
    t = LakeTable(spark, auto_dir)
    applied = t.current_snapshot().applied
    modes = {e: v.get("mode", "cow") for e, v in applied.items()}
    assert modes[str(0)] == "cow", modes  # empty table bootstraps via cow
    assert any(m == "mor" for m in modes.values()), modes  # crossover hit
    assert state_digest(table_state(spark, auto_dir)) == state_digest(table_state(spark, cow_dir))
    # generous budget -> stays cow throughout
    big_dir = str(tmp_path / "big")
    runner.replay(
        spark, wal, big_dir, n_buckets=16, mode="auto",
        table_props={"cow_state_budget_bytes": 10 * 1024 * 1024 * 1024},
    )
    big_modes = {e: v.get("mode", "cow") for e, v in LakeTable(spark, big_dir).current_snapshot().applied.items()}
    assert all(m == "cow" for m in big_modes.values()), big_modes


def test_write_compression_prop_roundtrip(spark, wal, tmp_path):
    """props['write_compression'] must actually steer the parquet state
    file codec (checked via footer metadata) with a final-state digest
    independent of the codec. zstd is also the table DEFAULT (round-5
    A/B: better throughput AND scaling in both commit modes), so the
    explicit-prop table and the default table must both be ZSTD, and a
    snappy override must take effect."""
    import pyarrow.parquet as pq

    zstd_dir = str(tmp_path / "zstd")
    plain_dir = str(tmp_path / "plain")
    runner.replay(spark, wal, plain_dir, n_buckets=16, table_props={"write_compression": "snappy"})
    runner.replay(
        spark, wal, zstd_dir, n_buckets=16,
        table_props={"write_compression": "zstd"},
    )
    t = LakeTable(spark, zstd_dir)
    snap = t.current_snapshot()
    codecs = set()
    for files in snap.buckets.values():
        for entry in files:
            d = entry["path"]
            for name in os.listdir(d):
                if name.endswith(".parquet"):
                    md = pq.ParquetFile(os.path.join(d, name)).metadata
                    codecs.add(md.row_group(0).column(0).compression)
    assert codecs == {"ZSTD"}, codecs
    assert state_digest(table_state(spark, zstd_dir)) == state_digest(table_state(spark, plain_dir))
    assert t.state_size_bytes(snap) > 0


def test_read_keys_bucket_pruned_lookup(spark, wal, tmp_path):
    """Point/key-set lookup must (a) return exactly the requested live
    keys with MOR deltas resolved, (b) plan a scan over ONLY the bucket
    directories the keys hash into (hash-bucket pruning — at 4096
    buckets a 10-key probe must not list the table), and (c) hide
    tombstoned keys unless include_deleted."""
    import re

    import pyspark.sql.functions as F

    from fec_cn_support_etl_spark.cdc.table import bucket_expr

    table_dir = str(tmp_path / "lake")
    runner.replay(spark, wal, table_dir, n_buckets=16, mode="mor")
    t = LakeTable(spark, table_dir)
    full = t.read().select("repo", "path", "lsn", "commit").toPandas()

    live = full.sort_values(["repo", "path"]).head(3)
    live_keys = [tuple(r) for r in live[["repo", "path"]].itertuples(index=False)]
    keys = live_keys + [("no-such-repo", "nope.py")]

    got = t.read_keys(keys).select("repo", "path", "lsn", "commit")
    kdf = spark.createDataFrame(keys, "repo string, path string")
    wanted = {
        r["b"] for r in kdf.select(bucket_expr(["repo", "path"], 16).alias("b")).distinct().collect()
    }
    touched = {
        int(m.group(1))
        for f in got.inputFiles()
        for m in [re.search(r"__bucket=(\d+)", f)]
        if m
    }
    assert touched, "lookup plan lists no files"
    assert touched <= wanted, f"scan listed buckets outside the key set: {touched - wanted}"
    assert len(touched) < 16, "no pruning happened"

    gp = got.toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    want = (
        full[full.apply(lambda r: (r["repo"], r["path"]) in set(live_keys), axis=1)]
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(gp, want, check_dtype=False)

    # a key whose LAST image is a delete: visible only with include_deleted
    raw = pd.concat(
        [pd.read_parquet(os.path.join(wal, f"epoch={e}")) for e in range(EPOCHS)],
        ignore_index=True,
    )
    last = raw.sort_values("lsn").groupby(["repo", "path"], as_index=False).last()
    dead = last[last["op"] == "D"][["repo", "path"]]
    assert len(dead) > 0, "fixture has no net-deleted key"
    dead_key = [tuple(dead.iloc[0])]
    assert t.read_keys(dead_key).count() == 0
    tomb = t.read_keys(dead_key, include_deleted=True)
    assert tomb.filter(F.col("_deleted")).count() == 1


def test_read_columns_do_not_depend_on_scanned_files(spark, tmp_path):
    """read(), read_keys() and read_where() return the same columns
    whether or not a file is scanned: on a fresh table, over empty
    buckets, for keys that hash only to empty buckets, and with data.
    ``_deleted`` is hidden unless include_deleted=True."""
    from fec_cn_support_etl_spark.cdc.table import BUCKET_COL, bucket_expr

    t = runner.open_or_create(spark, str(tmp_path / "lake"), n_buckets=16)
    every = runner.TABLE_SCHEMA.fieldNames()
    live = [c for c in every if c != "_deleted"]

    def check(read):
        assert read(False).columns == live
        assert read(True).columns == every

    check(lambda d: t.read(include_deleted=d))
    check(lambda d: t.read_keys([("r", "p")], include_deleted=d))
    check(lambda d: t.read_where({"lsn": (0, None)}, include_deleted=d))

    row = spark.createDataFrame(
        [("r", "p", "c1", "python", "x", "h", 1, False)], runner.TABLE_SCHEMA
    ).withColumn(BUCKET_COL, bucket_expr(["repo", "path"], 16))
    b = row.first()[BUCKET_COL]
    t.commit_merge(row, [b], epoch="0")
    check(lambda d: t.read(buckets=[x for x in range(16) if x != b], include_deleted=d))
    cands = spark.createDataFrame([(f"r{i}", "p") for i in range(64)], "repo string, path string")
    keys = [tuple(r) for r in cands.filter(bucket_expr(["repo", "path"], 16) != b).collect()]
    assert keys
    check(lambda d: t.read_keys(keys, include_deleted=d))
    assert t.read_keys(keys).count() == 0
    check(lambda d: t.read(include_deleted=d))
    check(lambda d: t.read_keys([("r", "p")], include_deleted=d))
    assert t.read().count() == 1


def test_lang_normalize_udf_on_spark(spark):
    """The lang UDF inside Spark on what the replay oracle never feeds:
    None, padding, case, an alias and an unknown label."""
    from fec_cn_support_etl_spark.functions.udfs import lang_normalize_udf

    raw = [" Py", "RS", None, "Rust", "c++ ", "x"]
    df = spark.createDataFrame(list(enumerate(raw)), "i INT, lang STRING")
    got = [r["lang"] for r in df.select("i", lang_normalize_udf("lang").alias("lang")).orderBy("i").collect()]
    assert got == ["python", "rust", None, "rust", "cpp", "x"]
