"""Incremental materialized-view maintenance (cdc/view.py): the view
advanced by change-feed deltas must EXACTLY equal a from-scratch
groupBy of the table's live state at every sync point — through
inserts, updates, deletes, MOR + COW commits, compaction, and
maintenance-only ranges.  SUM/COUNT retraction algebra over lsn (a
long) keeps the equality integer-exact.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from fec_cn_support_etl_spark.cdc import events as ev
from fec_cn_support_etl_spark.cdc import runner
from fec_cn_support_etl_spark.cdc.table import LakeTable
from fec_cn_support_etl_spark.cdc.view import IncrementalAggView, ViewStale

EPOCHS = 6


@pytest.fixture(scope="module")
def wal(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("view-wal"))
    df = ev.gen_change_events(
        spark, 6000, n_repos=15, n_paths=50, epochs=EPOCHS, hot_fraction=0.3,
        delete_ratio=0.1, seed=21, partitions=4,
    )
    ev.write_wal(df, d)
    return d


def _recompute(t: LakeTable) -> pd.DataFrame:
    return (
        t.read()
        .groupBy("lang")
        .agg({"*": "count", "lsn": "sum"})
        .toPandas()
        .rename(columns={"count(1)": "n_rows", "sum(lsn)": "sum_lsn"})
        .sort_values("lang")
        .reset_index(drop=True)[["lang", "n_rows", "sum_lsn"]]
    )


def _view_pd(v: IncrementalAggView) -> pd.DataFrame:
    return (
        v.read().toPandas().sort_values("lang").reset_index(drop=True)[["lang", "n_rows", "sum_lsn"]]
    )


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_view_tracks_table_through_incremental_epochs(spark, wal, tmp_path, mode):
    table_dir = str(tmp_path / f"lake-{mode}")
    # epochs 0-1, build the view
    runner.replay(spark, wal, table_dir, n_buckets=16, mode=mode, stop_after=2, log=lambda *_: None)
    t = LakeTable(spark, table_dir)
    v = IncrementalAggView(spark, t, str(tmp_path / f"view-{mode}"), ["lang"], ["lsn"])
    v.create()
    pd.testing.assert_frame_equal(_view_pd(v), _recompute(t), check_dtype=False)

    # epochs 2-3 -> delta refresh
    runner.replay(spark, wal, table_dir, n_buckets=16, mode=mode, stop_after=2, log=lambda *_: None)
    r = v.refresh()
    assert not r["noop"] and r["changed_groups"] > 0
    pd.testing.assert_frame_equal(_view_pd(v), _recompute(t), check_dtype=False)

    # epochs 4-5 (delete-heavy tail) -> second delta refresh
    runner.replay(spark, wal, table_dir, n_buckets=16, mode=mode, stop_after=2, log=lambda *_: None)
    v.refresh()
    pd.testing.assert_frame_equal(_view_pd(v), _recompute(t), check_dtype=False)

    # refresh at head is a pure no-op
    assert v.refresh()["noop"] is True


def test_view_survives_compaction_only_range(spark, wal, tmp_path):
    table_dir = str(tmp_path / "lake-c")
    runner.replay(spark, wal, table_dir, n_buckets=16, mode="mor", log=lambda *_: None)
    t = LakeTable(spark, table_dir)
    v = IncrementalAggView(spark, t, str(tmp_path / "view-c"), ["lang"], ["lsn"])
    v.create()
    before = v.synced_version()
    snap = t.compact(max_files=1)
    assert snap is not None and snap.version > before
    r = v.refresh()  # range holds only the compaction commit
    assert r["changed_groups"] == 0
    assert v.synced_version() == snap.version
    pd.testing.assert_frame_equal(_view_pd(v), _recompute(t), check_dtype=False)


def test_view_stale_after_vacuum_raises(spark, wal, tmp_path):
    table_dir = str(tmp_path / "lake-v")
    runner.replay(spark, wal, table_dir, n_buckets=16, stop_after=3, log=lambda *_: None)
    t = LakeTable(spark, table_dir)
    v = IncrementalAggView(spark, t, str(tmp_path / "view-v"), ["lang"], ["lsn"])
    v.create()
    runner.replay(spark, wal, table_dir, n_buckets=16, stop_after=3, log=lambda *_: None)
    t.vacuum(keep_last=1)  # trims the synced snapshot out of history
    with pytest.raises(ViewStale):
        v.refresh()
    v.create()  # documented recovery: one full rebuild
    pd.testing.assert_frame_equal(_view_pd(v), _recompute(t), check_dtype=False)


def test_view_artifact_dirs_bounded(spark, wal, tmp_path):
    table_dir = str(tmp_path / "lake-b")
    runner.replay(spark, wal, table_dir, n_buckets=16, stop_after=2, log=lambda *_: None)
    t = LakeTable(spark, table_dir)
    root = str(tmp_path / "view-b")
    v = IncrementalAggView(spark, t, root, ["lang"], ["lsn"])
    v.create()
    for _ in range(2):
        runner.replay(spark, wal, table_dir, n_buckets=16, stop_after=2, log=lambda *_: None)
        v.refresh()
    vdirs = [d for d in os.listdir(root) if d.startswith("v")]
    assert len(vdirs) <= 2


def test_view_exact_under_out_of_order_delivery(spark, tmp_path):
    """Regression (caught by the streaming verify drive): a MOR
    micro-batch carrying LOWER lsns than an already-applied one appends
    delta images that lose read-time LWW against the base — a view
    trusting the change feed's images double-counts.  The view must
    stay exact because it re-reads post-images from the table."""
    import pyspark.sql.types as T

    from fec_cn_support_etl_spark.cdc.engine import apply_epoch

    t = LakeTable.create(
        spark, str(tmp_path / "lake"), runner.TABLE_SCHEMA, key_cols=["repo", "path"],
        n_buckets=4, order_cols=["lsn"],
    )
    v = IncrementalAggView(spark, t, str(tmp_path / "view"), ["lang"], ["lsn"])

    ev_schema = T.StructType(
        [
            T.StructField("lsn", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("repo", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("commit", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("content", T.StringType()),
        ]
    )

    def batch(rows):
        return spark.createDataFrame(
            [(r[3], "U", r[0], r[1], "c", r[2], "x") for r in rows], ev_schema
        )

    # high-lsn images land first
    apply_epoch(spark, t, batch([("r", "a.py", "python", 100), ("r", "b.py", "go", 90)]),
                epoch="e1", mode="mor")
    v.create()
    # stale batch: lower lsns for the same keys + one genuinely new key.
    # a.py/b.py images LOSE LWW; only c.py changes live state.
    apply_epoch(spark, t, batch([("r", "a.py", "rust", 10), ("r", "b.py", "rust", 9),
                                 ("r", "c.py", "rust", 8)]),
                epoch="e0-late", mode="mor")
    v.refresh()
    got = sorted(tuple(r) for r in v.read().collect())
    want = sorted(
        tuple(r)
        for r in t.read().groupBy("lang").agg({"*": "count", "lsn": "sum"})
        .selectExpr("lang", "`count(1)` as n_rows", "`sum(lsn)` as sum_lsn").collect()
    )
    assert got == want == [("go", 1, 90), ("python", 1, 100), ("rust", 1, 8)]


def test_view_rejects_float_sum_cols(spark, tmp_path):
    """SUM retraction is only exact under exact arithmetic: a double
    sum_col must be rejected at construction, not silently drift."""
    import pytest
    from pyspark.sql import types as T

    from fec_cn_support_etl_spark.cdc.table import LakeTable

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("lsn", T.LongType()),
        ]
    )
    t = LakeTable.create(
        spark, str(tmp_path / "lake"), schema,
        key_cols=["id"], n_buckets=2, order_cols=["lsn"],
    )
    with pytest.raises(TypeError, match="non-exact type"):
        IncrementalAggView(spark, t, str(tmp_path / "view"), ["id"], ["score"])
    # integral/decimal columns stay accepted
    IncrementalAggView(spark, t, str(tmp_path / "view2"), ["id"], ["lsn"])
