"""Incremental sketch view (cdc/sketch_view.py): per-group HLL +
quantile sketch state advanced by the change feed must track the
append-only IMAGE STREAM (live rows at create + every upsert image
after) within the sketches' documented error bounds — the
membership-with-proven-gap discipline, since sketch BYTES are
merge-order-sensitive while estimates are not (beyond the bound).
"""

from __future__ import annotations

import pandas as pd
import pytest

from fec_cn_support_etl_spark.cdc import events as ev
from fec_cn_support_etl_spark.cdc import runner
from fec_cn_support_etl_spark.cdc.sketch_view import SketchView
from fec_cn_support_etl_spark.cdc.table import LakeTable
from fec_cn_support_etl_spark.operators.qsketch import QuantileSketch, build_day_sketches

EPOCHS = 6


@pytest.fixture(scope="module")
def wal(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sketch-view-wal"))
    df = ev.gen_change_events(
        spark, 6000, n_repos=15, n_paths=50, epochs=EPOCHS, hot_fraction=0.3,
        delete_ratio=0.1, seed=23, partitions=4,
    )
    ev.write_wal(df, d)
    return d


def _image_stream(t: LakeTable, v0: int) -> pd.DataFrame:
    """Ground truth the view is defined over: live rows at the create
    version + every upsert image committed after it."""
    from pyspark.sql import functions as F

    live0 = t.read(t.snapshot_at(v0)).select("lang", "path", "lsn").toPandas()
    ch = (
        t.read_changes(v0)
        .filter(F.col("_change_type") == "upsert")
        .select("lang", "path", "lsn")
        .toPandas()
    )
    return pd.concat([live0, ch], ignore_index=True)


def test_sketch_view_tracks_image_stream(spark, wal, tmp_path):
    table_dir = str(tmp_path / "lake")
    runner.replay(spark, wal, table_dir, n_buckets=16, mode="mor", stop_after=2, log=lambda *_: None)
    t = LakeTable(spark, table_dir)
    v = SketchView(
        spark, t, str(tmp_path / "view"), ["lang"], distinct_col="path", quantile_col="lsn"
    )
    v.create()
    v0 = v.synced_version()

    runner.replay(spark, wal, table_dir, n_buckets=16, mode="mor", stop_after=2, log=lambda *_: None)
    r1 = v.refresh()
    assert not r1["noop"]
    runner.replay(spark, wal, table_dir, n_buckets=16, mode="mor", stop_after=2, log=lambda *_: None)
    r2 = v.refresh()
    assert not r2["noop"] and v.synced_version() == t.current_snapshot().version

    truth = _image_stream(t, v0)
    est = v.estimates([0.5]).toPandas().set_index("lang")
    assert set(est.index) == set(truth["lang"].unique())
    for lang, grp in truth.groupby("lang"):
        row = est.loc[lang]
        # n_rows is EXACT (a count, not a sketch)
        assert int(row["n_rows"]) == len(grp), lang
        # HLL estimate within the lgConfigK=14 envelope (rel err ~0.8%;
        # allow 5% — same membership bound as the catalog HLL query)
        exact_d = grp["path"].nunique()
        assert abs(row["approx_distinct"] - exact_d) <= max(1, 0.05 * exact_d), lang
        # quantile estimate: TRUE rank of the returned value must sit
        # within eps*n of the q*n target (tie-proof rank interval)
        vals = grp["lsn"].to_numpy()
        n = len(vals)
        lo = (vals < row["q50"]).sum()
        hi = (vals <= row["q50"]).sum()
        eps = 0.02
        assert lo <= 0.5 * n + eps * n and hi >= 0.5 * n - eps * n, (lang, lo, hi, n)


def test_refresh_is_idempotent_and_noop_without_changes(spark, wal, tmp_path):
    table_dir = str(tmp_path / "lake2")
    runner.replay(spark, wal, table_dir, n_buckets=16, mode="mor", stop_after=3, log=lambda *_: None)
    t = LakeTable(spark, table_dir)
    v = SketchView(spark, t, str(tmp_path / "view2"), ["lang"], distinct_col="path")
    v.create()
    before = v.read().toPandas().sort_values("lang").reset_index(drop=True)
    r = v.refresh()
    assert r["noop"] and v.synced_version() == t.current_snapshot().version
    after = v.read().toPandas().sort_values("lang").reset_index(drop=True)
    pd.testing.assert_frame_equal(before, after)


def test_quantile_only_and_distinct_only_configs(spark, wal, tmp_path):
    table_dir = str(tmp_path / "lake3")
    runner.replay(spark, wal, table_dir, n_buckets=16, mode="mor", stop_after=2, log=lambda *_: None)
    t = LakeTable(spark, table_dir)
    q_only = SketchView(spark, t, str(tmp_path / "vq"), ["lang"], quantile_col="lsn")
    q_only.create()
    out = q_only.estimates([0.25, 0.75]).toPandas()
    assert {"lang", "n_rows", "q25", "q75"} <= set(out.columns)
    d_only = SketchView(spark, t, str(tmp_path / "vd"), ["lang"], distinct_col="path")
    d_only.create()
    out2 = d_only.estimates().toPandas()
    assert {"lang", "n_rows", "approx_distinct"} <= set(out2.columns)
    with pytest.raises(ValueError):
        SketchView(spark, t, str(tmp_path / "vx"), ["lang"])


def test_null_group_key_stays_one_complete_row(spark, tmp_path):
    """A NULL group key must produce ONE state row carrying n_rows, hll
    AND qsk (null-unsafe joins would split it into two mutually-
    incomplete rows and break the exact n_rows contract)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from fec_cn_support_etl_spark.cdc.table import BUCKET_COL, LakeTable, bucket_expr

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("grp", T.StringType()),
            T.StructField("val", T.LongType()),
            T.StructField("lsn", T.LongType()),
            T.StructField("_deleted", T.BooleanType()),
        ]
    )
    t = LakeTable.create(
        spark, str(tmp_path / "lake-null"), schema, key_cols=["id"], n_buckets=2, order_cols=["lsn"]
    )
    df = (
        spark.range(40)
        .select(
            F.col("id"),
            F.when(F.col("id") % 4 == 0, F.lit(None).cast("string")).otherwise(F.lit("a")).alias("grp"),
            (F.col("id") * 3).alias("val"),
            F.col("id").alias("lsn"),
            F.lit(False).alias("_deleted"),
        )
        .withColumn(BUCKET_COL, bucket_expr(["id"], 2))
    )
    t.commit_merge(df, [0, 1], epoch="0")
    v = SketchView(
        spark, t, str(tmp_path / "view-null"), ["grp"], distinct_col="val", quantile_col="val"
    )
    v.create()
    # one build path: the stored quantile sketch per group is the
    # batch rollup's day sketch over the same live rows (constant day)
    live = t.read().select("grp", F.lit(0).alias("d"), "val")
    built = {r["grp"]: r["sketch"] for r in build_day_sketches(live, ["grp"], "d", "val").collect()}
    stored = {r["grp"]: r["qsk"] for r in v.read().collect()}
    assert stored == built and len(stored) == 2
    # one more epoch touching both groups, then refresh through _fold
    upd = (
        spark.range(40, 60)
        .select(
            F.col("id"),
            F.when(F.col("id") % 4 == 0, F.lit(None).cast("string")).otherwise(F.lit("a")).alias("grp"),
            (F.col("id") * 3).alias("val"),
            F.col("id").alias("lsn"),
            F.lit(False).alias("_deleted"),
        )
        .withColumn(BUCKET_COL, bucket_expr(["id"], 2))
    )
    t.commit_append_delta(upd, None, epoch="1")
    v.refresh()
    rows = v.estimates([0.5]).collect()
    by_grp = {r["grp"]: r for r in rows}
    assert len(rows) == 2 and None in by_grp  # exactly one row per group
    assert by_grp[None]["n_rows"] == 15 and by_grp["a"]["n_rows"] == 45
    assert by_grp[None]["q50"] is not None and by_grp[None]["approx_distinct"] > 0
    # estimates decode the stored blob: one value per requested quantile
    stored = {r["grp"]: QuantileSketch.from_bytes(r["qsk"]) for r in v.read().collect()}
    for r in v.estimates([0.25, 0.5]).collect():
        assert (r["q25"], r["q50"]) == (stored[r["grp"]].quantile(0.25), stored[r["grp"]].quantile(0.5))


def test_heavy_hitters_view_tracks_image_stream(spark, tmp_path):
    """HeavyHittersView: the maintained bounded summary must decode a
    SUPERSET of the true image-stream heavy hitters above the derived
    guarantee threshold, with sound two-sided bounds — the batch
    catalog query's contract, now rolling with SpaceSaving
    re-truncation keeping state O(n_shards*keep) forever."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from fec_cn_support_etl_spark.cdc.sketch_view import HeavyHittersView
    from fec_cn_support_etl_spark.cdc.table import BUCKET_COL, LakeTable, bucket_expr

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("grp", T.StringType()),
            T.StructField("item", T.StringType()),
            T.StructField("lsn", T.LongType()),
            T.StructField("_deleted", T.BooleanType()),
        ]
    )
    t = LakeTable.create(
        spark, str(tmp_path / "lake-hh"), schema, key_cols=["id"], n_buckets=4, order_cols=["lsn"]
    )

    def batch(lo, hi):
        # one HOT item per group (1/3 of rows) over a 97-item cold tail
        return (
            spark.range(lo, hi)
            .select(
                F.col("id"),
                (F.col("id") % 2).cast("string").alias("grp"),
                F.when(F.col("id") % 3 == 0, F.lit("hot"))
                .otherwise(F.concat(F.lit("i"), (F.col("id") % 97).cast("string")))
                .alias("item"),
                F.col("id").alias("lsn"),
                F.lit(False).alias("_deleted"),
            )
            .withColumn(BUCKET_COL, bucket_expr(["id"], 4))
        )

    t.commit_merge(batch(0, 4000), [0, 1, 2, 3], epoch="0")
    v = HeavyHittersView(spark, t, str(tmp_path / "vhh"), ["grp"], "item", n_shards=4, keep=8)
    v.create()
    t.commit_append_delta(batch(4000, 8000), None, epoch="1")
    assert not v.refresh()["noop"]
    t.commit_append_delta(batch(8000, 12000), None, epoch="2")
    assert not v.refresh()["noop"]
    assert v.synced_version() == t.current_snapshot().version

    # state is bounded FOREVER: <= keep kept rows per (group, shard)
    state = v.read().toPandas()
    per = state[state["kind"] == "kept"].groupby(["grp", "shard"]).size()
    assert per.max() <= 8

    # unique keys -> image stream == live rows; exact counts
    truth = t.read().select("grp", "item").toPandas()
    true_counts = truth.groupby(["grp", "item"]).size()

    tail = state[state["kind"] == "tail"]
    thr = int(tail.groupby(["grp", "shard"])["tail_max"].max().max()) + 1
    got = v.heavy_hitters(thr).toPandas()
    decoded = {(r["grp"], r["item"]): (r["cnt_lb"], r["err_ub"]) for _, r in got.iterrows()}
    want = {k for k, c in true_counts.items() if c >= thr}
    assert {k[1] for k in want} == {"hot"}, (thr, sorted(want))
    missed = want - set(decoded)
    assert not missed, f"missed guaranteed heavy hitters: {sorted(missed)[:5]}"
    for k, (lb, err) in decoded.items():
        if k in true_counts.index:
            assert lb <= true_counts[k] <= lb + err, k
