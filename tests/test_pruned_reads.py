"""Zone-map pruned reads: clustered compaction writes range-sliced
files with per-file manifest stats; ``read_where`` must equal a full
``read().filter(...)`` EXACTLY while provably skipping disjoint
files/buckets driver-side, and must never prune at file granularity in
a mixed base+delta bucket (the stale-image trap)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from fec_cn_support_etl_spark.cdc.table import BUCKET_COL, LakeTable, bucket_expr

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("lsn", T.LongType()),
    ]
)


def _mk_clustered(spark, root, n=400, n_buckets=4, props=None):
    t = LakeTable.create(
        spark,
        root,
        SCHEMA,
        key_cols=["id"],
        n_buckets=n_buckets,
        order_cols=["lsn"],
        props={"stat_cols": "ts", **(props or {})},
    )
    df = (
        spark.range(n)
        .select(
            F.col("id"),
            ((F.col("id") * 37) % 4000).alias("ts"),
            F.concat(F.lit("v"), F.col("id")).alias("v"),
            F.col("id").alias("lsn"),
        )
        .withColumn(BUCKET_COL, bucket_expr(["id"], n_buckets))
    )
    t.commit_merge(df, list(range(n_buckets)), epoch="0")
    snap = t.compact(max_files=0, cluster_by="ts", slices=4)
    assert snap is not None
    return t, snap


def _rows(df):
    return sorted(tuple(r) for r in df.select("id", "ts", "v", "lsn").collect())


def test_clustered_compact_records_sliced_fstats(spark, tmp_path):
    t, snap = _mk_clustered(spark, str(tmp_path / "lake"))
    entries = [f for files in snap.buckets.values() for f in files]
    assert entries and all(f.get("resolved") for f in entries)
    # range slicing really produced multiple per-file stat entries with
    # DISJOINT ts ranges inside at least one bucket
    sliced = [f for f in entries if len(f.get("fstats") or {}) > 1]
    assert sliced, "expected >1 range-sliced file in some bucket"
    fst = sliced[0]["fstats"]
    spans = sorted((s["ts"]["min"], s["ts"]["max"]) for s in fst.values() if "ts" in s)
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi < lo, f"slices overlap: {spans}"
    # stats survived the snapshot JSON round trip (manifest on disk)
    on_disk = json.load(open(os.path.join(t._snap_dir, f"v{snap.version}.json")))
    assert on_disk["buckets"]


def test_read_where_prunes_files_and_matches_full_filter(spark, tmp_path):
    t, snap = _mk_clustered(spark, str(tmp_path / "lake"))
    bounds = {"ts": (1000, 1999)}
    clean, dirty, pruned_files, pruned_buckets = t._plan_pruned_scan(bounds, snap)
    assert not dirty and pruned_files > 0
    want = _rows(t.read(snap).filter(F.col("ts").between(1000, 1999)))
    got = _rows(t.read_where(bounds, snap))
    assert got == want and len(got) > 0
    # bounds beyond all data: every bucket pruned driver-side, zero rows,
    # and the SCHEMA still matches the non-empty branch (the internal
    # _deleted column must be dropped on the all-pruned early return too)
    clean2, dirty2, _, pb = t._plan_pruned_scan({"ts": (10_000, None)}, snap)
    assert not clean2 and not dirty2 and pb == len(snap.buckets)
    empty = t.read_where({"ts": (10_000, None)}, snap)
    assert empty.count() == 0
    assert empty.columns == t.read_where(bounds, snap).columns
    assert empty.columns == t.read(snap).columns
    # include_deleted=True agrees between the paths too (this fixture
    # never wrote tombstones, so neither path carries _deleted)
    empty_d = t.read_where({"ts": (10_000, None)}, snap, include_deleted=True)
    full_d = t.read_where(bounds, snap, include_deleted=True)
    assert empty_d.columns == full_d.columns


def test_mixed_bucket_never_file_pruned_stale_image_trap(spark, tmp_path):
    """After a delta append the bucket is mixed; read_where must read it
    whole.  The trap: key 0's WINNING image (high lsn) moved ts out of
    the queried range, while a LATE low-lsn image sits in the delta with
    an in-range ts — file-pruning the base would let the stale image
    surface.  Key 1 checks the symmetric case (winner in delta)."""
    t, snap = _mk_clustered(spark, str(tmp_path / "lake"))
    n_buckets = snap.n_buckets
    delta = (
        spark.createDataFrame(
            [
                # key 0: base winner will be REPLACED by this higher-lsn
                # image whose ts leaves the [0, 500] query range
                (0, 9_999, "new0", 10_000),
                # key 1: late LOW-lsn duplicate with in-range ts — must
                # LOSE to the base image regardless of pruning
                (1, 5, "stale1", -1),
            ],
            SCHEMA,
        )
        .withColumn(BUCKET_COL, bucket_expr(["id"], n_buckets))
    )
    touched = sorted({r[0] for r in delta.select(BUCKET_COL).distinct().collect()})
    snap2 = t.commit_append_delta(delta, touched, epoch="1")
    clean, dirty, _, _ = t._plan_pruned_scan({"ts": (0, 500)}, snap2)
    assert set(dirty) == set(touched)  # mixed buckets read whole
    want = _rows(t.read(snap2).filter(F.col("ts").between(0, 500)))
    got = _rows(t.read_where({"ts": (0, 500)}, snap2))
    assert got == want
    ids = {r[0] for r in got}
    assert 0 not in ids, "stale base image of key 0 surfaced"
    by_id = {r[0]: r for r in got}
    assert by_id[1][2] == "v1", "late low-lsn delta image beat the base winner"


def test_read_images_where_prunes_epoch_local_deltas(spark, tmp_path):
    """Raw-image reads prune per ENTRY: MOR delta dirs are lsn-local, so
    an lsn lower bound skips old delta dirs driver-side and returns
    exactly the images at or above it."""
    t, snap = _mk_clustered(spark, str(tmp_path / "lake"))
    for e in (1, 2, 3):
        lo = 10_000 * e
        delta = (
            spark.range(lo, lo + 50)
            .select(
                (F.col("id") % 400).alias("id"),
                ((F.col("id") * 37) % 4000).alias("ts"),
                F.concat(F.lit("e"), F.lit(e), F.lit("-"), F.col("id")).alias("v"),
                F.col("id").alias("lsn"),
            )
            .withColumn(BUCKET_COL, bucket_expr(["id"], snap.n_buckets))
        )
        touched = sorted({r[0] for r in delta.select(BUCKET_COL).distinct().collect()})
        t.commit_append_delta(delta, touched, epoch=str(e))
    snap = t.current_snapshot()
    min_lsn = 30_000
    got = t.read_images_where({"lsn": (min_lsn, None)})
    # epoch 3's 50 delta images are the only ones at or above the bound
    want = sorted((i % 400, (i * 37) % 4000, f"e3-{i}", i) for i in range(30_000, 30_050))
    assert _rows(got) == want
    # epoch-1/2 delta entries (and the clustered base slices) are all
    # lsn-disjoint from the bound: raw planning keeps only epoch 3's
    n_entries = sum(len(fs) for fs in snap.buckets.values())
    kept = 0
    for files in snap.buckets.values():
        for f in files:
            st = (f.get("stats") or {}).get("lsn") or {}
            if st.get("max") is None or st["max"] >= min_lsn:
                kept += 1
    assert kept < n_entries


def test_auto_compact_preserves_clustering_from_props(spark, tmp_path):
    """A table declaring props['cluster_col'] stays clustered through
    scheduled/auto compaction: plain compact() re-slices and re-records
    fstats instead of collapsing the layout."""
    root = str(tmp_path / "lake")
    t, _ = _mk_clustered(spark, root, props={"cluster_col": "ts"})
    snap = t.current_snapshot()
    delta = (
        spark.createDataFrame([(7, 1234, "upd7", 99_999)], SCHEMA)
        .withColumn(BUCKET_COL, bucket_expr(["id"], snap.n_buckets))
    )
    touched = sorted({r[0] for r in delta.select(BUCKET_COL).distinct().collect()})
    t.commit_append_delta(delta, touched, epoch="u1")
    before = _rows(t.read())
    snap2 = t.compact(max_files=1)  # cluster_by comes from props['cluster_col']
    assert snap2 is not None
    assert _rows(t.read(snap2)) == before
    for b in map(str, touched):
        entry = snap2.buckets[b][0]
        assert entry.get("resolved") and entry.get("fstats")


def test_decimal_stat_col_prunes_by_value_not_lexicographically(spark, tmp_path):
    """The review trap: str()-serialized decimal stats would compare
    lexicographically ("9.10" > "10.50"), wrongly pruning files that
    hold in-bounds rows.  Decimal stats must be stored as order-safe
    widened floats: a [9.10, 9.99] file queried with price <= 10.50 is
    KEPT, and read_where stays exactly read().filter()."""
    import decimal as dec

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("price", T.DecimalType(10, 2)),
            T.StructField("lsn", T.LongType()),
        ]
    )
    t = LakeTable.create(
        spark,
        str(tmp_path / "lake"),
        schema,
        key_cols=["id"],
        n_buckets=2,
        order_cols=["lsn"],
        props={"stat_cols": "price"},
    )
    df = (
        spark.range(100)
        .select(
            F.col("id"),
            (F.lit(9.10) + (F.col("id") % 90) / F.lit(100.0)).cast("decimal(10,2)").alias("price"),
            F.col("id").alias("lsn"),
        )
        .withColumn(BUCKET_COL, bucket_expr(["id"], 2))
    )
    t.commit_merge(df, [0, 1], epoch="0")
    snap = t.current_snapshot()
    # decimal stats are either ABSENT (this pyarrow can't extract them —
    # conservative: the column never prunes) or order-safe floats; they
    # must NEVER be lexicographic strings
    sts = [f["stats"].get("price") for fs in snap.buckets.values() for f in fs]
    have_stats = [s for s in sts if s is not None]
    for s in have_stats:
        assert isinstance(s["min"], float) and isinstance(s["max"], float)
    bounds = {"price": (None, dec.Decimal("10.50"))}
    clean, dirty, pf, pb = t._plan_pruned_scan(bounds, snap)
    assert pb == 0, "every file holds in-bounds rows; lexicographic compare would prune"
    want = sorted(tuple(r) for r in t.read(snap).filter(F.col("price") <= 10.50).collect())
    got = sorted(tuple(r) for r in t.read_where(bounds, snap).collect())
    assert got == want and len(got) == 100
    if have_stats:
        # and a genuinely disjoint bound still prunes numerically
        _, _, _, pb2 = t._plan_pruned_scan({"price": (dec.Decimal("50.00"), None)}, snap)
        assert pb2 == 2
    # the order-safety contract itself, independent of pyarrow support:
    from fec_cn_support_etl_spark.cdc.table import _json_safe, _overlaps

    st = {"price": {"min": _json_safe(dec.Decimal("9.10"), widen="down"),
                    "max": _json_safe(dec.Decimal("9.99"), widen="up")}}
    assert _overlaps(st, {"price": (None, dec.Decimal("10.50"))}), "lexicographic misprune"
    assert not _overlaps(st, {"price": (dec.Decimal("50.00"), None)})


def test_update_props_metadata_only_commit(spark, tmp_path):
    """ALTER-TABLE-SET-TBLPROPERTIES analog: a resumed replay passing
    table props must see them merged via a metadata-only commit —
    data, schema, and the applied-epoch manifest carried unchanged;
    identical props are a no-op (no version bump)."""
    t, snap0 = _mk_clustered(spark, str(tmp_path / "lake"))
    before = _rows(t.read())
    v0 = t.current_snapshot().version
    s1 = t.update_props({"write_compression": "snappy", "cow_state_budget_bytes": "1024"})
    assert s1.version == v0 + 1
    assert s1.props["write_compression"] == "snappy"
    assert s1.props["stat_cols"] == "ts"  # creation-time props carried
    assert s1.applied == t.snapshot_at(v0).applied and _rows(t.read()) == before
    # no-op when nothing changes; None removes a key
    assert t.update_props({"write_compression": "snappy"}).version == s1.version
    s2 = t.update_props({"write_compression": None})
    assert s2.version == s1.version + 1 and "write_compression" not in s2.props
    # the runner surface honors props on an EXISTING table dir
    from fec_cn_support_etl_spark.cdc.runner import open_or_create

    t2 = open_or_create(spark, str(tmp_path / "lake"), n_buckets=4, props={"x": "1"})
    assert t2.current_snapshot().props["x"] == "1"


def test_read_where_all_pruned_drops_tombstone_col(spark, tmp_path):
    """The review trap: on a tombstone-bearing table, read_where's
    all-pruned early return must still drop _deleted when
    include_deleted=False — matching read().filter(...) and its own
    non-empty branch (read_keys' empty path already did this)."""
    from fec_cn_support_etl_spark.cdc.table import DELETED_COL

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("ts", T.LongType()),
            T.StructField("lsn", T.LongType()),
            T.StructField(DELETED_COL, T.BooleanType()),
        ]
    )
    t = LakeTable.create(
        spark,
        str(tmp_path / "lake"),
        schema,
        key_cols=["id"],
        n_buckets=2,
        order_cols=["lsn"],
        props={"stat_cols": "ts"},
    )
    df = (
        spark.range(50)
        .select(
            F.col("id"),
            (F.col("id") * 10).alias("ts"),
            F.col("id").alias("lsn"),
            (F.col("id") % 7 == 0).alias(DELETED_COL),
        )
        .withColumn(BUCKET_COL, bucket_expr(["id"], 2))
    )
    t.commit_merge(df, [0, 1], epoch="0")
    snap = t.compact(max_files=0, cluster_by="ts", slices=2)
    live_cols = t.read(snap).columns
    assert DELETED_COL not in live_cols
    # in-bounds read agrees with filter()
    assert t.read_where({"ts": (0, 100)}, snap).columns == live_cols
    # ALL-pruned read: driver-side empty, schema still tombstone-free
    clean, dirty, _, pb = t._plan_pruned_scan({"ts": (99_999, None)}, snap)
    assert not clean and not dirty and pb == 2
    empty = t.read_where({"ts": (99_999, None)}, snap)
    assert empty.count() == 0 and empty.columns == live_cols
    # and include_deleted=True keeps it on both paths
    assert DELETED_COL in t.read_where({"ts": (99_999, None)}, snap, include_deleted=True).columns


def test_uncompacted_cow_commit_records_fstats_and_file_prunes(spark, tmp_path):
    """The round-5 gap: only clustered compaction recorded per-file
    stats, so a fresh COW table could never file-prune.  Ordinary
    commit_merge now records fstats whenever a bucket dir holds more
    than one file — a narrow read on a ts-partitioned write must skip
    files driver-side with NO compact() call, and stay exactly
    read().filter()."""
    n_buckets = 2
    t = LakeTable.create(
        spark,
        str(tmp_path / "lake"),
        SCHEMA,
        key_cols=["id"],
        n_buckets=n_buckets,
        order_cols=["lsn"],
        props={"stat_cols": "ts"},
    )
    df = (
        spark.range(400)
        .select(
            F.col("id"),
            (F.col("id") * 10).alias("ts"),
            F.concat(F.lit("v"), F.col("id")).alias("v"),
            F.col("id").alias("lsn"),
        )
        .withColumn(BUCKET_COL, bucket_expr(["id"], n_buckets))
        # multiple tasks, each ts-local, each writing into BOTH bucket
        # dirs -> every bucket dir holds several ts-disjoint files
        .repartitionByRange(4, F.col("ts"))
    )
    t.commit_merge(df, list(range(n_buckets)), epoch="0")
    snap = t.current_snapshot()
    # ordinary commit recorded per-file stats on the multi-file dirs
    entries = [f for fs in snap.buckets.values() for f in fs]
    assert all(len(f.get("fstats") or {}) > 1 for f in entries)
    bounds = {"ts": (0, 990)}  # first quarter of the ts range
    clean, dirty, pruned_files, _ = t._plan_pruned_scan(bounds, snap)
    assert not dirty and pruned_files > 0, "fresh COW table must file-prune"
    want = _rows(t.read(snap).filter(F.col("ts").between(0, 990)))
    got = _rows(t.read_where(bounds, snap))
    assert got == want and len(got) == 100


def test_mor_delta_commit_records_fstats_for_raw_reads(spark, tmp_path):
    """Multi-file delta dirs record per-file stats too: raw incremental
    reads (read_images_where) prune inside a delta dir, while
    final-state reads still treat the mixed bucket as dirty."""
    t, snap0 = _mk_clustered(spark, str(tmp_path / "lake"))
    delta = (
        spark.range(10_000, 10_200)
        .select(
            (F.col("id") % 400).alias("id"),
            (F.col("id") * 10).alias("ts"),
            F.concat(F.lit("d"), F.col("id")).alias("v"),
            F.col("id").alias("lsn"),
        )
        .withColumn(BUCKET_COL, bucket_expr(["id"], snap0.n_buckets))
        .repartitionByRange(4, F.col("ts"))
    )
    touched = sorted({r[0] for r in delta.select(BUCKET_COL).distinct().collect()})
    snap = t.commit_append_delta(delta, touched, epoch="1")
    delta_entries = [
        f for fs in snap.buckets.values() for f in fs if "-delta" in f["path"]
    ]
    assert delta_entries and any(len(f.get("fstats") or {}) > 1 for f in delta_entries)
    # raw read over an lsn window equals the brute filter
    got = _rows(t.read_images_where({"lsn": (10_100, None)}, snap))
    want = _rows(t.read_images_where({"lsn": (None, None)}, snap).filter(F.col("lsn") >= 10_100))
    assert got == want and len(got) == 100


def _pruned_on(t, snap, bounds):
    _, dirty, pruned_files, _ = t._plan_pruned_scan(bounds, snap)
    assert not dirty
    return pruned_files


def test_zorder_compact_prunes_on_both_dimensions(spark, tmp_path):
    """Multi-column cluster_by Z-orders the rewrite: every file is narrow
    on EVERY cluster column, so read_where prunes on either dimension —
    where a single-column sort leaves the second dimension essentially
    un-prunable.  Results must still equal read().filter() exactly."""
    # single-column twin: clustered on ts only (ts and lsn decorrelated)
    t1, s1 = _mk_clustered(spark, str(tmp_path / "single"))
    # z-order twin: same data, clustered on (ts, lsn)
    t2 = LakeTable.create(
        spark,
        str(tmp_path / "zorder"),
        SCHEMA,
        key_cols=["id"],
        n_buckets=4,
        order_cols=["lsn"],
        props={"stat_cols": "ts,lsn"},
    )
    df = (
        spark.range(400)
        .select(
            F.col("id"),
            ((F.col("id") * 37) % 4000).alias("ts"),
            F.concat(F.lit("v"), F.col("id")).alias("v"),
            F.col("id").alias("lsn"),
        )
        .withColumn(BUCKET_COL, bucket_expr(["id"], 4))
    )
    t2.commit_merge(df, list(range(4)), epoch="0")
    s2 = t2.compact(max_files=0, cluster_by=["ts", "lsn"], slices=8)
    assert s2 is not None

    ts_b = {"ts": (1000, 1999)}
    lsn_b = {"lsn": (0, 99)}
    # z-order prunes on BOTH dimensions...
    assert _pruned_on(t2, s2, ts_b) > 0
    z_lsn = _pruned_on(t2, s2, lsn_b)
    assert z_lsn > 0
    # ...and strictly beats the single-column layout on the second one
    assert z_lsn > _pruned_on(t1, s1, lsn_b)
    # exactness on both dimensions (the pruning is only an optimization)
    for bounds, col, lo, hi in [(ts_b, "ts", 1000, 1999), (lsn_b, "lsn", 0, 99)]:
        want = _rows(t2.read(s2).filter(F.col(col).between(lo, hi)))
        got = _rows(t2.read_where(bounds, s2))
        assert got == want and len(got) > 0


def test_zorder_string_dimension_prunes(spark, tmp_path):
    """The string proxy (6-byte big-endian prefix) keeps lexicographic
    order, so a Z-order over (ts, v:string) makes string-range reads
    file-prunable; parquet footer string stats drive the pruning."""
    t = LakeTable.create(
        spark,
        str(tmp_path / "lake"),
        SCHEMA,
        key_cols=["id"],
        n_buckets=2,
        order_cols=["lsn"],
        props={"stat_cols": "ts,v"},
    )
    df = (
        spark.range(400)
        .select(
            F.col("id"),
            ((F.col("id") * 37) % 4000).alias("ts"),
            # zero-padded so lexicographic == numeric order of the suffix
            F.concat(F.lit("v"), F.lpad(F.col("id").cast("string"), 4, "0")).alias("v"),
            F.col("id").alias("lsn"),
        )
        .withColumn(BUCKET_COL, bucket_expr(["id"], 2))
    )
    t.commit_merge(df, list(range(2)), epoch="0")
    snap = t.compact(max_files=0, cluster_by="ts,v", slices=8)
    assert snap is not None
    bounds = {"v": ("v0100", "v0199")}
    assert _pruned_on(t, snap, bounds) > 0
    want = _rows(t.read(snap).filter(F.col("v").between("v0100", "v0199")))
    got = _rows(t.read_where(bounds, snap))
    assert got == want and len(got) == 100
