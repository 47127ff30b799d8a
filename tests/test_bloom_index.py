"""Per-file bloom index: equality-predicate pruning where zone maps
cannot prune (high-cardinality columns whose min/max span every file).

Contract pinned here:

* ``read_where(eq=...)`` EXACTLY equals ``read().filter(col == v)``
  while provably pruning buckets/files driver-side;
* a proven bloom miss prunes; a missing/unsupported/saturated bloom
  only ever KEEPS files (conservative);
* mixed base+delta buckets stay all-or-nothing (the stale-image trap:
  an eq probe matching a superseded base image must return the LWW
  truth, not the stale row);
* entry-level blooms are the OR of per-file blooms and exist only when
  EVERY file contributed one;
* blooms survive the snapshot JSON round trip.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from fec_cn_support_etl_spark.cdc.table import (
    BUCKET_COL,
    LakeTable,
    _bloom_build,
    _bloom_may_contain,
    _bloom_or,
    bucket_expr,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("ts", T.LongType()),
        T.StructField("lsn", T.LongType()),
    ]
)

N_BUCKETS = 8


def _mk(spark, root, n=400, props=None):
    t = LakeTable.create(
        spark,
        root,
        SCHEMA,
        key_cols=["id"],
        n_buckets=N_BUCKETS,
        order_cols=["lsn"],
        props={"bloom_cols": "v", **(props or {})},
    )
    df = (
        spark.range(n)
        .select(
            F.col("id"),
            # high-cardinality, hash-spread: every bucket's min/max span
            # essentially the whole domain, so zone maps cannot prune
            F.md5(F.col("id").cast("string")).alias("v"),
            ((F.col("id") * 37) % 4000).alias("ts"),
            F.col("id").alias("lsn"),
        )
        .withColumn(BUCKET_COL, bucket_expr(["id"], N_BUCKETS))
    )
    t.commit_merge(df, list(range(N_BUCKETS)), epoch="0")
    return t


def _rows(df):
    return sorted(tuple(r) for r in df.select("id", "v", "ts", "lsn").collect())


def test_bloom_eq_prunes_where_zone_maps_cannot(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "lake"))
    snap = t.current_snapshot()
    probe = spark.sql("SELECT md5('123') AS v").first()["v"]  # id=123's value

    # zone maps alone: nothing prunable (min/max span the hex domain)
    _, _, _, pb_range = t._plan_pruned_scan({"v": (probe, probe)}, snap)
    assert pb_range == 0, "fixture must be zone-map-unprunable for the test to mean anything"

    # bloom eq probe: the value lives in one bucket; most buckets prune
    _, _, _, pb_eq = t._plan_pruned_scan({}, snap, eq={"v": probe})
    assert pb_eq >= N_BUCKETS - 2, f"expected bloom pruning, pruned {pb_eq}/{N_BUCKETS} buckets"

    want = _rows(t.read(snap).filter(F.col("v") == probe))
    got = _rows(t.read_where(eq={"v": probe}, snap=snap))
    assert want == got and len(got) == 1

    # blooms survived the snapshot JSON round trip
    on_disk = json.load(open(os.path.join(t._snap_dir, f"v{snap.version}.json")))
    entries = [f for fs in on_disk["buckets"].values() for f in fs]
    assert any("bloom" in (f.get("stats") or {}).get("v", {}) for f in entries)


def test_bloom_absent_value_prunes_everything(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "lake2"))
    snap = t.current_snapshot()
    out = t.read_where(eq={"v": "definitely-not-a-md5-value"}, snap=snap)
    assert out.count() == 0
    # schema matches the non-empty branch / read().filter(...)
    assert out.columns == t.read(snap).columns
    _, _, _, pb = t._plan_pruned_scan({}, snap, eq={"v": "definitely-not-a-md5-value"})
    assert pb == N_BUCKETS


def test_bloom_mixed_bucket_stale_image_safety(spark, tmp_path):
    """An eq probe matching a SUPERSEDED base image must return the LWW
    truth: the delta'd bucket is read whole and resolved, never pruned
    at file granularity."""
    t = _mk(spark, str(tmp_path / "lake3"), n=100)
    old = spark.sql("SELECT md5('7') AS v").first()["v"]
    upd = (
        spark.range(7, 8)
        .select(
            F.col("id"),
            F.lit("updated").alias("v"),
            F.lit(9999).cast("long").alias("ts"),
            F.lit(10_000).cast("long").alias("lsn"),
        )
        .withColumn(BUCKET_COL, bucket_expr(["id"], N_BUCKETS))
    )
    t.commit_append_delta(upd, None, epoch="1")
    snap = t.current_snapshot()
    # the old image's value matches the base file's bloom, but LWW says gone
    assert _rows(t.read_where(eq={"v": old}, snap=snap)) == _rows(
        t.read(snap).filter(F.col("v") == old)
    )
    assert t.read_where(eq={"v": old}, snap=snap).count() == 0
    # and the new value is found
    assert t.read_where(eq={"v": "updated"}, snap=snap).count() == 1


def test_bloom_after_clustered_compaction_prunes_files(spark, tmp_path):
    """compact(cluster_by=...) rewrites range-sliced multi-file buckets;
    blooms are rebuilt per slice, so an eq probe prunes individual files
    inside resolved buckets too."""
    t = _mk(spark, str(tmp_path / "lake4"), props={"stat_cols": "ts"})
    snap = t.compact(max_files=0, cluster_by="ts", slices=4)
    probe = spark.sql("SELECT md5('123') AS v").first()["v"]
    _, dirty, pruned_files, _ = t._plan_pruned_scan({}, snap, eq={"v": probe})
    assert not dirty and pruned_files > 0
    want = _rows(t.read(snap).filter(F.col("v") == probe))
    got = _rows(t.read_where(eq={"v": probe}, snap=snap))
    assert want == got and len(got) == 1
    # combined range + eq predicates still exact
    both = t.read_where({"ts": (0, 3999)}, snap=snap, eq={"v": probe})
    assert _rows(both) == want


def test_sidecar_entry_bloom_is_or_of_files_and_hidden_from_scans(spark, tmp_path):
    """The per-file blooms live in a _blooms.json sidecar INSIDE the
    entry dir (underscore-hidden, so Spark's parquet scan ignores it);
    the inline entry bloom is their OR; bloom_or refuses geometry
    mismatches."""
    t = _mk(spark, str(tmp_path / "lake6"))
    snap = t.current_snapshot()
    entry = next(f for fs in snap.buckets.values() for f in fs)
    side = os.path.join(entry["path"], "_blooms.json")
    assert os.path.exists(side)
    doc = json.load(open(side))
    per_file, ent = doc["files"], doc["entry"]["v"]
    # OR property: anything a file may contain, the entry may contain
    merged = None
    for fb in per_file.values():
        merged = fb["v"] if merged is None else _bloom_or(merged, fb["v"])
    assert merged == ent
    # the sidecar is invisible to the data scan (underscore = hidden)
    n_files = sum(len(json.load(open(os.path.join(f["path"], "_blooms.json")))["files"])
                  for fs in snap.buckets.values() for f in fs)
    assert t.read(snap).count() == 400 and n_files > 0
    # geometry mismatch refuses to merge
    assert _bloom_or(_bloom_build(["x"], 256), _bloom_build(["x"], 512)) is None


def test_bloom_unsupported_types_stay_conservative(spark, tmp_path):
    """A float bloom_col records no bloom (never prunes); probing with an
    un-encodable value keeps everything; results always equal filter."""
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("x", T.DoubleType()),
            T.StructField("lsn", T.LongType()),
        ]
    )
    t = LakeTable.create(
        spark,
        str(tmp_path / "lake5"),
        schema,
        key_cols=["id"],
        n_buckets=2,
        order_cols=["lsn"],
        props={"bloom_cols": "x"},
    )
    df = (
        spark.range(50)
        .select(F.col("id"), (F.col("id") * 0.5).alias("x"), F.col("id").alias("lsn"))
        .withColumn(BUCKET_COL, bucket_expr(["id"], 2))
    )
    t.commit_merge(df, [0, 1], epoch="0")
    snap = t.current_snapshot()
    entries = [f for fs in snap.buckets.values() for f in fs]
    assert all("bloom" not in (f.get("stats") or {}).get("x", {}) for f in entries)
    _, _, _, pb = t._plan_pruned_scan({}, snap, eq={"x": 2.5})
    assert pb == 0  # nothing pruned — conservative
    got = sorted(r["id"] for r in t.read_where(eq={"x": 2.5}, snap=snap).collect())
    assert got == [5]


def test_raw_image_eq_probe_over_base_and_deltas(spark, tmp_path):
    """read_images_where(eq=...) returns EVERY image of the value —
    superseded base images and delta images alike — with bloom pruning
    applied per file (delta commits write the same sidecars)."""
    t = _mk(spark, str(tmp_path / "lake7"), n=100)
    old = spark.sql("SELECT md5('7') AS v").first()["v"]

    def upd(key, val, lsn, epoch):
        df = (
            spark.range(key, key + 1)
            .select(
                F.col("id"),
                F.lit(val).alias("v"),
                F.lit(9999).cast("long").alias("ts"),
                F.lit(lsn).cast("long").alias("lsn"),
            )
            .withColumn(BUCKET_COL, bucket_expr(["id"], N_BUCKETS))
        )
        t.commit_append_delta(df, None, epoch=epoch)

    upd(7, "updated", 10_000, "1")
    upd(8, "other", 10_001, "2")
    snap = t.current_snapshot()
    # delta dirs carry sidecars too
    delta_entries = [f for fs in snap.buckets.values() for f in fs if not f.get("resolved")]
    assert delta_entries and all(
        os.path.exists(os.path.join(f["path"], "_blooms.json")) for f in delta_entries
    )
    # the superseded base image is still a raw image
    imgs_old = t.read_images_where(eq={"v": old}, snap=snap)
    assert [r["id"] for r in imgs_old.collect()] == [7]
    imgs_new = t.read_images_where(eq={"v": "updated"}, snap=snap)
    assert [(r["id"], r["lsn"]) for r in imgs_new.collect()] == [(7, 10_000)]
    # parity with the unpruned raw read
    unpruned = t.read_images_where({}, snap=snap).filter(F.col("v") == old)
    assert sorted(map(tuple, imgs_old.collect())) == sorted(map(tuple, unpruned.collect()))


def test_boolean_bloom_col_records_no_bloom(spark, tmp_path):
    """Booleans are NOT bloom-indexable: an empty bloom would 'prove'
    absence for any probe and silently drop matching rows; the column
    must record no bloom at all (conservative — never prunes)."""
    assert _bloom_build([True, False, True], 256) is None
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("flag", T.BooleanType()),
            T.StructField("lsn", T.LongType()),
        ]
    )
    t = LakeTable.create(
        spark,
        str(tmp_path / "lake-bool"),
        schema,
        key_cols=["id"],
        n_buckets=2,
        order_cols=["lsn"],
        props={"bloom_cols": "flag"},
    )
    df = (
        spark.range(20)
        .select(F.col("id"), (F.col("id") % 2 == 0).alias("flag"), F.col("id").alias("lsn"))
        .withColumn(BUCKET_COL, bucket_expr(["id"], 2))
    )
    t.commit_merge(df, [0, 1], epoch="0")
    snap = t.current_snapshot()
    entries = [f for fs in snap.buckets.values() for f in fs]
    assert all("bloom" not in (f.get("stats") or {}).get("flag", {}) for f in entries)
    _, _, _, pb = t._plan_pruned_scan({}, snap, eq={"flag": True})
    assert pb == 0  # nothing pruned
    assert t.read_where(eq={"flag": True}, snap=snap).count() == 10


def test_bloom_type_mismatched_probe_never_prunes(spark, tmp_path):
    """ADVICE r6: an eq probe whose Python type mismatches the column's
    Spark type (int probe on a string column and vice versa) must skip
    bloom pruning entirely — the bloom hashed the COLUMN type's
    canonical encoding, so a cross-type probe could prove a false miss
    while the re-applied ANSI filter would still match rows. Both id
    and v are bloom-indexed, so the string probes on id meet a bloom."""
    t = _mk(spark, str(tmp_path / "lake-tm"), props={"bloom_cols": "v,id"})
    snap = t.current_snapshot()
    # v is a string column: an int probe must not prune ANY bucket
    _, _, pf, pb = t._plan_pruned_scan({}, snap, eq={"v": 123})
    assert pb == 0 and pf == 0
    # id is a long column: a string probe must not bloom-prune either
    # (min/max TypeError guard also keeps)
    _, _, pf2, pb2 = t._plan_pruned_scan({}, snap, eq={"id": "123"})
    assert pb2 == 0 and pf2 == 0
    # and read_where stays exactly read().filter(...) under coercion
    want = _rows(t.read(snap).filter(F.col("id") == "123"))
    got = _rows(t.read_where(eq={"id": "123"}, snap=snap))
    assert want == got
    # read_images_where prunes through the same type guard: "0123"
    # hashes to another bloom key than the long 123, yet ANSI matches it
    want_img = _rows(t.read_images_where({}, snap=snap).filter(F.col("id") == "0123"))
    got_img = _rows(t.read_images_where(eq={"id": "0123"}, snap=snap))
    assert want_img and got_img == want_img
