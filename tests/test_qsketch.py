"""Mergeable quantile sketches: accuracy against true rank intervals,
byte-level determinism (partitioning/retry invariance), serialization,
and the persist-then-union-tomorrow rollup economics."""

from __future__ import annotations

import numpy as np
import pytest

from fec_cn_support_etl_spark.operators.qsketch import (
    QuantileSketch,
    build_day_sketches,
    rollup_sketches,
)


def _true_rank_interval(values: np.ndarray, v: float) -> tuple[float, float]:
    n = len(values)
    return (np.sum(values < v) / n, np.sum(values <= v) / n)


def _assert_rank_ok(values, sk, qs=(0.1, 0.5, 0.9, 0.95), eps=0.05):
    values = np.asarray(values, dtype=float)
    for q in qs:
        lo, hi = _true_rank_interval(values, sk.quantile(q))
        assert lo <= q + eps and hi >= q - eps, (q, lo, hi)


@pytest.mark.parametrize(
    "data",
    [
        np.arange(50_000.0),                      # uniform
        np.arange(50_000.0) ** 3,                 # heavy right skew
        np.repeat(np.arange(100.0), 500),         # massive ties
        np.concatenate([np.zeros(40_000), np.arange(10_000.0)]),  # tie block + tail
    ],
    ids=["uniform", "skewed", "ties", "tieblock"],
)
def test_sketch_rank_error_within_bound(data):
    rng = np.random.default_rng(7)
    shuffled = rng.permutation(data)
    sk = QuantileSketch().add(shuffled)
    assert sk.n == len(data)
    assert sk.weight() == len(data)
    # bounded state: far below input size
    assert sum(a.size for a in sk.levels) < 20 * 256
    _assert_rank_ok(data, sk)


def test_sketch_is_pure_function_of_multiset():
    data = np.random.default_rng(3).normal(size=30_000)
    a = QuantileSketch().add(data)
    b = QuantileSketch().add(data[::-1].copy())
    rng = np.random.default_rng(5)
    c = QuantileSketch().add(rng.permutation(data))
    assert a.to_bytes() == b.to_bytes() == c.to_bytes()
    # signed zeros: -0.0 is stored as 0.0, so neither arrival order nor
    # merge order shows in the bytes; ``old`` holds -0.0 as a blob
    # written before that mapping would
    assert QuantileSketch().add([0.0, -0.0, 1.0]).to_bytes() == QuantileSketch().add([-0.0, 0.0, 1.0]).to_bytes()
    old = QuantileSketch()
    old.levels, old.n = [np.array([-0.0])], 1
    for neg in (QuantileSketch().add([-0.0]), old):
        pos = QuantileSketch().add([0.0])
        assert QuantileSketch.merge([pos, neg]).to_bytes() == QuantileSketch.merge([neg, pos]).to_bytes()
    # chunked insertion differs from one-shot in compaction boundaries,
    # but must still meet the bound
    d = QuantileSketch()
    for chunk in np.array_split(data, 13):
        d.add(chunk)
    _assert_rank_ok(data, d)


def test_serialization_roundtrip():
    sk = QuantileSketch(k=64).add(np.arange(10_000.0))
    rt = QuantileSketch.from_bytes(sk.to_bytes())
    assert rt.k == sk.k and rt.n == sk.n
    assert rt.to_bytes() == sk.to_bytes()
    assert rt.quantile(0.5) == sk.quantile(0.5)


def test_merge_order_invariant_and_accurate():
    rng = np.random.default_rng(11)
    days = [rng.normal(loc=i, size=5_000) for i in range(20)]
    sketches = [QuantileSketch().add(d) for d in days]
    allv = np.concatenate(days)
    m1 = QuantileSketch.merge(sketches)
    m2 = QuantileSketch.merge(list(reversed(sketches)))
    assert m1.to_bytes() == m2.to_bytes(), "one-shot merge must ignore input order"
    assert m1.n == len(allv) and m1.weight() == len(allv)
    _assert_rank_ok(allv, m1)


def test_incremental_rollup_stays_within_bound():
    """The never-rescan-history property: fold yesterday's rollup with
    one new day at a time; every intermediate state meets the bound."""
    rng = np.random.default_rng(13)
    days = [rng.exponential(scale=1 + i, size=4_000) for i in range(15)]
    acc = QuantileSketch().add(days[0])
    seen = days[0]
    for d in days[1:]:
        acc = QuantileSketch.merge([acc, QuantileSketch().add(d)])
        seen = np.concatenate([seen, d])
        _assert_rank_ok(seen, acc)
    assert acc.n == len(seen)


def test_empty_and_nan_values():
    sk = QuantileSketch().add(np.array([]))
    assert sk.n == 0 and np.isnan(sk.quantile(0.5))
    sk2 = QuantileSketch().add(np.array([np.nan, 1.0, np.nan, 3.0]))
    assert sk2.n == 2 and sk2.weight() == 2
    m = QuantileSketch.merge([sk, sk2])
    assert m.n == 2


def test_spark_day_sketches_partitioning_invariant(spark):
    """The determinism contract end-to-end in Spark: the same
    (group, day) data must yield byte-identical sketch state and
    identical rollup estimates under wildly different partitionings."""
    from pyspark.sql import functions as F

    df = (
        spark.range(60_000)
        .select(
            (F.col("id") % 3).cast("string").alias("g"),
            F.date_add(
                F.to_date(F.lit("2024-01-01")), (F.col("id") % 10).cast("int")
            ).alias("d"),
            ((F.col("id") * 2654435761) % 100_000).cast("double").alias("value"),
        )
    )
    a = build_day_sketches(df.repartition(1), ["g"], "d", "value")
    b = build_day_sketches(df.repartition(37, "value"), ["g"], "d", "value")
    rows_a = {(r["g"], str(r["d"])): (bytes(r["sketch"]), r["n_rows"]) for r in a.collect()}
    rows_b = {(r["g"], str(r["d"])): (bytes(r["sketch"]), r["n_rows"]) for r in b.collect()}
    assert rows_a == rows_b and len(rows_a) == 30
    est_a = {r["g"]: (r["n_rows"], r["q50"], r["q95"]) for r in rollup_sketches(a, ["g"], "d", [0.5, 0.95]).collect()}
    est_b = {r["g"]: (r["n_rows"], r["q50"], r["q95"]) for r in rollup_sketches(b, ["g"], "d", [0.5, 0.95]).collect()}
    assert est_a == est_b
    assert all(n == 20_000 for n, _, _ in est_a.values())


def test_catalog_query_bounds_hold_and_audit_is_real(spark):
    """quantile_sketch_rollup at sf0.001: booleans true, n/n_days exact
    against a direct aggregate."""
    from pyspark.sql import functions as F

    from fec_cn_support_etl_spark.plans import catalog

    out = catalog.QUERIES["quantile_sketch_rollup"](spark, "/root/testdata/sf0.001")
    rows = out.collect()
    assert rows and all(r["p50_ok"] and r["p95_ok"] for r in rows)
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    exact = {
        r["event_type"]: (r["n"], r["nd"])
        for r in ev.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.countDistinct(F.to_date("ts")).alias("nd"))
        .collect()
    }
    assert {r["event_type"]: (r["n"], r["n_days"]) for r in rows} == exact
