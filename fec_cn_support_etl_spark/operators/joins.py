"""Join operators.

Reference parity (SURVEY.md §2.3):
- J3-J5 ``isin(set)`` membership filters -> LEFT SEMI join
  (reference scripts/individual_support.py:81,105 etc.)

The J1/J2 dict-map lookups are inline ``F.broadcast`` left joins in
``plans/fec_pipeline.py`` (``cmte_to_cand_map`` feeding
``individual_support``); the U3 key-universe union is the full outer
join of the catalog query ``key_universe_full_outer``.

Scale notes: dimensions here (cm/cn/ccl; customer/nation) are orders of
magnitude smaller than facts, so we *hint* broadcast — the fact side
never shuffles. Semi joins let Catalyst push the existence check below
later aggregations and avoid materializing payload columns.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def semi_filter(fact: DataFrame, keys_df: DataFrame, key: str | Sequence[str], negate: bool = False) -> DataFrame:
    """Keep fact rows whose key exists (semi) / doesn't (anti) in keys_df."""
    keys = [key] if isinstance(key, str) else list(key)
    how = "left_anti" if negate else "left_semi"
    return fact.join(keys_df.select(*keys).distinct(), on=keys, how=how)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    keys: Sequence[str],
    n_buckets: int,
    sort_cols: Sequence[str] | None = None,
) -> str:
    """Materialize ``df`` as a hash-bucketed (optionally sorted)
    managed table.

    Scale rationale: two tables bucketed identically on their join key
    equi-join WITHOUT an Exchange (and with sortBy, without a Sort) —
    at 100 TB this removes the dominant shuffle from every repeated
    fact-to-fact join or agg on the key. The one-time bucketed write
    pays for itself after the first reuse; tests assert the
    exchange-free plan (test_plan_quality.py::test_bucketed_join_avoids_shuffle).
    """
    w = df.write.mode("overwrite").bucketBy(n_buckets, *list(keys))
    if sort_cols:
        w = w.sortBy(*list(sort_cols))
    w.saveAsTable(table_name)
    return table_name


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str | Sequence[str],
    ts: str,
    payload: Sequence[str],
    right_ts_alias: str = "matched_ts",
    tolerance_sec: float | None = None,
) -> DataFrame:
    """Backward as-of join: each left row picks the latest right row with
    the same key and right.ts <= left.ts (DuckDB/pandas ``merge_asof``
    semantics, which Spark has no native operator for).

    Implementation is the union+window composition, NOT a range join:
    right rows are tagged side=0 carrying their payload as one non-null
    struct, left rows side=1; one window per key ordered by
    (ts, side) takes ``last(struct, ignorenulls=True)`` so every left
    row sees exactly the most recent right row at-or-before it (side 0
    sorts first at equal ts => ties are matched, same as ``>=``).

    Scale: ONE hash shuffle on the key + a sort within partitions —
    identical cost profile to a sort-merge join, with no interval
    explosion and no cross product. Skewed keys cost what any window
    on that key costs; there is no per-row Python anywhere. The struct
    carry (not per-column ``last``) is what keeps genuinely-NULL right
    payload values from being skipped over.

    ``tolerance_sec`` drops matches older than the horizon (pandas
    ``merge_asof(tolerance=...)``): at scale this is also what lets the
    right side be pre-pruned to the retention window before the join.
    """
    from pyspark.sql import Window

    keys = [key] if isinstance(key, str) else list(key)
    clash = set(payload) & set(left.columns)
    if clash:
        raise ValueError(f"payload columns collide with left side: {sorted(clash)}")
    carry = F.struct(F.col(ts).alias("__asof_ts"), *[F.col(c) for c in payload])
    r = right.select(*keys, F.col(ts).alias(ts), F.lit(0).alias("__side"), carry.alias("__carry"))
    l = left.withColumn("__side", F.lit(1)).withColumn(
        "__carry", F.lit(None).cast(r.schema["__carry"].dataType)
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(ts).asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        l.unionByName(r, allowMissingColumns=True)
        .withColumn("__m", F.last("__carry", ignorenulls=True).over(w))
        .filter(F.col("__side") == 1)
    )
    if tolerance_sec is not None:
        horizon = (
            F.col(ts).cast("timestamp").cast("double")
            - F.col("__m.__asof_ts").cast("timestamp").cast("double")
        ) <= F.lit(float(tolerance_sec))
        matched = matched.withColumn("__m", F.when(horizon, F.col("__m")))
    out = matched.select(
        *left.columns,
        F.col("__m.__asof_ts").alias(right_ts_alias),
        *[F.col(f"__m.{c}").alias(c) for c in payload],
    )
    return out


def binned_range_join(
    probe: DataFrame,
    intervals: DataFrame,
    key: str | Sequence[str],
    ts: str,
    start: str,
    end: str,
    bin_sec: int,
) -> DataFrame:
    """Interval-containment join (probe.ts BETWEEN interval.start AND
    interval.end, inclusive, same key) without the cross product Spark
    would otherwise plan for a non-equi condition.

    Each interval explodes to the fixed-width time bins it overlaps
    (``sequence(floor(start/w), floor(end/w))``); each probe row maps to
    its single bin; the join is then an EQUI join on (key, bin) with the
    exact BETWEEN as a residual filter. A (probe, interval) pair meets
    in exactly one bin — the probe's own — so no post-join dedup is
    needed.

    Scale: shuffle volume is |probe| + |intervals| x (len/bin_sec + 1)
    rows, hash-partitioned on (key, bin) — bounded-length intervals
    (the common case: watch windows, retention horizons) explode to a
    small constant number of bins. Pick ``bin_sec`` ~ the typical
    interval length so most intervals land in 1-2 bins. Long-tail
    intervals degrade gracefully (more bins, never a cross product).
    """
    keys = [key] if isinstance(key, str) else list(key)
    wsec = float(bin_sec)

    def _epoch(df: DataFrame, c: str):
        # timestamp/timestamp_ntz -> seconds-as-double; numerics pass
        # through (ANSI mode forbids a direct NTZ->double cast).
        dt = df.schema[c].dataType.typeName()
        col = F.col(c)
        if dt.startswith("timestamp"):
            col = col.cast("timestamp")
        return col.cast("double")

    ivl = intervals.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(_epoch(intervals, start) / wsec).cast("long"),
                F.floor(_epoch(intervals, end) / wsec).cast("long"),
            )
        ),
    )
    pr = probe.withColumn("__bin", F.floor(_epoch(probe, ts) / wsec).cast("long"))
    # explicit aliases: probe and intervals often derive from the same
    # base relation (self-join), where pr[k] == ivl[k] is ambiguous
    pr, ivl = pr.alias("__rj_p"), ivl.alias("__rj_i")
    cond = (F.col(ts) >= F.col(start)) & (F.col(ts) <= F.col(end))
    on = [F.col(f"__rj_p.{k}") == F.col(f"__rj_i.{k}") for k in keys] + [
        F.col("__rj_p.__bin") == F.col("__rj_i.__bin")
    ]
    out = pr.join(ivl, on).filter(cond)
    for k in keys:
        out = out.drop(F.col(f"__rj_i.{k}"))
    return out.drop(F.col("__rj_p.__bin")).drop(F.col("__rj_i.__bin"))
