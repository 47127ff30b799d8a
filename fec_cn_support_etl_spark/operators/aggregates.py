"""Aggregation operators.

Reference parity (SURVEY.md §2.4):
- A3 conditional/pivoted agg: the reference scans one fact stream and
  branches into CORP vs NONCONNECTED sums (reference
  scripts/pac_support_corp_union.py:116-144). Spark form: one
  ``groupBy`` with ``sum(when(cond, x).otherwise(0))`` per bucket —
  single scan, single shuffle, map-side partial aggregation.
- A5 horizontal total + HAS_MONEY flag (reference
  scripts/merge_support.py:265-277); ``fec_pipeline.merge_support``
  calls it.

A4 collapse-duplicates (reference scripts/merge_support.py:49-84) is
``fec_pipeline.collapse_support``.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def conditional_sum_pivot(
    df: DataFrame,
    keys: Sequence[str],
    amount: Column | str,
    buckets: Mapping[str, Column],
) -> DataFrame:
    """groupBy(keys) with one SUM(CASE WHEN bucket_cond THEN amount ELSE 0)
    column per bucket — the reference's two-branch scan collapsed into
    one pass with map-side combine.
    """
    amt = F.col(amount) if isinstance(amount, str) else amount
    aggs = [F.sum(F.when(cond, amt).otherwise(F.lit(0))).alias(name) for name, cond in buckets.items()]
    return df.groupBy(*keys).agg(*aggs)


def horizontal_total(
    df: DataFrame,
    parts: Sequence[str],
    total_col: str = "TOTAL_SUPPORT",
    flag_col: str | None = "HAS_MONEY",
) -> DataFrame:
    """Row-wise sum of category columns + 0/1 funded flag."""
    filled = df.na.fill({c: 0.0 for c in parts})
    total = None
    for c in parts:
        total = F.col(c) if total is None else total + F.col(c)
    out = filled.withColumn(total_col, total)
    if flag_col:
        out = out.withColumn(flag_col, (F.col(total_col) > 0).cast("int"))
    return out
