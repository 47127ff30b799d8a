"""The reference's FEC pipelines re-expressed over the driver's star
schema — same operator DAG, different column names.

Isomorphism (reference -> testdata):
- cn candidate master      -> customer (CAND_ID = c_custkey,
  CAND_OFFICE = mktsegment bucketed to S/P/H)
- ccl committee linkage    -> orders   (CMTE_ID = o_orderkey,
  linked CAND_ID = o_custkey)
- itcont/itpas2 fact files -> lineitem (transactions keyed by
  committee l_orderkey, amount l_extendedprice)

Pipelines mirrored (reference scripts/individual_support.py:29-134,
scripts/pac_support_corp_union.py:29-150,
scripts/superpac_ie_support.py:29-120, scripts/merge_support.py:86-325):
filter year/office -> broadcast committee->candidate lookup -> semi-join
valid candidates -> positive-amount filter -> groupBy sum -> enrich ->
final 3-way left-join merge onto the candidate spine with horizontal
totals + funded flag.

All money aggregates go through exact decimals (functions.scalar.dec)
so the DuckDB oracle hash-matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalar import dec, money
from ..operators.aggregates import conditional_sum_pivot, horizontal_total
from ..operators.joins import semi_filter
from ..sources.tpch import load_table

# mktsegment -> office bucket (S=senate-analog, P=presidential-analog,
# everything else = H, filtered out like CAND_OFFICE='H').
_SEG_OFFICE = {
    "BUILDING": "S",
    "AUTOMOBILE": "S",
    "MACHINERY": "P",
}


def candidate_spine(spark: SparkSession, sf_dir: str, offices: tuple[str, ...] = ("S", "P")) -> DataFrame:
    """customer -> office-filtered candidate universe (reference
    scripts/merge_support.py:120-189, minus dedup: custkey is unique)."""
    cust = load_table(spark, sf_dir, "customer")
    office = (
        F.when(F.col("c_mktsegment").isin([k for k, v in _SEG_OFFICE.items() if v == "S"]), "S")
        .when(F.col("c_mktsegment").isin([k for k, v in _SEG_OFFICE.items() if v == "P"]), "P")
        .otherwise("H")
    )
    return (
        cust.withColumn("office", office)
        .filter(F.col("office").isin(list(offices)))
        .select(F.col("c_custkey").alias("cand_id"), F.col("c_name").alias("cand_name"), "office")
    )


def committee_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders as the committee->candidate linkage (reference
    scripts/individual_support.py:17-27 dict build; here orderkey is
    already unique so no prefer-principal dedup is needed)."""
    return load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("cmte_id"), F.col("o_custkey").alias("linked_cand_id")
    )


def _mapped_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact joined to the committee->candidate lookup — the reference's
    dict `.map` probe (scripts/individual_support.py:99).

    No broadcast hint: the lookup is orders-derived here, so it scales
    with the fact over this testdata (unlike the real FEC ccl, which is
    a bounded dim). The size threshold broadcasts it at test scale; at
    100 TB AQE picks a shuffle join instead of OOMing the build side.
    Gated by test_no_forced_broadcast_on_fact_joins."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice")
    lookup = committee_lookup(spark, sf_dir).withColumnRenamed("cmte_id", "l_orderkey")
    return li.join(lookup, "l_orderkey", "left")


def support_by_candidate(
    spark: SparkSession,
    sf_dir: str,
    returnflag: str,
    offices=("S", "P"),
) -> DataFrame:
    """One support category: fact filter -> lookup -> semi -> agg -> enrich."""
    spine = candidate_spine(spark, sf_dir, offices)
    fact = _mapped_fact(spark, sf_dir).filter(
        (F.col("l_returnflag") == returnflag) & (F.col("l_quantity") > 0) & F.col("linked_cand_id").isNotNull()
    )
    valid = semi_filter(fact.withColumnRenamed("linked_cand_id", "cand_id"), spine, "cand_id")
    agg = valid.groupBy("cand_id").agg(money(F.sum(dec("l_extendedprice"))).alias("support"))
    return agg


def final_support_analog(spark: SparkSession, sf_dir: str, offices=("S", "P")) -> DataFrame:
    """Mirror of merge_support.main (reference scripts/merge_support.py:
    86-325): candidate spine LEFT JOIN the support categories, fill 0,
    horizontal total, HAS_MONEY flag.

    Scale optimization over the reference: the reference computes the
    three categories with SIX fact rescans across four scripts
    (scripts/run_all.py:24-27); here all four support columns come from
    ONE fact scan via conditional aggregation, then a single left join
    onto the spine. Same results (oracle-checked), 1/6 the IO.
    """
    spine = candidate_spine(spark, sf_dir, offices)
    fact = _mapped_fact(spark, sf_dir).filter(
        (F.col("l_quantity") > 0)
        & F.col("linked_cand_id").isNotNull()
        & F.col("l_returnflag").isin("N", "R", "A")
    )
    valid = semi_filter(fact.withColumnRenamed("linked_cand_id", "cand_id"), spine, "cand_id")
    amt = dec("l_extendedprice")
    piv = conditional_sum_pivot(
        valid,
        keys=["cand_id"],
        amount=amt,
        buckets={
            "individual_raw": F.col("l_returnflag") == "N",
            "corp_raw": (F.col("l_returnflag") == "A") & (F.col("l_linestatus") == "O"),
            "nonconn_raw": (F.col("l_returnflag") == "A") & (F.col("l_linestatus") != "O"),
            "superpac_raw": F.col("l_returnflag") == "R",
        },
    )
    supports = piv.select(
        "cand_id",
        money("individual_raw").alias("individual_support"),
        money("corp_raw").alias("corp_support"),
        money("nonconn_raw").alias("nonconn_support"),
        money("superpac_raw").alias("superpac_ie_support"),
    )
    merged = spine.join(supports, "cand_id", "left")
    parts = ["individual_support", "corp_support", "nonconn_support", "superpac_ie_support"]
    out = horizontal_total(merged, parts, total_col="total_support", flag_col="has_money")
    return out.select("cand_id", "cand_name", "office", *parts, "total_support", "has_money")
