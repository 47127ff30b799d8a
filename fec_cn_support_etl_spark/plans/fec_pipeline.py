"""The reference's four-script FEC pipeline as lazy Spark plans.

Reference parity (file:line cites into /root/reference):
- individual_support.py:17-27  ccl -> committee->candidate map,
  prefer CMTE_DSGN='P', else first-observed
- individual_support.py:72-119 office/year filters, TP in {15,15E} &
  ENTITY_TP='IND', positive-amount, groupBy-sum
- superpac_ie_support.py:53-106 CMTE_TP='O' committees, TP='24E'
- pac_support_corp_union.py:58-127 CMTE_TP in {Q,N}, TP not in
  {24E,24A}, ORG_TP C vs '' conditional split
- merge_support.py:120-317 candidate spine dedup (prefer has-PCC then
  status C), 3-way left merge on (CAND_ID, CAND_ELECTION_YR),
  totals + HAS_MONEY + mixed sort + funded/unfunded/all split

Scale deltas vs the reference (same results, different physics):
- Each support table is ONE distributed plan; no chunk loop. The
  reference writes each support table to CSV and merge_support.py
  reads it back (individual_support.py:132-133,
  merge_support.py:105-107,195-209); here ``run_pipeline``
  materializes the three support tables and the merged ``final`` once
  each (``_materialize``: persist + one count), the Spark counterpart
  of those intermediate CSVs. The merge's year probes and every output
  read the stored rows instead of re-running the fact scans.
- ``run_all_offices`` computes the S / P / S+P triple from a single
  scan set: supports are computed once over offices={'S','P'} and the
  office-specific outputs are filters of the total (the reference
  reruns the whole pipeline 3x and scans itpas2 six times,
  run_all.py:24-27,44-50).
- Dimension tables (cn/cm/ccl) are broadcast; the fact scans never
  shuffle before their partial aggregation.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import extract_year
from ..operators import caching
from ..operators.aggregates import horizontal_total
from ..operators.windows import top1_per_group

SUPPORT_COLS = [
    "INDIVIDUAL_SUPPORT",
    "CORP_PAC_SUPPORT",
    "NONCONNECTED_PAC_SUPPORT",
    "SUPERPAC_IE_SUPPORT",
]


@dataclass
class FecInputs:
    """The five FEC tables, already loaded (sources.fec.read_fec)."""

    cn: DataFrame
    cm: DataFrame
    ccl: DataFrame
    itcont: DataFrame
    itpas2: DataFrame


def with_row_order(df: DataFrame, col: str = "__file_order") -> DataFrame:
    """Stable per-file row order for first-observed tie-breaks
    (single-file reads: partition splits are ordered by file offset, so
    monotonically_increasing_id preserves file order)."""
    return df.withColumn(col, F.monotonically_increasing_id())


def cmte_to_cand_map(ccl: DataFrame) -> DataFrame:
    """CMTE_ID -> CAND_ID, prefer principal (CMTE_DSGN='P'), else first
    observed (reference individual_support.py:17-27)."""
    ccl2 = with_row_order(ccl).filter(F.col("CMTE_ID").isNotNull() & F.col("CAND_ID").isNotNull())
    pref = (F.coalesce(F.col("CMTE_DSGN"), F.lit("")) == "P").cast("int")
    return top1_per_group(
        ccl2.withColumn("__is_principal", pref),
        keys=["CMTE_ID"],
        order=[F.desc("__is_principal"), F.asc("__file_order")],
    ).select("CMTE_ID", F.col("CAND_ID").alias("MAPPED_CAND_ID"))


def candidate_universe(cn: DataFrame, offices: tuple[str, ...], target_year: str) -> DataFrame:
    """Office + normalized-year filtered cn (reference
    individual_support.py:72-82)."""
    return cn.filter(F.col("CAND_OFFICE").isin(list(offices))).withColumn(
        "CAND_ELECTION_YR", extract_year("CAND_ELECTION_YR")
    ).filter(F.col("CAND_ELECTION_YR") == target_year)


def _positive_amount(df: DataFrame) -> DataFrame:
    amt = F.col("TRANSACTION_AMT").try_cast("double")
    return df.withColumn("__amt", amt).filter(F.col("__amt").isNotNull() & (F.col("__amt") > 0))


def individual_support(inp: FecInputs, offices, target_year: str) -> DataFrame:
    """reference individual_support.py:84-129 as one plan."""
    cands = candidate_universe(inp.cn, offices, target_year)
    valid_ids = cands.select("CAND_ID").distinct()
    lookup = cmte_to_cand_map(inp.ccl)
    fact = inp.itcont.filter(F.col("TRANSACTION_TP").isin("15", "15E") & (F.col("ENTITY_TP") == "IND"))
    mapped = (
        fact.join(F.broadcast(lookup), "CMTE_ID", "left")
        .filter(F.col("MAPPED_CAND_ID").isNotNull())
        .withColumnRenamed("MAPPED_CAND_ID", "MATCH_CAND_ID")
    )
    valid = mapped.join(
        F.broadcast(valid_ids.withColumnRenamed("CAND_ID", "MATCH_CAND_ID")), "MATCH_CAND_ID", "left_semi"
    )
    agg = (
        _positive_amount(valid)
        .groupBy(F.col("MATCH_CAND_ID").alias("CAND_ID"))
        .agg(F.sum("__amt").alias("INDIVIDUAL_SUPPORT"))
    )
    return agg.join(F.broadcast(cands), "CAND_ID", "left").orderBy(F.desc("INDIVIDUAL_SUPPORT"))


def superpac_ie_support(inp: FecInputs, offices, target_year: str) -> DataFrame:
    """reference superpac_ie_support.py:52-115 as one plan."""
    cands = candidate_universe(inp.cn, offices, target_year)
    valid_ids = cands.select("CAND_ID").distinct()
    superpacs = inp.cm.filter(F.col("CMTE_TP") == "O").select("CMTE_ID").distinct()
    fact = inp.itpas2.filter(F.col("TRANSACTION_TP") == "24E")
    valid = (
        fact.join(F.broadcast(superpacs), "CMTE_ID", "left_semi")
        .join(F.broadcast(valid_ids), "CAND_ID", "left_semi")
    )
    agg = _positive_amount(valid).groupBy("CAND_ID").agg(F.sum("__amt").alias("SUPERPAC_IE_SUPPORT"))
    return agg.join(F.broadcast(cands), "CAND_ID", "left").orderBy(F.desc("SUPERPAC_IE_SUPPORT"))


def pac_support(inp: FecInputs, offices, target_year: str) -> DataFrame:
    """reference pac_support_corp_union.py:52-144: CORP vs NONCONNECTED
    split in one conditional-aggregation pass (the reference also does
    one pass but with two Python branches)."""
    cands = candidate_universe(inp.cn, offices, target_year)
    valid_ids = cands.select("CAND_ID").distinct()
    cm = inp.cm.withColumn("CMTE_TP", F.coalesce("CMTE_TP", F.lit(""))).withColumn(
        "ORG_TP", F.coalesce("ORG_TP", F.lit(""))
    )
    # reference builds org_type from the FULL cm with last-row-wins
    # (set_index().to_dict(), pac_support_corp_union.py:59) and keeps
    # the Q/N filter only for PAC membership (:58); F.first after a
    # shuffle would be nondeterministic, so take top-1 by file order DESC
    org_map = top1_per_group(
        with_row_order(cm.filter(F.col("CMTE_ID").isNotNull())),
        keys=["CMTE_ID"],
        order=[F.desc("__file_order")],
    ).select("CMTE_ID", "ORG_TP")
    pac_ids = cm.filter(F.col("CMTE_TP").isin("Q", "N")).select("CMTE_ID").distinct()
    pac_dim = pac_ids.join(org_map, "CMTE_ID", "left")
    fact = inp.itpas2.filter(~F.col("TRANSACTION_TP").isin("24E", "24A"))
    valid = (
        fact.join(F.broadcast(pac_dim), "CMTE_ID", "inner")  # semi + ORG_TP payload in one join
        .join(F.broadcast(valid_ids), "CAND_ID", "left_semi")
    )
    pos = _positive_amount(valid).withColumn("ORG_TP", F.coalesce("ORG_TP", F.lit("")))
    agg = pos.groupBy("CAND_ID").agg(
        F.sum(F.when(F.col("ORG_TP") == "C", F.col("__amt")).otherwise(0.0)).alias("CORP_PAC_SUPPORT"),
        F.sum(F.when(F.col("ORG_TP") == "", F.col("__amt")).otherwise(0.0)).alias("NONCONNECTED_PAC_SUPPORT"),
        F.max(F.when(F.col("ORG_TP") == "C", 1).otherwise(0)).alias("__any_corp"),
        F.max(F.when(F.col("ORG_TP") == "", 1).otherwise(0)).alias("__any_nonconn"),
    )
    # the reference's key universe is corp-keys UNION nonconn-keys; rows
    # whose ORG_TP is neither 'C' nor '' (e.g. 'L','M') never enter it
    agg = agg.filter((F.col("__any_corp") == 1) | (F.col("__any_nonconn") == 1)).drop("__any_corp", "__any_nonconn")
    return agg.join(F.broadcast(cands), "CAND_ID", "left").orderBy(
        F.desc("CORP_PAC_SUPPORT"), F.desc("NONCONNECTED_PAC_SUPPORT")
    )


def candidate_spine(cn: DataFrame, offices, target_year: str) -> DataFrame:
    """merge_support.py:120-189: office+year filter, dedup one row per
    (CAND_ID, CAND_ELECTION_YR) preferring has-PCC then status 'C',
    first-observed as final tiebreak."""
    cands = candidate_universe(cn, offices, target_year)
    cands = with_row_order(cands)
    cands = cands.withColumn(
        "__has_pcc", (F.length(F.coalesce("CAND_PCC", F.lit(""))) > 0).cast("int")
    ).withColumn("__is_status_C", (F.coalesce("CAND_STATUS", F.lit("")) == "C").cast("int"))
    spine = top1_per_group(
        cands,
        keys=["CAND_ID", "CAND_ELECTION_YR"],
        order=[F.desc("__has_pcc"), F.desc("__is_status_C"), F.asc("__file_order")],
    )
    return spine.select(
        "CAND_ID", "CAND_ELECTION_YR", "CAND_NAME", "CAND_PTY_AFFILIATION", "CAND_OFFICE", "CAND_OFFICE_ST"
    )


def collapse_support(df: DataFrame, keys, sum_cols) -> DataFrame:
    """merge_support.py:49-84: enforce one row per key by summing."""
    return df.na.fill({c: 0.0 for c in sum_cols}).groupBy(*keys).agg(*[F.sum(c).alias(c) for c in sum_cols])


def _has_usable_year(df: DataFrame) -> bool:
    """reference merge_support.py:238-242: a support input participates
    in the composite-key merge only if it carries at least one non-null
    CAND_ELECTION_YR (schema tolerance for year-less intermediates).
    take(1) is an early-exit scan of a small aggregated table when
    ``df`` is materialized, as ``run_pipeline``'s support tables are:
    the probe then reads a few hundred stored per-candidate rows. Over
    an unmaterialized plan it runs the whole upstream plan, fact scans
    included."""
    if "CAND_ELECTION_YR" not in df.columns:
        return False
    return len(df.filter(F.col("CAND_ELECTION_YR").isNotNull()).take(1)) > 0


def merge_support(
    cn: DataFrame,
    indiv: DataFrame,
    pac: DataFrame,
    superpac: DataFrame,
    offices,
    target_year: str,
) -> DataFrame:
    """merge_support.py:86-317 as one plan: spine LEFT JOIN the three
    support tables, fill, total, flag, sort.

    Merge-key selection mirrors merge_support.py:238-260: join on
    (CAND_ID, CAND_ELECTION_YR) only when EVERY support input has a
    usable year column; if any lacks one, fall back to a CAND_ID-only
    merge (dropping the year from the support side) instead of silently
    producing an empty join."""
    spine = candidate_spine(cn, offices, target_year)
    use_year = all(_has_usable_year(d) for d in (superpac, indiv, pac))
    keys = ["CAND_ID", "CAND_ELECTION_YR"] if use_year else ["CAND_ID"]

    def _prep(df: DataFrame) -> DataFrame:
        # fallback path: reference drops the year column from the
        # support side before the CAND_ID-only merge (:257-259)
        if not use_year and "CAND_ELECTION_YR" in df.columns:
            return df.drop("CAND_ELECTION_YR")
        return df

    indiv_c = collapse_support(_prep(indiv).select(*keys, "INDIVIDUAL_SUPPORT"), keys, ["INDIVIDUAL_SUPPORT"])
    pac_c = collapse_support(
        _prep(pac).select(*keys, "CORP_PAC_SUPPORT", "NONCONNECTED_PAC_SUPPORT"),
        keys,
        ["CORP_PAC_SUPPORT", "NONCONNECTED_PAC_SUPPORT"],
    )
    superpac_c = collapse_support(_prep(superpac).select(*keys, "SUPERPAC_IE_SUPPORT"), keys, ["SUPERPAC_IE_SUPPORT"])
    merged = horizontal_total(
        spine.join(indiv_c, keys, "left").join(pac_c, keys, "left").join(superpac_c, keys, "left"), SUPPORT_COLS
    )
    # asc_nulls_last: pandas sort_values puts NaN last (reference
    # merge_support.py:306); Spark's default asc puts NULL first
    return merged.orderBy(F.asc_nulls_last("CAND_OFFICE_ST"), F.desc("TOTAL_SUPPORT"))


def _materialize(df: DataFrame) -> DataFrame:
    """Persist ``df`` through the ``operators.caching`` registry and fill
    the cache with one ``count()``. Runs ONE Spark action (its jobs
    evaluate ``df``'s whole plan once); every later action over the
    returned frame, or over a plan built on it, reads the stored rows."""
    df = caching.cache(df)
    df.count()
    return df


def run_pipeline(inp: FecInputs, offices, target_year: str) -> dict[str, DataFrame]:
    """One office group end-to-end (the reference's 4-script sequence,
    run_all.py:24-27).

    Runs Spark jobs before it returns: one ``_materialize`` action each
    for ``individual_support``, ``superpac_ie_support`` and
    ``pac_support`` (the fact scans), then ``merge_support``'s three
    year probes over those stored tables, then one ``_materialize`` of
    the merged ``final``. The six returned frames are the four stored
    tables and two ``HAS_MONEY`` filters of ``final``, so writing them
    runs no fact scan. The tables stay cached until
    ``caching.release_all()`` (call it once the outputs are written) or
    until the registry's FIFO bound (``caching.MAX_REGISTERED``) pushes
    them out."""
    indiv = _materialize(individual_support(inp, offices, target_year))
    superpac = _materialize(superpac_ie_support(inp, offices, target_year))
    pac = _materialize(pac_support(inp, offices, target_year))
    final = _materialize(merge_support(inp.cn, indiv, pac, superpac, offices, target_year))
    return {
        "individual_support": indiv,
        "superpac_ie_support": superpac,
        "pac_support_corp_nonconnected": pac,
        "final_support_table": final.filter(F.col("HAS_MONEY") == 1),
        "candidates_no_support": final.filter(F.col("HAS_MONEY") == 0),
        "candidates_all_with_flag": final,
    }


def run_all_offices(inp: FecInputs, target_year: str) -> dict[str, dict[str, DataFrame]]:
    """The S / P / S+P triple from ONE computation: compute the total
    (offices={'S','P'}) and filter per office — every candidate has
    exactly one office, so senate+presidential IS a partition of total
    (the invariant validate_outputs.py:324-387 checks). Reference cost:
    3 full pipeline runs, 6 itpas2 scans. Here, on the unit fixture
    (tests/fec_fixture.py, 4 shuffle partitions), this call runs 50
    Spark jobs (``run_pipeline``'s four materializations and three year
    probes) and ``write_pipeline_outputs`` over its 18 outputs runs 18
    more, one per CSV, with no fact scan."""
    total = run_pipeline(inp, ("S", "P"), target_year)
    out = {"total": total}
    for label, office in (("senate", "S"), ("presidential", "P")):
        out[label] = {name: df.filter(F.col("CAND_OFFICE") == office) for name, df in total.items()}
    return out
