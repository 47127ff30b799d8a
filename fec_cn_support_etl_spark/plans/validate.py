"""The reference's validation suite (scripts/validate_outputs.py checks
1-10 and scripts/verify_data.py statistical envelopes) as reusable
DataFrame checks. Each returns (ok, details) without collecting more
than aggregates — runnable against outputs of any size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .fec_pipeline import SUPPORT_COLS


def check_key_uniqueness(df: DataFrame, keys=("CAND_ID", "CAND_ELECTION_YR")) -> tuple[bool, int]:
    """validate_outputs.py:130-147."""
    dups = df.groupBy(*keys).count().filter(F.col("count") > 1).count()
    return dups == 0, dups


def check_office_purity(df: DataFrame, offices) -> tuple[bool, int]:
    """validate_outputs.py:156-188."""
    bad = df.filter(~F.col("CAND_OFFICE").isin(list(offices))).count()
    return bad == 0, bad


def check_single_year(df: DataFrame, year: str) -> tuple[bool, int]:
    """validate_outputs.py:197-208."""
    bad = df.filter(F.col("CAND_ELECTION_YR") != year).count()
    return bad == 0, bad


def check_total_consistency(df: DataFrame, tol: float = 0.01) -> tuple[bool, int]:
    """TOTAL_SUPPORT == sum(categories) within $0.01
    (validate_outputs.py:237-246)."""
    total = None
    for c in SUPPORT_COLS:
        total = F.coalesce(F.col(c), F.lit(0.0)) if total is None else total + F.coalesce(F.col(c), F.lit(0.0))
    bad = df.filter(F.abs(F.col("TOTAL_SUPPORT") - total) >= tol).count()
    return bad == 0, bad


def check_flag_consistency(df: DataFrame) -> tuple[bool, int]:
    """HAS_MONEY == (TOTAL_SUPPORT > 0) (validate_outputs.py:268-274)."""
    bad = df.filter(F.col("HAS_MONEY") != (F.col("TOTAL_SUPPORT") > 0).cast("int")).count()
    return bad == 0, bad


def check_partition_completeness(funded: DataFrame, no_support: DataFrame, all_flag: DataFrame) -> tuple[bool, dict]:
    """final + no_support = all, by rows and by key sets
    (validate_outputs.py:297-321)."""
    n_f, n_n, n_a = funded.count(), no_support.count(), all_flag.count()
    overlap = funded.select("CAND_ID").intersect(no_support.select("CAND_ID")).count()
    missing = (
        all_flag.select("CAND_ID")
        .exceptAll(funded.select("CAND_ID").unionByName(no_support.select("CAND_ID")))
        .count()
    )
    ok = (n_f + n_n == n_a) and overlap == 0 and missing == 0
    return ok, {"funded": n_f, "no_support": n_n, "all": n_a, "overlap": overlap, "missing": missing}


def check_office_additivity(senate: DataFrame, presidential: DataFrame, total: DataFrame, tol=0.01) -> tuple[bool, dict]:
    """senate + presidential = total: rows, disjoint IDs, dollars
    (validate_outputs.py:339-387)."""
    n_s, n_p, n_t = senate.count(), presidential.count(), total.count()
    inter = senate.select("CAND_ID").intersect(presidential.select("CAND_ID")).count()
    d_s = senate.agg(F.sum("TOTAL_SUPPORT")).collect()[0][0] or 0.0
    d_p = presidential.agg(F.sum("TOTAL_SUPPORT")).collect()[0][0] or 0.0
    d_t = total.agg(F.sum("TOTAL_SUPPORT")).collect()[0][0] or 0.0
    ok = (n_s + n_p == n_t) and inter == 0 and abs(d_s + d_p - d_t) < tol
    return ok, {"rows": (n_s, n_p, n_t), "id_overlap": inter, "dollars": (d_s, d_p, d_t)}


def check_intermediate_containment(final: DataFrame, intermediates: dict[str, DataFrame]) -> tuple[bool, dict]:
    """Check 9 (validate_outputs.py:390-408): every CAND_ID appearing
    in an intermediate support table must appear in the funded final
    table (intermediates only hold candidates with money)."""
    fin = final.select("CAND_ID").distinct()
    details = {}
    for name, df in intermediates.items():
        details[name] = df.select("CAND_ID").distinct().join(fin, "CAND_ID", "left_anti").count()
    return all(v == 0 for v in details.values()), details


def stats_summary(df: DataFrame) -> dict:
    """Summary statistics (validate_outputs.py:411-439): candidate
    count, total/mean/median/max support, per-category dollar share.
    One aggregate job, no per-row collect."""
    aggs = [
        F.count("*").alias("candidates"),
        F.sum("TOTAL_SUPPORT").alias("total"),
        F.avg("TOTAL_SUPPORT").alias("mean"),
        F.percentile_approx("TOTAL_SUPPORT", 0.5).alias("median"),
        F.max("TOTAL_SUPPORT").alias("max"),
    ] + [F.sum(c).alias(f"sum_{c}") for c in SUPPORT_COLS]
    row = df.agg(*aggs).collect()[0].asDict()
    total = row["total"] or 0.0
    row["breakdown_pct"] = {
        c: (100.0 * (row[f"sum_{c}"] or 0.0) / total) if total > 0 else 0.0 for c in SUPPORT_COLS
    }
    return row


def spot_check_top_candidates(df: DataFrame, k: int = 5) -> list[dict]:
    """Check 10 (validate_outputs.py:442-461): top-k candidates by
    TOTAL_SUPPORT for manual verification (deterministic tiebreak)."""
    cols = ["CAND_ID", "CAND_NAME", "CAND_OFFICE", "CAND_OFFICE_ST", "TOTAL_SUPPORT"]
    rows = df.orderBy(F.desc("TOTAL_SUPPORT"), F.asc("CAND_ID")).limit(k).select(*cols).collect()
    return [r.asDict() for r in rows]


def check_top_anomalies(
    df: DataFrame, k: int = 50, max_zero_indiv: int = 5
) -> tuple[bool, dict]:
    """verify_data.py test 5 (:191-207): the top-``k`` candidates by
    TOTAL_SUPPORT must have no $0 totals (hard error), and more than
    ``max_zero_indiv`` of them with $0 individual support is anomalous
    (the reference warns; we fail). One top-k (orderBy + limit over the
    candidate-dim-sized output) + one aggregate — no per-row collect."""
    top = df.orderBy(F.desc("TOTAL_SUPPORT"), F.asc("CAND_ID")).limit(k)
    row = top.agg(
        F.sum((F.col("TOTAL_SUPPORT") == 0).cast("int")).alias("zero_total"),
        F.sum((F.coalesce(F.col("INDIVIDUAL_SUPPORT"), F.lit(0.0)) == 0).cast("int")).alias("zero_indiv"),
    ).collect()[0]
    zero_total = int(row["zero_total"] or 0)
    zero_indiv = int(row["zero_indiv"] or 0)
    ok = zero_total == 0 and zero_indiv <= max_zero_indiv
    return ok, {"zero_total_in_top": zero_total, "zero_indiv_in_top": zero_indiv, "k": k}


def check_expected_candidates(
    df: DataFrame, expected_ids, k: int = 10
) -> tuple[bool, dict]:
    """verify_data.py test 10 (:303-315): every expected CAND_ID (the
    cycle's known top fundraisers) must be present in the output (hard
    error when missing, as in the reference); additionally reports which
    of them made the top-``k`` — the reference prints the top-10 for the
    same eyeball check."""
    expected = list(expected_ids)
    if not expected:
        return True, {"missing": [], "in_top_k": []}
    present = {
        r["CAND_ID"]
        for r in df.select("CAND_ID")
        .join(df.sparkSession.createDataFrame([(c,) for c in expected], ["CAND_ID"]), "CAND_ID", "left_semi")
        .distinct()
        .collect()
    }
    top_ids = {
        r["CAND_ID"]
        for r in df.orderBy(F.desc("TOTAL_SUPPORT"), F.asc("CAND_ID")).limit(k).select("CAND_ID").collect()
    }
    missing = sorted(set(expected) - present)
    return not missing, {"missing": missing, "in_top_k": sorted(set(expected) & top_ids), "k": k}


def check_golden_envelope(
    total: DataFrame,
    senate: DataFrame,
    presidential: DataFrame,
    envelope: dict,
) -> tuple[bool, list[str]]:
    """The verify_data.py envelope runner (:40-180) with the hard-coded
    2016/2020 ranges lifted into a parameter:

    envelope = {
      "total_money": (lo, hi), "candidates": (lo, hi),            # test 1
      "indiv_pct": (lo, hi), "superpac_pct": (lo, hi),            # test 2
      "pres_money_pct": (lo, hi),                                 # test 3
      "known": [(cand_id, lo, hi), ...],                          # test 4
    }
    Any key may be omitted. Returns (ok, [violation messages])."""
    problems: list[str] = []
    s = stats_summary(total)
    money, n = s["total"] or 0.0, s["candidates"]

    def rng(key, value, label):
        if key in envelope:
            lo, hi = envelope[key]
            if not (lo < value < hi):
                problems.append(f"{label} {value:,.2f} outside ({lo:,}, {hi:,})")

    rng("total_money", money, "total money")
    rng("candidates", n, "candidate count")
    if money > 0:
        rng("indiv_pct", s["breakdown_pct"]["INDIVIDUAL_SUPPORT"], "individual %")
        rng("superpac_pct", s["breakdown_pct"]["SUPERPAC_IE_SUPPORT"], "superpac %")
        pres_money = presidential.agg(F.sum("TOTAL_SUPPORT")).collect()[0][0] or 0.0
        rng("pres_money_pct", 100.0 * pres_money / money, "presidential %")
    if envelope.get("known"):
        known = {
            r["CAND_ID"]: r["t"]
            for r in total.groupBy("CAND_ID").agg(F.sum("TOTAL_SUPPORT").alias("t")).join(
                total.sparkSession.createDataFrame(
                    [(c,) for c, _, _ in envelope["known"]], ["CAND_ID"]
                ),
                "CAND_ID",
                "left_semi",
            ).collect()
        }
        for cand_id, lo, hi in envelope["known"]:
            if cand_id not in known:
                problems.append(f"known candidate {cand_id} missing from output")
            elif not (lo < known[cand_id] < hi):
                problems.append(f"{cand_id}: {known[cand_id]:,.2f} outside ({lo:,}, {hi:,})")
    return not problems, problems


def run_all_checks(
    outputs: dict[str, DataFrame], offices, year: str, expected_ids=()
) -> dict[str, tuple]:
    """Mirror of validate_outputs.main over one office group's outputs
    (checks 1-7, 9, 10; check 8 = office additivity needs the three
    office groups — ``check_office_additivity``) plus verify_data's
    anomaly tests 5 and 10 (``expected_ids``: the cycle's known top
    fundraisers, empty = skip the membership check)."""
    allf = outputs["candidates_all_with_flag"]
    return {
        "top_anomalies": check_top_anomalies(outputs["final_support_table"]),
        "expected_candidates": check_expected_candidates(allf, expected_ids),
        "key_uniqueness": check_key_uniqueness(allf),
        "office_purity": check_office_purity(allf, offices),
        "single_year": check_single_year(allf, year),
        "total_consistency": check_total_consistency(allf),
        "flag_consistency": check_flag_consistency(allf),
        "partition_completeness": check_partition_completeness(
            outputs["final_support_table"], outputs["candidates_no_support"], allf
        ),
        "intermediate_containment": check_intermediate_containment(
            outputs["final_support_table"],
            {
                k: outputs[k]
                for k in ("individual_support", "superpac_ie_support", "pac_support_corp_nonconnected")
                if k in outputs
            },
        ),
        "stats_summary": (True, stats_summary(allf)),
        "top_candidates": (True, spot_check_top_candidates(outputs["final_support_table"])),
    }
