"""Physical-plan assertions: the plans must be the ones we'd want at
100 TB — filters pushed to the parquet scan, columns pruned, dims
broadcast, aggregates partial+final inside whole-stage codegen."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fec_cn_support_etl_spark.plans import catalog

SF = "/root/testdata/sf0.001"


def plan(spark, name: str) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        catalog.QUERIES[name](spark, SF).explain("formatted")
    return buf.getvalue()


def exchange_kinds(p: str) -> list[str]:
    """Sorted partitioning kinds of the plan's Exchanges. The tree slice
    of a formatted explain names nodes only; each Exchange's
    partitioning is in its "(n) Exchange ... Arguments:" detail block,
    so read it from there and check it covers every Exchange the tree
    counts (a BroadcastExchange has no such block, so a plan that picks
    one up fails here)."""
    import re

    tree = p.split("(1) Scan")[0]
    kinds = re.findall(r"^\(\d+\) Exchange\n(?:.*\n)*?Arguments: (\w+)\(", p, re.M)
    assert len(kinds) == tree.count("Exchange"), tree
    return sorted(kinds)


def test_filter_pushdown_reaches_scan(spark):
    p = plan(spark, "filter_project_pushdown")
    assert "PushedFilters:" in p
    assert "l_quantity" in p.split("PushedFilters:")[1].splitlines()[0]


def test_column_pruning(spark):
    p = plan(spark, "filter_project_pushdown")
    read_schema = p.split("ReadSchema:")[1].splitlines()[0]
    # only the needed columns reach the scan — l_tax/l_returnflag must not
    assert "l_tax" not in read_schema and "l_returnflag" not in read_schema


def test_dims_are_broadcast(spark):
    p = plan(spark, "broadcast_enrich_join")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_semi_join_stays_semi(spark):
    p = plan(spark, "semi_join_exists")
    assert "LeftSemi" in p


def test_agg_is_partial_then_final(spark):
    p = plan(spark, "q1_pricing_summary")
    assert p.count("HashAggregate") >= 2  # partial + final
    assert "partial_sum" in p  # map-side combine before the exchange
    tree = p.split("(1) Scan")[0]
    assert tree.count("Exchange") == 1  # exactly one shuffle


def test_fec_final_single_fact_scan(spark):
    """The flagship reads lineitem exactly once (the reference's 6-scan
    pipeline collapsed)."""
    p = plan(spark, "fec_final_support_analog")
    assert p.count("lineitem.parquet") == 1


def test_lww_no_python_in_plan(spark):
    p = plan(spark, "top1_per_group_lww")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


# Queries whose every join side scales with the fact tables (orders /
# customer / supplier / lineitem-derived). None may carry a broadcast
# *hint*: the strategy must be size-driven so that at 100 TB Catalyst
# degrades to sort-merge/shuffled-hash instead of OOMing a build side.
FACT_SCALE_QUERIES = [
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q12_shipmode_priority",
    "q18_large_volume_customer",
    "conditional_pivot_agg",
    "broadcast_enrich_join",
    "fec_individual_support_analog",
    "fec_final_support_analog",
]


@pytest.mark.parametrize("name", FACT_SCALE_QUERIES)
def test_no_forced_broadcast_on_fact_joins(spark, name):
    """With the size threshold disabled, nothing may broadcast: a
    BroadcastHashJoin surviving threshold=-1 can only come from a
    hard-coded hint (hints override the threshold) — the exact failure
    mode that OOMs a 1000-executor cluster when the 'lookup' side is
    fact-scaled."""
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        p = plan(spark, name)
        assert "BroadcastHashJoin" not in p, f"{name} forces a broadcast via hint"
        assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)


@pytest.mark.parametrize(
    "name",
    [
        "minhash_neardup_pairs",
        "simhash_neardup_pairs",
        "doc_fingerprints",
        "ann_ivf_topk",
        "ann_lsh_bucketed_topk",
        "text_quality_score",
        "text_lang_id",
        "salted_skew_agg",
        "ngram_decontaminate",
        "text_repetition_score",
        "pii_redact",
    ],
)
def test_sketch_and_text_plans_stay_jvm_side(spark, name):
    """The entire sketch/text family must run inside codegen — no
    row-at-a-time or Arrow Python evaluation anywhere in the plan
    (the int-plane/centroid rewrites made even the ANN bucketing pure
    Column expressions)."""
    p = plan(spark, name)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_bucketed_join_avoids_shuffle(spark):
    """Co-located join: both sides written bucketed+sorted on the join
    key -> the equi-join plan has NO Exchange (and no extra Sort) even
    with broadcast disabled. This is the 100TB pattern for repeated
    fact-to-fact joins."""
    import contextlib
    import io

    from fec_cn_support_etl_spark.operators.joins import write_bucketed
    from fec_cn_support_etl_spark.sources.tpch import load_table

    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, SF, "orders").select(F.col("o_orderkey").alias("l_orderkey"), "o_totalprice")
    write_bucketed(li, "li_bkt", ["l_orderkey"], 8, sort_cols=["l_orderkey"])
    write_bucketed(o, "o_bkt", ["l_orderkey"], 8, sort_cols=["l_orderkey"])
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("li_bkt").join(spark.table("o_bkt"), "l_orderkey")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        p = buf.getvalue()
        assert "SortMergeJoin" in p
        assert "Exchange" not in p, "bucketed join must not shuffle"
        # same-key aggregation is exchange-free too (partial==final)
        buf2 = io.StringIO()
        with contextlib.redirect_stdout(buf2):
            spark.table("li_bkt").groupBy("l_orderkey").count().explain("formatted")
        assert "Exchange" not in buf2.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        spark.sql("DROP TABLE IF EXISTS li_bkt")
        spark.sql("DROP TABLE IF EXISTS o_bkt")


@pytest.mark.parametrize("name", ["q3_shipping_priority", "q5_local_supplier_volume"])
def test_size_based_broadcast_still_kicks_in(spark, name):
    """Same queries under the default 64MB threshold at tiny sf: the
    small sides get broadcast by SIZE (no shuffle of the dims) — the
    hint removal trades nothing away at test scale."""
    p = plan(spark, name)
    assert "BroadcastHashJoin" in p


def test_q19_disjunction_pushes_to_both_scans(spark):
    """Q19's OR-of-ANDs spans both join sides; Catalyst must still
    extract the deducible per-side disjunctions and push them into the
    parquet scans (PushExtraPredicateThroughJoin) — at 100 TB this is
    the difference between scanning the filtered slivers and shipping
    both full tables into the join."""
    p = plan(spark, "q19_disjunctive_revenue")
    scans = p.split("Scan parquet")[1:]
    li_scan = next(s for s in scans if "lineitem.parquet" in s)
    part_scan = next(s for s in scans if "part.parquet" in s)
    li_pushed = li_scan.split("PushedFilters:")[1].splitlines()[0]
    part_pushed = part_scan.split("PushedFilters:")[1].splitlines()[0]
    assert "l_quantity" in li_pushed and "Or(" in li_pushed
    assert "p_brand" in part_pushed and "Or(" in part_pushed


def test_q10_topk_no_global_sort(spark):
    """The ORDER BY ... LIMIT 20 must compile to TakeOrderedAndProject
    (per-partition heap + driver merge), not a full global Sort."""
    p = plan(spark, "q10_returned_items")
    assert "TakeOrderedAndProject" in p


def test_asof_join_single_shuffle_no_python(spark):
    """The as-of composition must cost ONE hash shuffle on the key (the
    window), like a sort-merge join — and never a range/cross join or
    Python eval."""
    p = plan(spark, "asof_join_last_purchase")
    tree = p.split("(1) Scan")[0]
    assert tree.count("Exchange") == 1
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "EvalPython" not in p


def test_range_join_is_equi_not_cross(spark):
    """The binned range join must plan as an EQUI join on (key, bin) —
    Spark's native plan for a non-equi interval condition is a
    nested-loop cross product, which is the scale-killer this operator
    exists to avoid."""
    p = plan(spark, "range_join_error_windows")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "Join" in p  # a real equi join (BHJ or SMJ) survived


def test_topk_prunes_map_side(spark):
    """topk_per_group's rank filter must push a WindowGroupLimit BELOW
    the exchange (map-side per-key top-k prune) — the skew guard that
    keeps a hot key from shipping every row to one reducer."""
    p = plan(spark, "topk_per_group")
    tree = p.split("(1) Scan")[0]
    exch = tree.index("Exchange")
    below = tree[exch:]
    assert "WindowGroupLimit" in below, "no map-side WindowGroupLimit under the exchange"


def test_curation_pipeline_single_scan(spark):
    """The composed curation pipeline (quality -> lang -> sample ->
    dedup) must fuse into ONE documents scan with one DATA shuffle (the
    dedup window on the content digest) — composition must not
    re-scan per stage. The round-7 ``spread`` of the one-row-group scan
    is allowed as ONE extra round-robin exchange (it parallelizes the
    regex feature compute and is a no-op on any properly split input);
    every remaining exchange must be the single hash shuffle."""
    p = plan(spark, "curation_pipeline")
    assert p.count("documents.parquet") == 1
    assert p.count("hashpartitioning(") == 1
    # no exchanges beyond the hash shuffle + the (optional) scan spread
    assert exchange_kinds(p) in (["hashpartitioning"], ["RoundRobinPartitioning", "hashpartitioning"])


def test_time_rollup_single_pass(spark):
    """Both rollup granularities (hour + day) must come from ONE events
    scan via Expand — not one scan per materialized granularity."""
    p = plan(spark, "time_bucket_rollup")
    assert p.count("events.parquet") == 1
    assert "Expand" in p
    tree = p.split("(1) Scan")[0]
    assert tree.count("Exchange") == 1


def test_decontaminate_eval_grams_broadcast_semi(spark):
    """The eval-slice gram set is tiny relative to the training corpus;
    the membership probe must be a BROADCAST left-semi (training grams
    never shuffle for the join — the only full shuffle the query is
    allowed is the final per-doc aggregate)."""
    p = plan(spark, "ngram_decontaminate")
    assert "BroadcastHashJoin" in p and "LeftSemi" in p
    assert "SortMergeJoin" not in p


def test_repetition_score_partial_combines_before_both_shuffles(spark):
    """One documents scan, exactly two exchanges, and BOTH aggregate
    levels must map-side combine below their exchange: the
    (doc_id, gram) shuffle carries partial_count-combined gram counts
    (duplicate grams — the operator's hot case — collapse before the
    wire) and the doc_id shuffle carries per-partition partial
    sum/count/max rows, not per-gram rows."""
    p = plan(spark, "text_repetition_score")
    assert p.count("documents.parquet") == 1
    # + the (optional) round-robin spread of the one-row-group scan (r7)
    assert exchange_kinds(p) in (
        ["hashpartitioning", "hashpartitioning"],
        ["RoundRobinPartitioning", "hashpartitioning", "hashpartitioning"],
    )
    assert p.count("hashpartitioning(") == 2
    assert p.count("partial_count") >= 2 and "partial_sum" in p and "partial_max" in p


def test_q15_max_attached_by_broadcast_not_window(spark):
    """The quarterly max must attach as a broadcast 1-row aggregate:
    an unpartitioned window would sort every supplier's revenue in one
    task (same rule the skew kit enforces for detect_hot_keys)."""
    p = plan(spark, "q15_top_supplier")
    assert "Window" not in p
    assert "BroadcastExchange" in p


def test_q22_uses_anti_join_and_broadcast_average(spark):
    """NOT EXISTS must lower to a left-anti join (never a per-row
    subquery), and the above-average cutoff attaches as a broadcast
    1-row aggregate, not a window."""
    p = plan(spark, "q22_sales_opportunity")
    assert "LeftAnti" in p
    assert "Window" not in p


def test_q7_nation_dims_broadcast(spark):
    """Both nation join instances are constant-size dims — they must
    broadcast; the fact side must never be broadcast."""
    p = plan(spark, "q7_volume_shipping")
    assert p.count("BroadcastHashJoin") >= 2


def test_rank_functions_share_one_window(spark):
    """dense_rank/ntile/percent_rank/cume_dist share one window spec —
    the plan must contain exactly ONE Window node (one partition+sort
    pass), not one per function."""
    p = plan(spark, "window_rank_functions")
    assert p.count("(") > 0 and p.count("Window") >= 1
    # formatted explain prints one numbered Window operator per node
    import re

    nodes = re.findall(r"\(\d+\) Window", p)
    assert len(nodes) == 1, f"expected 1 Window node, plan has {len(nodes)}"


def test_pack_sequences_shard_local_no_global_sort(spark):
    """Packing must be shard-local: the running-sum window partitions by
    source, so the plan may hash-exchange but NEVER range-exchange (a
    rangepartitioning node would mean a global sort — the thing the
    shard design exists to avoid at 100 TB); the per-doc state crossing
    the wire is (doc_id, source, tok), never text (column-pruned scan)."""
    p = plan(spark, "pack_sequences")
    assert "rangepartitioning" not in p.lower()
    assert "documents.parquet" in p and p.count("documents.parquet") == 1
    # ONE data exchange total: the window's hash on source; the final
    # (source, bin) aggregate reuses that partitioning (source alone
    # already co-locates every (source, bin) group). The round-7
    # round-robin spread of the one-row-group scan is allowed.
    assert exchange_kinds(p) in (["hashpartitioning"], ["RoundRobinPartitioning", "hashpartitioning"])
    assert p.count("hashpartitioning(") == 1
    assert "hashpartitioning(source" in p
    assert "Window" in p


def test_word_freq_model_probe_is_broadcast(spark):
    """The unigram model is vocabulary-sized; the training corpus'
    exploded tokens must probe it via BROADCAST left-outer (no
    SortMergeJoin — the corpus never shuffles for the join), and both
    the model aggregate and the per-doc rollup must partial-combine."""
    p = plan(spark, "word_freq_model_score")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "partial_count" in p and "partial_sum" in p and "partial_min" in p


def test_quantile_rank_audit_joins_by_broadcast(spark):
    """The per-group quantile table is tiny; the rank audit must join it
    back to the fact by BROADCAST (the events relation never shuffles
    for the join) and both aggregates must partial-combine."""
    p = plan(spark, "approx_quantile_rank_bound")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "partial_percentile_approx" in p and "partial_sum" in p


def test_runtime_bloom_filter_lands_on_fact_side(spark):
    """bloom_pruned_join under the demo thresholds: InjectRuntimeFilter
    must put a bloom might_contain on the lineitem (fact) side before
    its shuffle; under session defaults the same query plans WITHOUT
    the filter (10GB application threshold) and both produce identical
    results — the filter is pure pruning."""
    from fec_cn_support_etl_spark.plans.bloom_demo import (
        BLOOM_DEMO_CONFS,
        has_runtime_bloom,
        promo_brand_revenue,
        scoped_confs,
    )

    plain = promo_brand_revenue(spark, SF)
    assert not has_runtime_bloom(plain), "defaults must not inject at 10GB threshold"
    rows_plain = {tuple(r) for r in plain.collect()}
    with scoped_confs(spark, BLOOM_DEMO_CONFS):
        filtered = promo_brand_revenue(spark, SF)
        assert has_runtime_bloom(filtered), "demo thresholds must inject the bloom"
        opt = filtered._jdf.queryExecution().optimizedPlan().toString()
        # the might_contain guards the FACT column pre-shuffle, and the
        # bloom is BUILT from the filtered dim keys
        assert "xxhash64(l_partkey" in opt.split("might_contain", 1)[1].splitlines()[0]
        assert "bloom_filter_agg(xxhash64(p_partkey" in opt
        rows_bloom = {tuple(r) for r in filtered.collect()}
    assert rows_plain == rows_bloom
    # and the session is restored: a fresh plan has no bloom again
    assert not has_runtime_bloom(promo_brand_revenue(spark, SF))


def test_scd2_history_single_exchange(spark):
    """The whole SCD2 build (collapse no-ops, renumber versions, close
    out intervals) must ride ONE hash exchange on the business key: both
    windows share (user_id, event_id) partitioning/ordering, so Catalyst
    reuses the sort. A second exchange or a rangepartitioning node would
    mean the collapse and the renumber were planned as separate shuffles
    — the thing that doubles wire volume on a 100-TB change log."""
    p = plan(spark, "scd2_dimension_history")
    tree = p.split("(1) Scan")[0]
    assert tree.count("Exchange") == 1, p
    assert "rangepartitioning" not in p.lower()
    import re

    assert len(re.findall(r"\(\d+\) Sort", p)) == 1, "windows must share one sort"
    assert "hashpartitioning(user_id" in p


def test_bm25_corpus_stats_broadcast_topk_pruned(spark):
    """The corpus-level (N, sum_dl, df_i) aggregate is ONE row and must
    come back as a broadcast nested-loop join (q22's average pattern),
    never a shuffle of the per-doc stats; the top-100 must be a
    TakeOrderedAndProject (map-side pruned), never a rangepartitioning
    global sort — at 100 TB a global sort for a LIMIT 100 is the
    classic planner failure."""
    p = plan(spark, "bm25_doc_ranking")
    assert "TakeOrderedAndProject" in p
    assert "BroadcastNestedLoopJoin" in p
    assert "rangepartitioning" not in p.lower()


def test_kmeans_assign_broadcasts_centroids_no_corpus_shuffle(spark):
    """kmeans_assign must broadcast the centroids (k x dim) and score
    the corpus in place: no Exchange may sit between the embeddings
    scan and the join, no Python UDF anywhere, and the argmax must be
    the map-side-pruned WindowGroupLimit."""
    p = plan(spark, "embedding_kmeans_assign")
    assert "PythonUDF" not in p and "BatchEvalPython" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "WindowGroupLimit" in p
    # corpus side feeds the join directly from the scan: the only
    # Exchange allowed before the window is the broadcast one
    pre_window = p.split("Window")[0]
    assert pre_window.count("Exchange") == pre_window.count("BroadcastExchange")


def test_heavy_hitters_all_jvm_partial_combined(spark):
    """The heavy-hitters pipeline is pure JVM DataFrame algebra: no
    Python UDF; the shard-local count partial-combines below its
    exchange (partial_count before Exchange); the per-shard top-keep
    is a WindowGroupLimit (map-side pruned)."""
    p = plan(spark, "heavy_hitters_guaranteed")
    assert "PythonUDF" not in p and "BatchEvalPython" not in p
    assert "WindowGroupLimit" in p
    assert "partial_count" in p or "partial, count" in p or "HashAggregate" in p
