"""Physical-plan shape assertions (SURVEY.md §4.2-§4.3).

Correctness says what is computed; these tests pin HOW — the plan
properties that decide whether an operator survives a 100× scale-up:
filters pushed to the parquet scan, columns pruned, dims broadcast,
global top-k as TakeOrderedAndProject, whole-stage codegen engaged.
"""

from __future__ import annotations

import re

import pytest

from systematic_review_classification_spark import all_queries
from tests.harness import plan_of

QUERIES = all_queries()


def test_scan_pushdown_and_pruning(spark, sf_dir):
    plan = plan_of(QUERIES["scan_parquet"](spark, sf_dir))
    assert "PushedFilters" in plan and "GreaterThan(l_quantity,45.0)" in plan, plan
    # projection prunes to the 4 referenced columns
    assert "l_tax" not in plan and "l_shipdate" not in plan, plan


def test_flagship_pushdown(spark, sf_dir):
    plan = plan_of(QUERIES["agg_pricing_summary"](spark, sf_dir))
    assert "PushedFilters" in plan and "LessThanOrEqual(l_shipdate" in plan, plan
    assert "l_partkey" not in plan, "ReadSchema should prune unused columns"


def test_broadcast_join_plan(spark, sf_dir):
    plan = plan_of(QUERIES["join_broadcast"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_multiway_all_broadcast(spark, sf_dir):
    plan = plan_of(QUERIES["join_multiway"](spark, sf_dir))
    # formatted mode prints each node in tree + detail → 2x per join
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan, "dims must broadcast, not shuffle the fact"


def test_sortmerge_hint_respected(spark, sf_dir):
    plan = plan_of(QUERIES["join_sortmerge"](spark, sf_dir))
    assert "SortMergeJoin" in plan, plan


def test_shuffle_hash_hint_respected(spark, sf_dir):
    plan = plan_of(QUERIES["join_shuffle_hash"](spark, sf_dir))
    assert "ShuffledHashJoin" in plan, plan


def test_topk_is_take_ordered(spark, sf_dir):
    plan = plan_of(QUERIES["limit_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("Exchange") == 0, "global top-k must not shuffle"


def test_codegen_engaged(spark, sf_dir):
    df = QUERIES["agg_pricing_summary"](spark, sf_dir)
    plan = plan_of(df, "codegen")
    assert "WholeStageCodegen" in plan, plan


def test_partial_aggregation(spark, sf_dir):
    plan = plan_of(QUERIES["agg_pricing_summary"](spark, sf_dir))
    # partial (map-side) agg before the exchange, final after
    assert plan.count("HashAggregate") >= 2, plan


@pytest.mark.parametrize(
    ("key", "n_hinted_dims"),
    [
        ("wl_q3", 0),
        ("wl_q5", 2),
        ("wl_q10", 1),
        ("wl_q4_late", 0),
        ("wl_q14_promo", 0),
        ("wl_q7_volume", 2),
        ("wl_q8_share", 3),
        ("wl_q12_late", 0),
        ("wl_q13_custdist", 0),
        ("wl_q17_smallqty", 0),
        ("wl_q19_disjunct", 0),
        ("wl_q21_waiting", 0),
    ],
)
def test_workload_no_fact_broadcast(spark, sf_dir, key, n_hinted_dims):
    """No fact table may be FORCED to broadcast. With auto-broadcast
    disabled, the only BroadcastExchanges left are the explicit hints,
    which go exclusively on bounded dims (nation=25, region=5 rows) —
    so at 100 TB nothing unbounded ever lands on the broadcast path.
    lineitem⋈orders must fall back to a shuffle join, not ride a hint.
    """
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(QUERIES[key](spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # formatted mode prints each node in tree + detail → 2x per node
    n_bhj = plan.count("BroadcastHashJoin") // 2
    assert n_bhj == n_hinted_dims, (
        f"{key}: expected {n_hinted_dims} hint-broadcast dims, plan has "
        f"{n_bhj} broadcast joins\n{plan}"
    )
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, (
        f"{key}: fact⋈fact must shuffle when broadcast is off\n{plan}"
    )


@pytest.mark.parametrize("key", ["ml_eval_auc", "ml_eval_wss95"])
def test_ml_metrics_distributed_rank(spark, sf_dir, key):
    """The ranking metrics must use the two-pass range rank: a
    RangePartitioning exchange (contiguous score slices per partition)
    with within-partition windows keyed on the partition id — never a
    global all-rows-to-one-reducer sort window."""
    plan = plan_of(QUERIES[key](spark, sf_dir))
    assert "rangepartitioning" in plan.lower(), plan
    assert "windowspecdefinition(_pid" in plan, (
        "per-row windows must be partitioned by the range-partition id\n" + plan
    )


def test_rank_screen_topk_pre_limit(spark, sf_dir):
    """ml_rank_screen must pre-select the global top-100 via
    TakeOrderedAndProject (per-partition top-k merge) so the window
    only ever sees a bounded input."""
    plan = plan_of(QUERIES["ml_rank_screen"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_label_index_windows_aggregate_only(spark, sf_dir):
    """ml_label_index's rank window runs over the aggregated label
    table and broadcasts the tiny index back onto the corpus — the
    Window node must sit above a HashAggregate, and the join must be a
    broadcast."""
    plan = plan_of(QUERIES["ml_label_index"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    tree = plan.split("\n\n")[0]
    win_pos = tree.find("Window")
    agg_pos = tree.find("HashAggregate", win_pos)
    assert win_pos != -1 and agg_pos != -1, (
        "rank window must consume the aggregated frequency table\n" + plan
    )


def test_bucketed_join_no_shuffle(spark, sf_dir):
    df = QUERIES["join_bucketed"](spark, sf_dir)
    plan = plan_of(df)
    assert "SortMergeJoin" in plan, plan
    # bucket layout feeds the join directly: no Exchange below the join
    join_part = plan.split("SortMergeJoin")[0]
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    assert "SelectedBucketsCount" in plan, plan


@pytest.mark.parametrize("key", ["dedup_simhash_band", "dedup_minhash_portable"])
def test_selfjoin_signature_reuse(spark, sf_dir, key):
    """The LSH banding self-joins read the signature pipeline twice in
    the logical plan; at runtime AQE must REUSE the shuffle output so
    the expensive token-explode signature computation runs once."""
    df = QUERIES[key](spark, sf_dir)
    df.collect()  # finalize the adaptive plan
    plan = plan_of(df, "simple")
    n_reuse = plan.count("ReusedExchange") + plan.count("ReusedQueryStage")
    assert n_reuse >= 1, f"{key}: signature exchange not reused\n{plan}"


def test_partitioned_sink_readback_prunes(spark, sf_dir, tmp_path):
    """A hive-partitioned parquet sink must give downstream readers
    partition pruning: filtering on the partition column shows up as
    PartitionFilters on the scan (whole directories skipped — the
    layout lever that matters most at 100 TB), not a post-scan filter."""
    from systematic_review_classification_spark.sources.tables import load
    import pyspark.sql.functions as F

    out = f"{tmp_path}/li_part"
    (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_returnflag")
        .write.partitionBy("l_returnflag")
        .parquet(out)
    )
    df = spark.read.parquet(out).filter(F.col("l_returnflag") == "R")
    plan = plan_of(df)
    assert "PartitionFilters: [" in plan, plan
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "l_returnflag" in m.group(1), (
        "partition-column filter must prune directories\n" + plan
    )


def test_disjunctive_predicates_still_push(spark, sf_dir):
    """wl_q19's top-level OR must not defeat pushdown: Catalyst factors
    the single-side conjuncts out of the disjunction, so BOTH scans
    carry an Or(...) PushedFilters entry (brand/size envelope on part,
    quantity envelope on lineitem) instead of filtering post-join."""
    import re

    plan = plan_of(QUERIES["wl_q19_disjunct"](spark, sf_dir))
    pushed = re.findall(r"PushedFilters: \[[^\]]*\]", plan)
    with_or = [p for p in pushed if "Or(" in p]
    assert len(with_or) >= 2, f"both scans must push the factored OR\n{plan}"


def test_custdist_reuses_join_partitioning(spark, sf_dir):
    """wl_q13's per-customer count must reuse the left join's hash
    partitioning on custkey: with broadcast off, the whole plan has
    exactly 3 shuffles (two join inputs + the tiny histogram
    re-aggregation) — no extra Exchange between join and first
    groupBy."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(QUERIES["wl_q13_custdist"](spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange (") == 3, tree


def test_waiting_suppliers_semi_anti_decorrelation(spark, sf_dir):
    """wl_q21's EXISTS / NOT EXISTS must decorrelate to semi/anti
    joins (never a row-widening inner join + distinct, never a nested
    loop): the plan contains LeftSemi and LeftAnti joins and no
    cartesian fallback."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(QUERIES["wl_q21_waiting"](spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_decontaminate_broadcasts_bench_grams(spark, sf_dir):
    """dedup_decontaminate must never do train×train pairwise work:
    the contamination check is a broadcast LeftSemi of the (small)
    benchmark gram set against the linear train-side gram explode."""
    plan = plan_of(QUERIES["dedup_decontaminate"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "LeftSemi" in plan and "BroadcastExchange" in plan, plan


def test_domain_mix_filter_is_map_side(spark, sf_dir):
    """wl_domain_mix's sampling coin must be a map-side filter: exactly
    one Exchange in the plan (the final per-source count) — the
    hash-coin decision itself never shuffles."""
    plan = plan_of(QUERIES["wl_domain_mix"](spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange (") == 1, tree


def test_pack_sequences_window_is_sharded(spark, sf_dir):
    """wl_pack_sequences' running token sum must be partitioned by the
    shard key — a global unpartitioned window would funnel the corpus
    through one reducer."""
    plan = plan_of(QUERIES["wl_pack_sequences"](spark, sf_dir))
    assert "windowspecdefinition(source" in plan, plan


def test_chunking_is_shuffle_free(spark, sf_dir):
    """txt_chunk must be a pure generate+project pipeline: one scan,
    zero Exchanges — the property that makes chunking a linear
    map-stage at 100 TB."""
    plan = plan_of(QUERIES["txt_chunk"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "Generate" in plan, plan


def test_range_bucket_join_is_equi_not_cartesian(spark, sf_dir):
    """join_range_bucket must plan as an EQUI join on the manufactured
    bucket key — never CartesianProduct / BroadcastNestedLoopJoin,
    which is what a bare theta join would degrade to at scale."""
    plan = plan_of(QUERIES["join_range_bucket"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert any(j in plan for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")), plan


def test_paragraph_dedup_shuffles_fingerprints_not_text(spark, sf_dir):
    """dedup_paragraph's exchanges must carry md5 fingerprints, never
    the chunk text: the Exchange nodes' output schemas may not contain
    a 'chunk' string column (only doc_id/chunk_start/fp/aggregates)."""
    plan = plan_of(QUERIES["dedup_paragraph"](spark, sf_dir))
    import re
    for m in re.finditer(r"\(\d+\) Exchange\n(?:.+\n)+?(?=\n|\(\d+\))", plan):
        block = m.group(0)
        assert "chunk#" not in block, block


def test_paragraph_dedup_window_slicing_is_linear(spark, sf_dir):
    """dedup_paragraph's per-document cost must stay O(doclen): windows
    are sliced from a pre-split 200-char block ARRAY (zero-copy element
    views on an UnsafeRow), never via substr on the full text or its
    UTF-8 bytes inside the window lambda — substr(text, s, ..) scans
    from the string head to locate char s (O(windows × doclen) per doc,
    ~224 s on one 4 MB document) and substr(encode(text), s, ..) is
    just as quadratic because UnsafeRow.getBinary copies the whole
    byte array on every lambda-body access (~20 s on the same doc; the
    blocks kernel runs it in ~0.6 s). Pin: the optimized plan splits
    with regexp_extract_all below the Generate and contains NO
    substring over the raw text/bytes column."""
    plan = plan_of(QUERIES["dedup_paragraph"](spark, sf_dir))
    assert "regexp_extract_all" in plan, plan
    assert "substr(text#" not in plan and "substring(text#" not in plan, plan
    assert "encode(text#" not in plan, plan


def test_partition_prune_plan(spark, sf_dir):
    """scan_partition_prune's filter must land in PartitionFilters
    (directory-level skipping before any I/O), not just PushedFilters,
    and the pruned partition column must not be re-filtered post-scan."""
    plan = plan_of(QUERIES["scan_partition_prune"](spark, sf_dir))
    import re

    m = re.search(r"PartitionFilters: \[(.*?)\]", plan)
    assert m and "l_returnflag" in m.group(1), plan


def test_minhash_canonical_no_pair_blowup(spark, sf_dir):
    """dedup_minhash_canonical must never plan a cartesian/BNLJ, and
    its signature stage must partially aggregate map-side (partial_min
    before the doc_id Exchange) — the two properties that keep it
    linear at any duplicate density."""
    plan = plan_of(QUERIES["dedup_minhash_canonical"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "partial_min" in plan or "partial min" in plan.lower(), plan


def test_dataset_card_single_scan_partial_agg(spark, sf_dir):
    """wl_dataset_card must scan documents once and pre-aggregate
    map-side; no Exchange may carry the raw text column (only
    fingerprints and partial aggregates cross the wire)."""
    plan = plan_of(QUERIES["wl_dataset_card"](spark, sf_dir))
    # one scan node: formatted mode prints it twice (tree + detail)
    assert plan.count("Location: InMemoryFileIndex") == 1, plan
    import re

    for m in re.finditer(r"\(\d+\) Exchange\n(?:.+\n)+?(?=\n|\(\d+\))", plan):
        assert "text#" not in m.group(0), m.group(0)


def test_repetition_and_quantize_shuffle_free(spark, sf_dir):
    """txt_repetition and mm_embed_quantize are row-local array math:
    zero Exchanges — embarrassingly parallel at any scale."""
    for key in ("txt_repetition", "mm_embed_quantize"):
        plan = plan_of(QUERIES[key](spark, sf_dir))
        assert "Exchange" not in plan, (key, plan)


def test_dau_wau_no_range_join(spark, sf_dir):
    """WAU must come from the map-side ×7 explode + ONE count-distinct
    agg — never a day×day range join (BroadcastNestedLoopJoin /
    CartesianProduct), which is the shape that dies at 100 TB."""
    plan = plan_of(QUERIES["wl_dau_wau"](spark, sf_dir))
    assert "Generate" in plan and "explode" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_anomaly_stats_broadcast(spark, sf_dir):
    """The per-type stats table is bounded by event-type cardinality →
    it must ride a BroadcastHashJoin, never shuffle the daily fact."""
    plan = plan_of(QUERIES["wl_anomaly_zscore"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_copurchase_joins_on_order_key(spark, sf_dir):
    """The pair blow-up must stay within an order: the self-join's
    equi-key is l_orderkey (partkey inequality is a residual filter),
    so per-order fan-out stays bounded — no cross join anywhere."""
    plan = plan_of(QUERIES["wl_copurchase"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_q16_denylist_is_broadcast_anti(spark, sf_dir):
    plan = plan_of(QUERIES["wl_q16_suppcnt"](spark, sf_dir))
    assert "LeftAnti" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_q2_min_supplier_window_partitioned(spark, sf_dir):
    """The min-cost pick must window over the PART KEY (hashpartitioning
    on pk), never a global single-partition sort of the ps table."""
    plan = plan_of(QUERIES["wl_q2_mincost"](spark, sf_dir))
    assert "hashpartitioning(pk" in plan, plan


def test_zipf_topk_is_take_ordered(spark, sf_dir):
    """The vocab cut must be TakeOrdered (per-partition partial top-k),
    not a global Sort of the token-count table."""
    plan = plan_of(QUERIES["txt_zipf"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_snapshot_diff_is_single_full_outer_smj(spark, sf_dir):
    plan = plan_of(QUERIES["wl_snapshot_diff"](spark, sf_dir))
    assert "FullOuter" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_pareto_windows_partition_on_nation(spark, sf_dir):
    """Every Pareto window must partition on the nation key — a global
    revenue sort would single-reducer the customer table."""
    plan = plan_of(QUERIES["wl_pareto"](spark, sf_dir))
    assert "hashpartitioning(c_nationkey" in plan, plan


def test_markov_lag_partitioned_and_totals_broadcast(spark, sf_dir):
    plan = plan_of(QUERIES["wl_markov_transitions"](spark, sf_dir))
    assert "hashpartitioning(user_id" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_keep_best_window_partitions_on_fingerprint(spark, sf_dir):
    plan = plan_of(QUERIES["dedup_keep_best"](spark, sf_dir))
    assert "hashpartitioning(fingerprint" in plan, plan


def test_q11_scalar_total_broadcast_no_second_scan(spark, sf_dir):
    """Q11's threshold must come from re-aggregating the reduced
    part-value table and broadcasting it back; at runtime AQE must
    reuse the part-value exchange so the fact is scanned ONCE."""
    df = QUERIES["wl_q11_partvalue"](spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    df.collect()  # finalize the adaptive plan
    final = plan_of(df, "simple")
    n_reuse = final.count("ReusedExchange") + final.count("ReusedQueryStage")
    assert n_reuse >= 1, f"part-value exchange not reused\n{final}"


def test_q20_dims_broadcast(spark, sf_dir):
    plan = plan_of(QUERIES["wl_q20_excess"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_skew_report_topk_take_ordered(spark, sf_dir):
    """The heavy-key report ends in a bounded top-k, not a full sort."""
    plan = plan_of(QUERIES["wl_skew_report"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_resample_spine_no_cartesian_blowup(spark, sf_dir):
    """The date spine is a broadcast product of two tiny inputs; the
    fact-side join must be an equi hash join on (event_type, d)."""
    plan = plan_of(QUERIES["wl_resample_ffill"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan


def test_profile_single_scan(spark, sf_dir):
    """All 18 profile aggregates must come from ONE pass over the fact
    (multi-distinct planned via expand), not three UNION'd scans."""
    plan = plan_of(QUERIES["wl_profile"](spark, sf_dir))
    # formatted mode prints each node twice (tree + detail); count details
    assert plan.count(") Scan parquet") == 1, plan


def test_corr_matrix_single_scan(spark, sf_dir):
    plan = plan_of(QUERIES["agg_corr_matrix"](spark, sf_dir))
    assert plan.count(") Scan parquet") == 1, plan


def test_attribution_single_user_shuffle(spark, sf_dir):
    """Carry-forward attribution must be one window over a user_id
    shuffle — no self-join of events against events."""
    plan = plan_of(QUERIES["wl_attribution"](spark, sf_dir))
    assert "hashpartitioning(user_id" in plan, plan
    assert "Join" not in plan.replace("BroadcastNestedLoopJoin", ""), plan


def test_triangles_equi_joins_only(spark, sf_dir):
    plan = plan_of(QUERIES["wl_triangles"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan


def test_width_bucket_codegen_projection(spark, sf_dir):
    """Binning must stay inside whole-stage codegen — no Python UDF."""
    df = QUERIES["fn_width_bucket"](spark, sf_dir)
    plan = plan_of(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    cg = plan_of(df, "codegen")
    assert "WholeStageCodegen" in cg, cg


@pytest.mark.parametrize("key", ["wl_gini", "wl_equidepth_bins"])
def test_global_rank_is_range_partitioned(spark, sf_dir, key):
    """Exact global ranks must come from the two-pass range rank —
    every window partitioned (by _pid) or over the bounded
    partition-stats table; never a partition-less sort of the data."""
    plan = plan_of(QUERIES[key](spark, sf_dir))
    assert "rangepartitioning" in plan, plan
    # the only unpartitioned window is over per-partition stats (_pid rows)
    assert "Window [" not in plan or "_pid" in plan, plan


def test_cluster_hist_shuffles_fingerprints_not_text(spark, sf_dir):
    plan = plan_of(QUERIES["dedup_cluster_hist"](spark, sf_dir))
    # text is consumed map-side by md5; only the 32-char fp (pushed
    # into the grouping expression) and the cluster sizes ever shuffle
    exchange_args = [
        l for l in plan.splitlines() if "hashpartitioning(" in l
    ]
    assert exchange_args, plan
    assert all("text" not in l for l in exchange_args), plan


def test_epoch_conversions_codegen(spark, sf_dir):
    df = QUERIES["fn_epoch"](spark, sf_dir)
    plan = plan_of(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_sink_partitioned_readback_prunes(spark, sf_dir):
    """The readback must prune to the one event_type directory
    (PartitionFilters) and push the value predicate into the scan."""
    df = QUERIES["sink_partitioned"](spark, sf_dir)
    plan = plan_of(df)
    assert "PartitionFilters" in plan and "event_type" in plan, plan
    assert "PushedFilters" in plan and "GreaterThan(value,50.0)" in plan, plan


def test_cache_reuse_hits_memory_both_branches(spark, sf_dir):
    """Both consumers of the persisted daily rollup must read the
    InMemoryRelation — the fact scan happens at most once."""
    plan = plan_of(QUERIES["cache_reuse"](spark, sf_dir))
    assert plan.count(") InMemoryTableScan") >= 2, plan
    # the one parquet scan in the plan is the cached relation's
    # DEFINITION (printed under InMemoryRelation), not a live read
    assert plan.count(") Scan parquet") == 1, (
        "all reads must come from the cached rollup\n" + plan
    )


def test_sql_params_fold_into_pushdown(spark, sf_dir):
    """Bound named parameters must reach the parquet scan as pushed
    filters, exactly like inline literals."""
    plan = plan_of(QUERIES["sql_params"](spark, sf_dir))
    assert "PushedFilters" in plan and "GreaterThan(o_totalprice,150000" in plan, plan


def test_crosstab_single_scan(spark, sf_dir):
    plan = plan_of(QUERIES["stat_crosstab"](spark, sf_dir))
    assert plan.count(") Scan parquet") == 1, plan


def test_string_agg_single_aggregate(spark, sf_dir):
    """collect_list+sort+join must plan as ONE (object) hash aggregate
    pair — no window, no join."""
    plan = plan_of(QUERIES["agg_string_agg"](spark, sf_dir))
    assert "ObjectHashAggregate" in plan, plan
    assert "Window" not in plan and "Join" not in plan, plan


def test_pipe_syntax_same_plan_shape_as_ansi(spark, sf_dir):
    """The |> dialect must land on the standard pushdown + two-phase
    hash aggregate plan — frontend sugar, zero physical difference."""
    plan = plan_of(QUERIES["sql_pipe"](spark, sf_dir))
    assert "PushedFilters" in plan and "GreaterThanOrEqual(l_quantity,10.0)" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_variant_extraction_is_codegen(spark, sf_dir):
    plan = plan_of(QUERIES["fn_variant"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_collate_group_is_single_aggregate(spark, sf_dir):
    """Collated grouping must stay ONE partial→final aggregate pair
    over the explode (collated keys hash-agg where supported, else
    sort-agg — still map-side combined) — no lower() pass, no join."""
    plan = plan_of(QUERIES["fn_collate"](spark, sf_dir))
    n_agg = plan.count(") HashAggregate") + plan.count(") SortAggregate")
    assert n_agg >= 2 and "Join" not in plan, plan


def test_dpp_prunes_fact_partitions(spark, sf_dir):
    """The day-partitioned fact scan must carry a dynamic-pruning
    subquery in its PartitionFilters — only the dim's 3 days are read."""
    plan = plan_of(QUERIES["join_dpp"](spark, sf_dir))
    assert "dynamicpruning" in plan.lower(), plan


def test_incremental_dedup_shuffles_fingerprints(spark, sf_dir):
    """The anti join must key on the md5 fingerprint; document text
    never crosses the wire."""
    plan = plan_of(QUERIES["dedup_incremental"](spark, sf_dir))
    exchange_args = [l for l in plan.splitlines() if "hashpartitioning(" in l]
    assert all("text" not in l for l in exchange_args), plan


def test_approx_topk_single_sketch_agg(spark, sf_dir):
    """One mergeable sketch aggregate — no groupBy-all-keys + sort."""
    plan = plan_of(QUERIES["agg_approx_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" not in plan, plan
    assert plan.count(") Scan parquet") == 1, plan


def test_degree_hist_blocked_join(spark, sf_dir):
    plan = plan_of(QUERIES["dedup_degree_hist"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan


def test_chi2_cell_exchange_reused(spark, sf_dir):
    """The (lang, source) cell aggregate feeds four consumers (two
    margins, the total, the join-back); at runtime AQE must reuse its
    exchange instead of re-scanning the fact per consumer."""
    df = QUERIES["wl_chi2_assoc"](spark, sf_dir)
    df.collect()
    plan = plan_of(df, "simple")
    n_reuse = plan.count("ReusedExchange") + plan.count("ReusedQueryStage")
    assert n_reuse >= 1, plan


def test_zorder_layout_clusters_files(spark, sf_dir, tmp_path):
    """Writing range-partitioned + sorted on the Morton code must give
    files with (near-)disjoint zcode ranges — the property that makes
    row-group stats selective on both interleaved dimensions."""
    import pyspark.sql.functions as F

    df = QUERIES["sink_zorder"](spark, sf_dir)
    out = f"{tmp_path}/zsorted"
    (
        df.repartitionByRange(8, "zcode")
        .sortWithinPartitions("zcode")
        .write.parquet(out)
    )
    spans = (
        spark.read.parquet(out)
        .groupBy(F.col("_metadata.file_name").alias("f"))
        .agg(F.min("zcode").alias("lo"), F.max("zcode").alias("hi"))
        .collect()
    )
    spans = sorted([(r.lo, r.hi) for r in spans])
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, f"file ranges overlap: {spans}"


def test_compaction_no_shuffle(spark, sf_dir):
    """Compaction must use coalesce (narrow), never a repartition
    exchange — the rewrite reads and writes, nothing shuffles."""
    plan = plan_of(QUERIES["sink_compaction"](spark, sf_dir))
    # the reporting aggregates exchange their 1-row partials; the scan
    # side of the compacted read must carry a Coalesce, not an
    # Exchange RoundRobinPartitioning
    assert "roundrobinpartitioning" not in plan.lower(), plan


def test_string_more_codegen(spark, sf_dir):
    plan = plan_of(QUERIES["fn_string_more"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_bm25_topk_is_take_ordered_with_broadcast_stats(spark, sf_dir):
    """BM25's global top-20 must compile to TakeOrderedAndProject
    (distributed partial top-k) and its idf/corpus-stats joins must
    broadcast — the corpus side never shuffles for a scalar join."""
    plan = plan_of(QUERIES["txt_bm25_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_merge_upsert_full_outer_never_broadcasts(spark, sf_dir):
    """MERGE's full-outer join must be a shuffle join on the merge key
    (a full outer cannot broadcast) — pinning that nobody 'optimizes'
    the target table into a broadcast that OOMs at scale."""
    plan = plan_of(QUERIES["wl_merge_upsert"](spark, sf_dir))
    assert "FullOuter" in plan, plan
    assert "BroadcastHashJoin FullOuter" not in plan, plan


def test_sentiment_lexicon_broadcasts_lexicon(spark, sf_dir):
    """The lexicon join must broadcast the lexicon side so the token
    stream never shuffles for it."""
    plan = plan_of(QUERIES["txt_sentiment_lexicon"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_biblio_dedup_pushes_ascii_filter_to_scan(spark, sf_dir):
    """The ASCII guard and block-key equi-conditions must appear as a
    join on block keys, never a cartesian: the plan must contain an
    equi-join (SortMergeJoin/ShuffledHashJoin/BroadcastHashJoin) and
    no CartesianProduct / BroadcastNestedLoopJoin."""
    plan = plan_of(QUERIES["dedup_biblio"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    ), plan


def test_cms_sketch_join_broadcasts_sketch(spark, sf_dir):
    """The CMS probe must broadcast the 128-row sketch, and the sketch
    build must be a partial-aggregating groupBy (HashAggregate pair)."""
    plan = plan_of(QUERIES["agg_cms_portable"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "HashAggregate" in plan, plan


def test_data_quality_single_pass_per_table(spark, sf_dir):
    """The contract report must scan orders at most twice (agg pass +
    anti-join build) and lineitem at most twice (agg pass + anti-join
    probe) — rules are fused into aggregates, not one job per rule."""
    plan = plan_of(QUERIES["wl_data_quality"](spark, sf_dir))
    assert plan.count("orders.parquet") <= 2, plan
    assert plan.count("lineitem.parquet") <= 2, plan


def test_cluster_by_is_hash_exchange_plus_local_sort(spark, sf_dir):
    """DISTRIBUTE BY + SORT BY must produce one hash-partitioning
    Exchange and a NON-global Sort (no range exchange — that would be
    ORDER BY's total sort)."""
    plan = plan_of(QUERIES["sql_cluster_by"](spark, sf_dir))
    assert "hashpartitioning" in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "Sort" in plan, plan


def test_bpe_pair_counts_is_take_ordered_over_vocab(spark, sf_dir):
    """BPE pair counting must aggregate over the vocabulary (two
    HashAggregates: word counts, then pair counts) and cut the top-10
    with TakeOrderedAndProject, never a global sort."""
    plan = plan_of(QUERIES["txt_bpe_pair_counts"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "HashAggregate" in plan, plan


def test_bucketed_agg_has_no_exchange(spark, sf_dir):
    """Aggregating a bucketed table on its bucket key must consume the
    stored distribution: no Exchange anywhere in the plan."""
    df = QUERIES["agg_bucketed_no_shuffle"](spark, sf_dir)
    plan = plan_of(df)
    assert "Exchange" not in plan, plan
    assert "HashAggregate" in plan or "SortAggregate" in plan, plan


def test_sql_hint_broadcast_is_honored(spark, sf_dir):
    plan = plan_of(QUERIES["sql_hint_broadcast"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


@pytest.mark.parametrize(
    "key",
    [
        "wl_stratified_ate", "txt_oov_curve", "wl_vocab_growth",
        "wl_concurrency", "wl_lorenz_points", "ml_screen_e2e",
        "ml_gains_table",
        # r5: the last two data-scaled unpartitioned ranks, converted
        "wl_rank_correlation", "sim_hybrid_rrf",
        # r7: found by the FIXED unpartitioned-window sweep (the old
        # regex could never fire) — the full BM25 ranking behind MRR
        # and the corpus-scaled bin prefix sums of the Heaps fit
        "wl_retrieval_eval", "txt_heaps_fit",
        # r7: stopping rule rides the same _screen_curve two-pass order
        "ml_stop_screening",
    ],
)
def test_unbounded_rank_uses_two_pass(spark, sf_dir, key):
    """Ranks/prefix sums over data-scaled sets (users, vocabulary,
    doc bins) must use functions/ranks.py's two-pass range shape:
    a RangePartitioning exchange plus _pid-partitioned windows —
    never a single-task `WindowExec: No Partition Defined` over the
    raw relation."""
    if key == "ml_screen_e2e":
        # the registered query localCheckpoints its 1-row result (so it
        # can unpersist the per-doc feature cache), which collapses the
        # visible plan — assert on the pre-checkpoint lazy frame, and
        # unpersist feat so the lazy path doesn't leak cached storage
        # into the shared session for the rest of the test run
        from systematic_review_classification_spark.operators.ml import _screen_e2e_lazy

        feat, df = _screen_e2e_lazy(spark, sf_dir)
        try:
            plan = plan_of(df)
        finally:
            feat.unpersist()
    else:
        plan = plan_of(QUERIES[key](spark, sf_dir))
    assert "rangepartitioning" in plan.lower(), plan
    assert "windowspecdefinition(_pid" in plan, plan


def test_threshold_sweep_single_pass(spark, sf_dir):
    """The 5-cutoff sensitivity curve must scan the (blocked) pair
    stream ONCE via conditional aggregates — no threshold×pairs
    cross-join replication."""
    plan = plan_of(QUERIES["dedup_threshold_sweep"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    # single aggregation over pairs: partial+final over one scan pair
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_temperature_mix_single_scan(spark, sf_dir):
    """The mixture-weight derivation must scan documents ONCE: the
    normalizers are windows over the bounded per-source aggregate,
    not a second aggregate branch re-deriving the scan lineage."""
    plan = plan_of(QUERIES["wl_temperature_mix"](spark, sf_dir))
    assert plan.count("InMemoryFileIndex [file:") == 1, plan


def test_semdedup_centroids_broadcast(spark, sf_dir):
    """Items join their cluster centroid via BROADCAST — the corpus
    never shuffles for the cosine pass."""
    plan = plan_of(QUERIES["sim_semdedup_centroid"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_tfidf_df_is_hash_agg_not_token_window(spark, sf_dir):
    """r11: document frequency must come from a hash aggregate over tf
    (partial agg + AQE skew split on the token join), never a count
    window partitioned by token — a window partition funnels every tf
    row of a hot token into ONE task's buffer at scale."""
    plan = plan_of(QUERIES["txt_tfidf_topk"](spark, sf_dir))
    import re

    for m in re.finditer(r"Window.*?\[(.*?)\]", plan):
        assert "token" not in m.group(1) or "doc_id" in m.group(1), plan
    # the only window is the per-doc top-5 (WindowGroupLimit engaged)
    assert "WindowGroupLimit" in plan, plan
    assert "HashAggregate" in plan, plan


def test_oov_curve_single_pass_no_replication(spark, sf_dir):
    """r11: the coverage curve is one aggregate with |k| conditional
    sums — replicating the ranked vocabulary per candidate size
    (BroadcastNestedLoopJoin) is banned."""
    plan = plan_of(QUERIES["txt_oov_curve"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


@pytest.mark.parametrize(
    "key",
    ["dedup_keep_best", "wl_soft_dedup_sampling", "sim_sparse_cosine",
     "txt_tfidf_topk"],
)
def test_no_count_window_over_group_keys(spark, sf_dir, key):
    """r11 de-skew class: cluster/df counts must be hash aggregates
    (map-side partial + AQE skew-split on the join back), never count
    windows — a window partition funnels every row of a hot
    fingerprint/token into ONE task's buffer. Rank windows are exempt:
    rn<=k filters get map-side WindowGroupLimit."""
    plan = plan_of(QUERIES[key](spark, sf_dir))
    assert "count(1) windowspecdefinition" not in plan.replace("\n", " "), plan


def test_eval_once_barrier_holds(spark, sf_dir):
    """Plan-shape regression guard for predicates.eval_once (r11
    advice): the 0*rand() pushdown barrier relies on Catalyst never
    constant-folding a nondeterministic expression and never pushing
    filters through a nondeterministic projection. If a future Spark
    upgrade folds it away, the expensive expression silently
    re-duplicates into the join residual (dedup_biblio measured 27.2 s
    vs 12.2 s at sf0.1) with identical OUTPUT — only the plan shows
    it. Assert the two r11/r12 barrier classes still pin exactly one
    evaluation: one thresholded levenshtein in dedup_biblio, one
    array_intersect in dedup_near_jaccard."""
    plan = plan_of(QUERIES["dedup_biblio"](spark, sf_dir))
    assert plan.count("levenshtein") == 1, plan
    plan = plan_of(QUERIES["dedup_near_jaccard"](spark, sf_dir))
    assert plan.count("array_intersect") == 1, plan


@pytest.mark.parametrize("key", ["txt_containment", "dedup_ngram_jaccard"])
def test_overlap_join_verifies_strings_above_the_join(spark, sf_dir, key):
    """predicates.overlap_pairs: the join residual filters on the
    hashed bound only (array_intersect over the bigint ``_ids``); the
    string intersect over the shingles runs in a projection above the
    join, on the survivors. Without the eval_once barrier Catalyst
    pushes the exact threshold into the residual and the string
    intersect runs for every candidate pair again."""
    plan = plan_of(QUERIES[key](spark, sf_dir))
    conds = re.findall(r"Join condition: (.*)", plan)
    assert conds and all(
        re.findall(r"array_intersect\((\w+)#", c) == ["_ids"] for c in conds
    ), plan
    projects = [n for n in plan.split("\n\n") if re.match(r"\(\d+\) Project", n)]
    assert any("array_intersect(grams#" in n for n in projects), plan
