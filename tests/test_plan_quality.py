"""Physical-plan quality assertions for the analytical queries:
pushdown reaches the scan, constant-size dims broadcast, anti-joins
stay equi-joins. These are the properties that keep the same plans
viable at 100 TB — regression here is a scale bug even when results
stay correct."""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(__file__), os.pardir, "tools")
)

from tensei_agent_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].build(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q9_pushes_part_name_filter_to_scan(spark):
    plan = _plan(spark, "q9_profit_by_nation")
    assert "PushedFilters: [" in plan
    assert "StringContains(p_name,a)" in plan


def _hints(spark, name: str) -> int:
    df = REGISTRY[name].build(spark, SF)
    return df._jdf.queryExecution().analyzed().toString().count("ResolvedHint")


def test_forced_broadcasts_limited_to_constant_dims(spark):
    """At sf0.001 Spark auto-broadcasts everything small — that's size-
    based and fine. What must NOT happen is a *forced* hint on a table
    that scales with data: q9 hints only nation (1), q21 only the
    filtered nation (1), q22 only the 1-row threshold and nation (2).
    More hints than that means someone pinned a scaling table."""
    assert _hints(spark, "q9_profit_by_nation") == 1
    assert _hints(spark, "q21_sole_supplier_orders") == 1
    assert _hints(spark, "q22_idle_rich_customers") == 2


def test_q22_anti_join_is_equi(spark):
    plan = _plan(spark, "q22_idle_rich_customers")
    assert "LeftAnti" in plan
    # no nested-loop / cartesian anywhere in the anti path
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan or plan.count(
        "BroadcastNestedLoopJoin"
    ) <= 1  # the deliberate 1-row threshold cross join may plan as BNLJ


def test_q21_has_no_theta_join(spark):
    plan = _plan(spark, "q21_sole_supplier_orders")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scan_schema_is_pruned(spark):
    """q6 touches 4 lineitem columns — the parquet ReadSchema must not
    include the rest (column pruning reaches the scan)."""
    plan = _plan(spark, "q6_revenue_forecast")
    scan = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert "l_partkey" not in scan
    assert "l_returnflag" not in scan


def test_range_join_is_equi_bucketed(spark):
    plan = _plan(spark, "range_join_event_sessions")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_repetition_report_is_shuffle_free(spark):
    """The Gopher repetition features are pure array expressions — any
    Exchange appearing here means the sorted-array mode computation
    regressed to a shuffle+join formulation."""
    plan = _plan(spark, "gopher_repetition_report")
    assert "Exchange" not in plan


def test_decontamination_is_equi_join(spark):
    """Corpus × holdout must meet on the shingle (inverted index),
    never as a cross product."""
    plan = _plan(spark, "decontaminate_holdout")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q2_filters_push_to_scans(spark):
    plan = _plan(spark, "q2_min_cost_supplier")
    assert "PushedFilters: [" in plan
    assert "EqualTo(p_type,LARGE)" in plan
    assert "CartesianProduct" not in plan


def test_attribution_join_is_equi_on_user(spark):
    """The interval predicate must ride on the user_id equi-join as a
    post-filter, not degrade the join to a nested loop."""
    plan = _plan(spark, "view_purchase_attribution")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_profiles_scan_once(spark):
    """All-column profiling must be ONE scan + stack — a per-column
    union of aggregates re-reads the table once per column at 100 TB."""
    for name in ("stats_numeric_profile", "stats_string_profile",
                 "stats_sampled_profile"):
        assert _plan(spark, name).count("Scan parquet") == 1, name


def test_equidepth_histogram_has_no_global_window(spark):
    """The equi-depth histogram must bin via broadcast boundaries, not
    ntile() — a global window would serialize the table through one
    task at scale."""
    plan = _plan(spark, "stats_equidepth_histogram")
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_throttle_window_is_user_partitioned(spark):
    """The near-dup throttle's lag window must partition by user (sort
    stays local per key); an empty partition spec would be a global
    sort."""
    plan = _plan(spark, "event_near_dup_throttle")
    assert "windowspecdefinition(user_id" in plan


def test_stratified_sample_window_is_per_stratum(spark):
    plan = _plan(spark, "stratified_sample_exact")
    assert "windowspecdefinition(lang" in plan


def _assert_single_partition_only_pid_offsets(plan: str) -> None:
    """A SinglePartition exchange is allowed ONLY for (a) the offsets
    branch of the distributed rank/prefix helpers (sits on a per-_pid
    hash aggregate) or (b) ``with_bounded_rank``'s explicit
    ``repartition(1)`` whose subtree shows an aggregate/limit (bounded
    by the SCALE.md rank-free audit). Delegates to the registry-wide
    audit's subtree-aware detector so the test and the audit can never
    drift (code review r11: an earlier inline version exempted ANY
    REPARTITION_BY_NUM exchange — a raw-data repartition(1) would have
    shipped green)."""
    from plan_audit import single_partition_collapses

    hits = single_partition_collapses(plan)
    assert not hits, f"SinglePartition data collapse: {hits}"


def test_open_orders_sweep_stays_delta_sweep(spark):
    """Concurrent-interval counting must stay a delta sweep: hash
    aggregates + the distributed prefix-sum (whose only join is the
    tiny broadcast offset table). A SortMergeJoin or cartesian means
    it regressed to the days x orders range-join formulation; a
    SinglePartition exchange means the cumulative sum went back to a
    global window."""
    plan = _plan(spark, "open_orders_daily")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    _assert_single_partition_only_pid_offsets(plan)


def test_decile_matrix_has_no_global_window(spark):
    """The 2-D contingency matrix bins with broadcast percentile
    boundaries — an ntile()/Window over the raw events would serialize
    the fact table through one task."""
    plan = _plan(spark, "event_value_decile_matrix")
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan  # 1-row boundary table must broadcast


def test_inverted_index_is_join_free(spark):
    plan = _plan(spark, "inverted_index_postings")
    assert "Join" not in plan


def test_pagerank_rank_table_broadcasts_n(spark):
    """Each PageRank iteration joins edges to the node-sized rank/deg
    tables; the 1-row N table must broadcast (no shuffle for a scalar),
    and nothing may plan as a cartesian product."""
    plan = _plan(spark, "part_copurchase_pagerank")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") >= 4  # N joined per iteration + init


def test_anomaly_frame_runs_over_day_series(spark):
    """The trailing z-score frame must sit ABOVE the day aggregate
    (tiny series), never over raw events: only equi-joins on the day
    index (no cartesian/BNLJ range join) and no SinglePartition
    exchange (the frame is explode + hash aggregate, not a global
    window)."""
    plan = _plan(spark, "daily_event_anomaly")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    _assert_single_partition_only_pid_offsets(plan)


def _assert_windows_are_partitioned(plan: str):
    """Every Window node must either carry a partition spec (our
    range-pid local windows) or be the bounded groupBy(_pid) offsets
    shape — an unpartitioned Window over data is the single-partition
    global sort that dies at 100x (VERDICT r2 item 4). Delegates to the
    audit tool's subtree-aware detector: the old `'_pid' in line`
    substring check was satisfied by the offsets window's own ORDER BY
    column and had gone vacuous (VERDICT r8 item 2)."""
    from plan_audit import global_windows

    assert global_windows(plan) == [], f"global windows: {global_windows(plan)}"


def test_global_order_queries_have_no_global_window(spark):
    """customer_balance_quartiles / part_abc_classification /
    user_activity_gini / zipf_slope formerly ran ntile/rank/cumsum
    through ONE partition; they must now use the distributed row index
    or the range-partition + offset prefix helpers
    (operators/windows.py)."""
    for name in (
        "customer_balance_quartiles",
        "part_abc_classification",
        "user_activity_gini",
        "zipf_slope",
        "daily_revenue_ma7",
        "weighted_median_quantity",
    ):
        plan = _plan(spark, name)
        _assert_windows_are_partitioned(plan)
        assert "CartesianProduct" not in plan, name


def test_triangle_joins_are_equi(spark):
    plan = _plan(spark, "copurchase_triangles")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_negative_sampling_join_is_bucket_equi(spark):
    """Negative candidate generation must hash-join on the bucket key
    (label inequality as a residual filter) — a nested-loop plan means
    the blocking regressed to the N^2 cross join."""
    plan = _plan(spark, "contrastive_negatives")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pq_adc_scoring_join_moves_no_vectors(spark):
    """The PQ ADC scoring join must ship (id, codes) rows against the
    broadcast query+LUT side — the corpus `embedding` column may feed
    the encode projection but must not ride the join itself, and no
    stage may plan as a cartesian product."""
    plan = _plan(spark, "ann_pq_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # cand_id != query_id theta
    # Above the join only three narrow columns survive — the score
    # projection: no embedding array outlives the scoring stage. (The
    # encode transform referencing `embedding` pipelines INSIDE the
    # join's streamed-side project — same stage as the scan, so no
    # exchange ever carries a float vector.)
    score_proj = plan.split("BroadcastNestedLoopJoin", 1)[0]
    assert "AS score" in score_proj
    assert "embedding" not in score_proj


def test_jaccard_bit_screen_in_plan_and_broadcast(spark):
    """The OPH bit screen must appear in the fast twin's executed plan
    (bit_count over the signature words) and — on the provably-small
    driver corpus — its signature attach joins must broadcast, not
    shuffle. The exact oracle-compared variant must NOT contain the
    probabilistic screen."""
    plan = _plan(spark, "dedup_ngram_jaccard_fast")
    assert "bit_count" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 4  # freq + 2 sig + 2 token sides
    exact_plan = _plan(spark, "dedup_ngram_jaccard")
    assert "bit_count" not in exact_plan


def test_ngram_regroup_exchange_elided_in_final_plan(spark):
    """VERDICT r10 #3: the per-doc postings regroup must ride the
    hash(doc_id)-partitioned tok_sets cache, not re-shuffle the full
    postings stream. AQE's INITIAL plan carries a conservative
    ENSURE_REQUIREMENTS exchange there, but Spark 4.1 wraps the cache
    scan in a TableCacheQueryStage and the FINAL (executed) plan
    elides it — so the invariant is checked post-execution on final-
    plan sections only (tools/plan_audit.runtime_regroup_exchanges;
    the same leg runs registry-wide in the per-round plan audit)."""
    from plan_audit import runtime_regroup_exchanges

    for name in ("dedup_ngram_jaccard", "dedup_ngram_jaccard_fast"):
        df = REGISTRY[name].build(spark, SF)
        df.count()  # materialize so AQE finalizes every stage
        plan = df._jdf.queryExecution().executedPlan().toString()
        # sanity: the adaptive markers exist, else "final section"
        # filtering would be vacuous
        assert "== Final Plan ==" in plan, name
        hits = runtime_regroup_exchanges(plan)
        assert hits == [], f"{name}: regroup re-shuffle survived: {hits}"


def test_linkage_blocking_is_equi_and_single_distinct_free(spark):
    """Candidate generation must plan as hash equi-joins (one per
    blocking pass), with NO pair-level dedup aggregate: the disjoint-
    pass rewrite replaced the dropDuplicates exchange with a cheap
    in-flight filter. A cartesian or nested-loop here means a blocker
    degenerated."""
    plan = _plan(spark, "linkage_agreement_patterns")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the only aggregate is the 2^f pattern census (count), never a
    # distinct over the pair stream
    assert "dropDuplicates" not in plan.lower()


def test_sorted_neighborhood_rank_is_partitioned(spark):
    """The neighbor join must ride the distributed row index: ONE
    sequence node (both join sides read the one tracked frame), the
    pairing itself a shuffle/broadcast hash join on the rank — never a
    windowed self-scan, an unpartitioned window or a cartesian."""
    from plan_audit import global_windows

    plan = _plan(spark, "linkage_sorted_neighborhood")
    assert "CartesianProduct" not in plan
    assert global_windows(plan) == [], global_windows(plan)
    seqs = set(re.findall(r"AttachDistributedSequence\[(\S+?)[,\]]", plan))
    assert len(seqs) == 1, plan
    assert plan.count("InMemoryTableScan") == 2, plan


def test_salted_join_widens_shuffle_key(spark):
    """The salted join must hash-partition on (key, salt) — the salt
    column must appear in the join's partitioning/keys, and the
    replicated side must come from an explode, not a cartesian."""
    plan = _plan(spark, "salted_join_revenue")
    assert "CartesianProduct" not in plan
    assert "_salt" in plan
    assert "Generate explode" in plan or "explode" in plan


def test_acf_single_pass_no_cache_no_joins(spark):
    """r12: acf is a single-pass fold — ONE aggregation carries the
    sorted day-spine array and the moments, the per-lag pair sums run
    as a map-side array fold. The corpus is scanned once BY
    CONSTRUCTION (single consumer), so there must be no persisted
    spine, no joins, no broadcasts, and exactly the two exchanges the
    two aggregations need (day rollup, per-key collect)."""
    plan = _plan(spark, "acf_daily_revenue")
    assert plan.count("InMemoryTableScan") == 0
    assert "Join" not in plan
    assert "BroadcastExchange" not in plan
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("Scan parquet") == 1


def test_ccf_moment_joins_broadcast(spark):
    """The 1-row moment tables must attach by broadcast, never a
    shuffle join against the lag stream."""
    plan = _plan(spark, "ccf_view_purchase")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pmi_collocations_no_positional_self_join(spark):
    """Bigrams come from the zip-with-next transform — a positional
    self-join of the token stream (ord = ord+1) would shuffle the
    whole corpus twice."""
    plan = _plan(spark, "pmi_collocations")
    # the only joins are vocab-sized count attaches + scalar broadcasts
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # top-k is TakeOrdered, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_graph_census_edge_list_cached_not_replayed(spark):
    """Every one of the four label rounds must read the edge list from
    the SAME cached relation (replaying the lineitem self-join per
    round is the 100 TB failure mode): one InMemoryTableScan per
    round-join, none of them empty."""
    plan = _plan(spark, "graph_components_census")
    assert plan.count("InMemoryTableScan") >= 4


def test_fd_audit_no_expand_or_window(spark):
    plan = _plan(spark, "fd_discovery_audit")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_classifier_scores_single_exchange(spark):
    """Hashed linear classifier: weights are pure codegen functions —
    the plan must contain NO join and exactly one exchange (the
    partial-aggregated groupBy(doc_id))."""
    plan = _plan(spark, "quality_classifier_scores")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan  # map-side partial aggregation


def test_winnowing_window_is_doc_partitioned(spark):
    """The winnowing min-window must partition by document — a global
    window here would funnel the corpus through one task."""
    plan = _plan(spark, "winnowing_fingerprints")
    import re

    for m in re.finditer(r"windowspecdefinition\((.*?)specifiedwindowframe", plan):
        assert "doc_id" in m.group(1)


def test_random_projection_is_a_pure_map(spark):
    """JL projection: the ±1 sign matrix is a driver-side constant and
    each output dim unrolls to a literal codegen sum — the plan must be
    scan → project with NO exchange, join, or aggregate at all."""
    plan = _plan(spark, "embedding_random_projection")
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Aggregate" not in plan


def test_differential_join_avoids_smj_and_cartesian(spark):
    """Differential join: hot tag + salted paths plan as broadcast /
    hash joins; never a cartesian, never a global sort."""
    plan = _plan(spark, "differential_join_priority_revenue")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_cms_build_exchange_is_cellspace_sized(spark):
    """CMS: the only exchanges key on the constant (d, bucket) cell
    space or the probe words — nothing corpus-keyed."""
    plan = _plan(spark, "cms_word_estimates")
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan
