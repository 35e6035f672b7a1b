"""Physical-plan assertions: the plans we ship must stay the plans we
designed for 100 TB — filters pushed into the parquet scan, columns
pruned, dimension sides broadcast, aggregations map-side partial.  A
regression here (a lost broadcast hint, a filter that stops pushing)
changes nothing at sf0.001 and everything at scale, so it's guarded by
tests rather than by re-reading .explain() output by hand.
"""

from __future__ import annotations

import json
import re

import pytest

from processor_edf_spark.plans import QUERIES
from tests.conftest import SF_SMALL


def plan_of(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_SMALL)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q6_filter_pushdown_and_pruning(spark):
    plan = plan_of(spark, "q6_forecast_revenue")
    # all three predicates reach the parquet reader
    assert "PushedFilters:" in plan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert any(
            f"{op}({col}" in plan for op in ("GreaterThan", "LessThan", "GreaterThanOrEqual", "IsNotNull")
        ), f"no pushed filter on {col}:\n{plan[:2000]}"
    # column pruning: q6 touches 4 columns; wide columns must not be read
    assert "l_comment" not in plan
    assert "l_orderkey" not in plan.split("ReadSchema")[1][:400]


def test_q5_star_join_broadcasts(spark):
    plan = plan_of(spark, "q5_region_revenue")
    # every dimension (region/nation/customer/supplier) joins as broadcast
    assert plan.count("BroadcastHashJoin") >= 4, plan[:2000]


def test_q3_customer_broadcast(spark):
    plan = plan_of(spark, "q3_segment_revenue")
    assert "BroadcastHashJoin" in plan


def test_band_join_is_hash_join_with_residual(spark):
    """J1: the equi part (nationkey) plans as a hash join; the ±2% band
    stays a residual condition — NOT a nested-loop/cartesian."""
    plan = plan_of(spark, "band_join_acctbal")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q1_partial_aggregation(spark):
    """Map-side combine: partial_ aggregate functions before the exchange —
    the shuffle moves 4 group states per partition, not 6M rows."""
    plan = plan_of(spark, "q1_pricing_summary")
    assert "partial_" in plan, plan[:2000]
    assert plan.count("HashAggregate") >= 2


def test_sessionize_single_shuffle(spark):
    """W1 sessionization shuffles once on user_id; the window and the
    follow-up aggregation reuse that partitioning."""
    plan = plan_of(spark, "sessionize_events")
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"expected 1 shuffle, got {n_exchanges}:\n{plan[:2000]}"


def test_dedup_exact_partial_agg(spark):
    plan = plan_of(spark, "dedup_exact")
    assert "partial_" in plan


def test_minhash_no_cartesian(spark):
    """LSH candidate generation must stay an equi-join on (band, key)."""
    plan = plan_of(spark, "minhash_lsh_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize("name", ["q6_forecast_revenue", "q1_pricing_summary"])
def test_whole_stage_codegen(spark, name):
    """The scan→filter→project→partial-agg pipeline stays inside
    WholeStageCodegen (no interpreted evaluation in the hot path)."""
    df = QUERIES[name](spark, SF_SMALL)
    df.collect()  # AQE finalizes the plan only on execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    # '*(n)' marks WholeStageCodegen stages in plan strings
    assert "*(1)" in plan, plan[:2000]
    assert "*(1) Filter" in plan or "*(1) HashAggregate" in plan or "*(1) Project" in plan


def test_q4_semi_join_no_cartesian(spark):
    """Q4's EXISTS plans as a hash semi-join on l_orderkey with the
    l_shipdate > o_orderdate conjunct as residual — never a nested loop."""
    plan = plan_of(spark, "q4_order_priority")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_top3_window_group_limit(spark):
    """rank-filter must rewrite to per-partition top-k (WindowGroupLimit,
    partial before the shuffle) — a full sort of every customer's orders
    is the 100 TB failure mode."""
    plan = plan_of(spark, "top3_orders_per_customer")
    assert "WindowGroupLimit" in plan, plan[:2000]
    assert "Partial" in plan


def test_q18_semi_join_broadcast(spark):
    """The tiny >300-qty survivor set broadcasts into the semi-join;
    lineitem is not shuffled twice for it."""
    plan = plan_of(spark, "q18_large_orders")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_q14_part_broadcast(spark):
    plan = plan_of(spark, "q14_promo_revenue")
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters:" in plan


def test_q17_threshold_agg_prefiltered(spark):
    """q17's per-part threshold aggregate must consume the Brand#11
    semi-joined lineitem, not all of lineitem — the brand filter reaches
    BELOW both HashAggregates (≈25× less agg input at 100 TB)."""
    plan = plan_of(spark, "q17_small_quantity_revenue")
    # part-side brand predicate is pushed into its scan
    assert "p_brand" in plan and "Brand#11" in plan, plan[:2000]
    # both lineitem consumers join against the broadcast part-key filter
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
    assert "partial_" in plan
    # structural check that the threshold aggregate consumes the JOINED
    # lineitem: in the one-operator-per-line tree string, every
    # HashAggregate on l_partkey must have a BroadcastHashJoin somewhere
    # below it (deeper in its input subtree = later lines).
    lines = plan.splitlines()
    agg_lines = [i for i, l in enumerate(lines)
                 if "HashAggregate" in l and "l_partkey" in l]
    join_lines = [i for i, l in enumerate(lines) if "BroadcastHashJoin" in l]
    assert agg_lines, plan[:2000]
    for i in agg_lines:
        assert any(j > i for j in join_lines), (
            f"HashAggregate on l_partkey at line {i} has no downstream "
            f"BroadcastHashJoin:\n{plan[:2000]}"
        )


def test_rollup_cube_expand_single_shuffle(spark):
    """Grouping sets plan as Expand + map-side partial agg + ONE shuffle on
    the expanded keys — not one scan/shuffle per grouping set."""
    for name in ("rollup_event_daily", "cube_event_user_bucket"):
        plan = plan_of(spark, name)
        assert "Expand" in plan, plan[:2000]
        assert "partial_" in plan
        assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
        assert plan.count("Scan parquet") == 1


def test_pivot_two_phase_partial(spark):
    """Pivot = per-(day, type) partial agg, then partial_pivotfirst — both
    phases map-side combined, single scan."""
    plan = plan_of(spark, "pivot_daily_event_counts")
    assert "pivotfirst" in plan, plan[:2000]
    assert "partial_pivotfirst" in plan
    assert "partial_count" in plan
    assert plan.count("Scan parquet") == 1


def test_set_ops_broadcast_no_cartesian(spark):
    """INTERSECT/EXCEPT shapes: map-side dedup (HashAggregate below the
    exchange) + broadcast hash join — never a nested loop."""
    for name in ("set_ops_event_types", "except_click_no_purchase"):
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan, plan[:2000]
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # distinct is two-phase: an aggregate on each side of the exchange
        assert plan.count("HashAggregate") >= 2


def test_count_distinct_two_phase(spark):
    """count(distinct) expands to the (type, user) pre-aggregate before the
    per-type merge — the shuffle moves deduped pairs, not raw events."""
    plan = plan_of(spark, "distinct_users_per_type")
    assert "partial_count(distinct" in plan, plan[:2000]
    assert plan.count("Exchange hashpartitioning") == 2


def test_cosine_lsh_banded_equi_join(spark):
    """Banded hyperplane LSH must stay an equi-join on (band, bucket) —
    candidate generation linear in collisions, never a cross product —
    and OR-across-bands dedup must be present (the pair distinct)."""
    plan = plan_of(spark, "cosine_lsh_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapCoGroupsInPandas" not in plan  # not the quadratic path


def test_cosine_pairs_no_driver_collect(spark):
    """The exact all-pairs path must be a distributed cogroup over the
    block grid — FlatMapCoGroupsInPandas in the plan, no CartesianProduct,
    no BroadcastNestedLoopJoin (and, by construction, no toPandas)."""
    plan = plan_of(spark, "cosine_pairs")
    assert "FlatMapCoGroupsInPandas" in plan, plan[:2000]
    assert "CartesianProduct" not in plan


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the same key with the same bucket count must
    sort-merge-join with ZERO Exchange — the write-once/join-many
    co-location path write_bucketed exists for."""
    from processor_edf_spark.sinks.writers import write_bucketed

    events = spark.read.parquet(f"{SF_SMALL}/events.parquet").select(
        "user_id", "event_type", "value"
    )
    users = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .groupBy("user_id")
        .count()
    )
    for name in ("bkt_events", "bkt_users"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    write_bucketed(events, "bkt_events", "user_id", 8, str(tmp_path / "e"))
    write_bucketed(users, "bkt_users", "user_id", 8, str(tmp_path / "u"))

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast so the join must pick SMJ/shuffle strategy
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bkt_events").join(spark.table("bkt_users"), "user_id")
        joined.collect()  # AQE finalizes only on execution
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan[:2000]
        assert "Exchange hashpartitioning" not in plan, (
            "bucketed join re-shuffled:\n" + plan[:2000]
        )
        assert "Bucketed: true" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for name in ("bkt_events", "bkt_users"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_q2_window_over_aggregated_offers(spark):
    """Q2's correlated MIN subquery plans as one window over the (small)
    aggregated offer table — the lineitem fact is scanned once, dims all
    broadcast."""
    plan = plan_of(spark, "q2_min_cost_supplier")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "Window" in plan
    assert plan.count("Scan parquet") <= 5  # lineitem + 4 dims, no rescan


def test_q7_nation_filter_before_orders_shuffle(spark):
    """Q7: the supplier-nation broadcast filter prunes lineitem BEFORE the
    orders join, and nation appears twice (both broadcast)."""
    plan = plan_of(spark, "q7_nation_volume")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


def test_q13_left_join_preserves_zero_count_customers(spark):
    """Q13: the orders filter lives INSIDE the left join (zero-order
    customers survive with count 0), and the plan is join → two
    aggregates with partial stages."""
    plan = plan_of(spark, "q13_order_count_distribution")
    assert "LeftOuter" in plan
    assert plan.count("HashAggregate") >= 4  # two aggs × (partial, final)


def test_q15_scalar_max_as_broadcast_not_rescan(spark):
    """Q15: the MAX(total_revenue) scalar subquery must reuse the per-
    supplier aggregate (broadcast of a 1-row agg), not rescan lineitem."""
    plan = plan_of(spark, "q15_top_supplier")
    assert plan.count("Scan parquet") <= 3  # lineitem ≤2 (AQE may reuse), supplier
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_q19_quantity_range_pushed_through_disjunction(spark):
    """Q19: Catalyst factors the qty-range union out of the OR-of-ANDs and
    pushes it to the lineitem scan, so the join builds on a pre-pruned
    fact subset."""
    plan = plan_of(spark, "q19_disjunctive_revenue")
    assert "BroadcastHashJoin" in plan
    pushed = plan.split("PushedFilters:")[1][:300] if "PushedFilters:" in plan else ""
    assert "l_quantity" in pushed, plan[:2500]


def test_q21_single_lineitem_scan_family(spark):
    """Q21: the EXISTS / NOT-EXISTS pair is one grouped pass + self-join —
    no cartesian, and the supplier dim broadcasts."""
    plan = plan_of(spark, "q21_lone_fault_supplier")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_q22_anti_join_with_pushed_date_filter(spark):
    """Q22: NOT EXISTS plans as LEFT ANTI; the 1999+ date filter pushes to
    the orders scan below the anti join."""
    plan = plan_of(spark, "q22_idle_rich_customers")
    assert "LeftAnti" in plan
    assert "PushedFilters:" in plan and "o_orderdate" in plan


def test_semdedup_label_equi_join_no_cartesian(spark):
    """SemDeDup's per-cluster quadratic must be a label equi-join (hash
    co-partitioned clusters), never a cartesian, and the survivor filter a
    LEFT ANTI."""
    plan = plan_of(spark, "semdedup_label")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftAnti" in plan


def test_ngram_profile_partial_agg_after_explode(spark):
    """The trigram explode must be followed by a partial aggregate so the
    shuffle carries (lang, gram) counts, not the exploded corpus."""
    plan = plan_of(spark, "ngram_lang_profile")
    assert "Generate" in plan  # explode
    assert "partial_count" in plan or "partial_" in plan
    assert "WindowGroupLimit" in plan


def test_levenshtein_pairs_blocked_equi_join(spark):
    """The edit-distance DP must run only inside (lang, prefix) blocks —
    an equi-join on the block key, never an all-pairs nested loop."""
    plan = plan_of(spark, "levenshtein_block_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_levenshtein_pairs_no_static_corpus_broadcast(spark):
    """The block join's build side is the full document table — unbounded
    at corpus scale, so a HARD broadcast hint is an executor OOM at
    100 TB.  The plan must carry no broadcast hint: the strategy has to
    come from size stats (Catalyst/AQE may still broadcast when the
    observed build side is genuinely small — that's correct).  Pinned two
    ways: (1) the optimized logical join has no hint attached, (2) with
    the size-based broadcast path disabled — simulating a build side too
    big to broadcast — the join degrades to a shuffle join, which a hard
    hint would prevent."""
    df = QUERIES["levenshtein_block_pairs"](spark, SF_SMALL)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in optimized, optimized[:2000]
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        big = QUERIES["levenshtein_block_pairs"](spark, SF_SMALL)
        plan = big._jdf.queryExecution().sparkPlan().toString()
        assert "BroadcastExchange" not in plan, plan[:2000]
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_stratified_sample_window_group_limit(spark):
    """Per-stratum top-n must rewrite to WindowGroupLimit so a skewed
    stratum caps at n rows per partition before the shuffle."""
    plan = plan_of(spark, "stratified_sample_lang")
    assert "WindowGroupLimit" in plan, plan[:2000]


def test_bm25_global_topk_is_take_ordered(spark):
    """The global top-k must be TakeOrderedAndProject (per-partition
    heaps), never a single-partition sort/window over every scored doc."""
    plan = plan_of(spark, "bm25_top_docs")
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_knn_graph_blocked_cogroup_no_cartesian(spark):
    """Exact kNN graph must be the blocked cogroup grid (cosine_pairs
    layout), not a cartesian/broadcast-nested-loop pair join."""
    plan = plan_of(spark, "knn_graph_bruteforce")
    assert "FlatMapCoGroupsInPandas" in plan, plan[:2000]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_funnel_filters_ride_the_scan(spark):
    """The funnel-stage filter must reach the parquet scan: the window
    sees only click/purchase rows, never the full event firehose."""
    plan = plan_of(spark, "funnel_conversion")
    assert "PushedFilters: [" in plan and "In(event_type" in plan, plan[:2000]


def test_contamination_benchmark_join_no_cartesian(spark):
    """Contamination overlap is an equi-join on the shingle key; the
    benchmark side is distinct shingles (AQE may broadcast), never a
    cartesian expansion."""
    plan = plan_of(spark, "contamination_ngram_overlap")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_knn_lsh_no_cartesian_banded_only(spark):
    """The approximate kNN graph must stay LSH-bucketed: per-key window
    over banded collisions — no cartesian, no grid cogroup."""
    plan = plan_of(spark, "knn_graph_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_dim_stats_partial_agg(spark):
    """The 64-key dimension rollup must partial-aggregate before its
    shuffle (HashAggregate below the Exchange)."""
    plan = plan_of(spark, "embedding_dim_stats")
    assert plan.index("HashAggregate") < plan.index("Exchange"), plan[:1500]


def test_cohort_retention_no_cartesian(spark):
    plan = plan_of(spark, "cohort_retention")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_funnel_k_stages_window_chain_one_shuffle(spark):
    """The k-stage funnel's chained window aggregates all share the
    user_id partitioning: the per-event phase costs ONE
    hashpartitioning exchange regardless of k (the 4-row stage unpivot
    adds only a single-partition exchange), and the stage predicate
    rides the parquet scan."""
    plan = plan_of(spark, "funnel_k_stages")
    assert "In(event_type" in plan, plan[:2000]
    n_hash = plan.count("Exchange hashpartitioning")
    assert n_hash == 1, f"expected 1 hash exchange, got {n_hash}:\n{plan[:3000]}"
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("name", ["split_assignment", "normalize_text"])
def test_projection_queries_shuffle_free(spark, name):
    """split_assignment and normalize_text are pure projections: zero
    exchanges — at 100 TB they ride the scan."""
    plan = plan_of(spark, name)
    assert "Exchange" not in plan, plan[:2000]


def test_chunk_documents_shuffle_free(spark):
    """Chunking is an explode + array slices riding the scan: zero
    exchanges."""
    plan = plan_of(spark, "chunk_documents")
    assert "Exchange" not in plan, plan[:2000]


def test_bigram_lm_partial_agg_rides_explode(spark):
    """Bigram counting must partial-aggregate before its shuffle (the
    shuffle carries (w1,w2) partial counts, not the exploded corpus), and
    scoring must be equi-joins; the only non-equi join allowed is the
    1-row vocabulary-size scalar broadcast cross (the q15/tfidf scalar
    shape)."""
    plan = plan_of(spark, "bigram_lm_surprisal")
    assert "partial_count" in plan or "partial" in plan.lower(), plan[:2000]
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan[:2000]
    assert "BroadcastNestedLoopJoin BuildRight, Cross" in plan, plan[:2000]


def test_jaccard_prefix_pairs_equi_join_no_cartesian(spark):
    """Candidate generation must be the prefix-token equi-join (hash join
    on tok with the doc_a < doc_b residual), never a cartesian or
    broadcast-nested-loop pair join."""
    plan = plan_of(spark, "jaccard_prefix_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_weighted_sample_global_topk_is_take_ordered(spark):
    """The k smallest A-ES keys must come from TakeOrderedAndProject
    (per-partition heaps + k-row driver merge), never a global sort or a
    single-partition window over the whole corpus."""
    plan = plan_of(spark, "weighted_sample_aes")
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_zorder_layout_partial_agg(spark):
    """The z-bucket manifest agg must be map-side partial: the shuffle
    carries 64 bucket keys of partial min/max, not event rows."""
    plan = plan_of(spark, "zorder_layout")
    assert "partial" in plan.lower(), plan[:2000]
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]


def test_gopher_flags_shuffle_free(spark):
    """The rule gate is pure per-row array expressions: zero exchanges —
    at 100 TB it rides the scan like split_assignment/normalize_text."""
    plan = plan_of(spark, "gopher_quality_flags")
    assert "Exchange" not in plan, plan[:2000]


def test_dsir_importance_no_cartesian_two_scalar_crosses(spark):
    """DSIR scoring must stay equi-joins (raw inner, target left) with
    exactly the two 1-row scalar broadcast crosses (V, V_target)."""
    plan = plan_of(spark, "dsir_importance")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 2, plan[:2000]


def test_shingle_novelty_partial_agg_equi_join(spark):
    """Novelty must be two linear aggs joined on the shingle key —
    partial agg rides the explode, never a cartesian."""
    plan = plan_of(spark, "shingle_novelty")
    assert "partial" in plan.lower(), plan[:2000]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_anomaly_robust_z_broadcast_stats_no_smj(spark):
    """The median/MAD stats dim (|event_type| rows) must join back to
    events as a broadcast hash join — a sort-merge join here would
    shuffle the full fact side twice at 100 TB for a 5-row dim."""
    plan = plan_of(spark, "anomaly_robust_z")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_time_weighted_avg_single_shuffle(spark):
    """Lag window and (user, day) aggregation share one partitioning:
    the whole query costs a single hash exchange."""
    plan = plan_of(spark, "time_weighted_avg_daily")
    n_hash = plan.count("Exchange hashpartitioning")
    assert n_hash == 1, f"expected 1 hash exchange, got {n_hash}:\n{plan[:2000]}"


def test_ewma_single_shuffle(spark):
    """The bounded-frame fold is one window over one user_id shuffle —
    state is 20 doubles per frame, no join, no second exchange."""
    plan = plan_of(spark, "ewma_user_values")
    n_hash = plan.count("Exchange hashpartitioning")
    assert n_hash == 1, f"expected 1 hash exchange, got {n_hash}:\n{plan[:2000]}"


def test_gap_fill_no_cartesian_user_keyed_exchanges(spark):
    """Grid join and forward-fill window stay (user, …)-keyed equi
    operations — no cartesian/nested-loop anywhere in the fill."""
    plan = plan_of(spark, "gap_fill_hourly")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_grouping_sets_single_expand_single_shuffle(spark):
    """GROUPING SETS must plan as ONE Expand + one two-phase aggregate:
    the scan is read once and the shuffle carries |levels|·|groups|
    partial states, not three separate scans."""
    plan = plan_of(spark, "grouping_sets_revenue")
    assert plan.count("Expand") == 1, plan[:2000]
    assert "partial_" in plan
    n_hash = plan.count("Exchange hashpartitioning")
    assert n_hash == 1, f"expected 1 hash exchange, got {n_hash}:\n{plan[:2000]}"
    assert plan.count("Scan parquet") == 1


def test_dup_span_coverage_broadcast_dup_dim_no_cartesian(spark):
    """The thresholded dup-gram dim joins back to the gram stream as a
    broadcast/equi join; the interval-union window stays per-doc.  Pair
    enumeration (cartesian) must never appear."""
    plan = plan_of(spark, "dup_span_coverage")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_" in plan


def test_rolling_median_single_shuffle(spark):
    """Trailing-21 median is one window over one user_id shuffle —
    the sort-per-frame stays inside the window operator."""
    plan = plan_of(spark, "rolling_median_user")
    n_hash = plan.count("Exchange hashpartitioning")
    assert n_hash == 1, f"expected 1 hash exchange, got {n_hash}:\n{plan[:2000]}"


def test_scd2_single_shuffle_no_self_join(spark):
    """The SCD2 history build is ONE lead window — a self-join on
    "next change" would shuffle the log twice."""
    plan = plan_of(spark, "scd2_user_value_history")
    n_hash = plan.count("Exchange hashpartitioning")
    assert n_hash == 1, f"expected 1 hash exchange, got {n_hash}:\n{plan[:2000]}"
    assert "Join" not in plan


def test_triangle_count_equi_joins_only(spark):
    """Degree-ordered node-iterator: wedge formation and the closing
    probe are plain equi-joins — never a cartesian."""
    plan = plan_of(spark, "triangle_count_nn")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_substring_rewrite_no_cartesian_partial_agg(spark):
    """The rewrite joins the gram stream to the thresholded dup dim on
    the gram key (partial-agg'd) — no pair enumeration, and only grams
    shuffle, never document text."""
    plan = plan_of(spark, "dedup_substring_rewrite")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_" in plan


def test_debounce_single_shuffle(spark):
    """Gap-based thinning is one lag window on (user, type) — single
    hash exchange, integer predicate, no join."""
    plan = plan_of(spark, "dedup_events_debounce")
    n_hash = plan.count("Exchange hashpartitioning")
    assert n_hash == 1, f"expected 1 hash exchange, got {n_hash}:\n{plan[:2000]}"
    assert "Join" not in plan


def test_percent_rank_single_shuffle(spark):
    plan = plan_of(spark, "value_percent_rank")
    n_hash = plan.count("Exchange hashpartitioning")
    assert n_hash == 1, f"expected 1 hash exchange, got {n_hash}:\n{plan[:2000]}"


def test_trend_window_and_agg_share_partitioning(spark):
    """Centering window and moment aggregation both key on user_id —
    the regression-as-aggregation costs ONE shuffle."""
    plan = plan_of(spark, "user_value_trend")
    n_hash = plan.count("Exchange hashpartitioning")
    assert n_hash == 1, f"expected 1 hash exchange, got {n_hash}:\n{plan[:2000]}"


def test_table_profile_partial_agg_single_scan(spark):
    """The 5-column profile reads events ONCE (multi-distinct expand),
    with partial aggregation before the exchange."""
    plan = plan_of(spark, "table_profile_events")
    assert plan.count("Scan parquet") == 1, plan[:2000]
    assert "partial_" in plan


def test_full_outer_partial_aggs_no_cartesian(spark):
    """Both daily aggregates partial-agg before their exchanges; the
    reconciliation is a keyed full-outer — never a nested loop."""
    plan = plan_of(spark, "full_outer_daily_activity")
    assert "FullOuter" in plan, plan[:2000]
    assert "partial_" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_correlation_single_shuffle(spark):
    """Centering window and the five moment sums share the user_id
    partitioning — one shuffle, like user_value_trend."""
    plan = plan_of(spark, "user_value_correlation")
    n_hash = plan.count("Exchange hashpartitioning")
    assert n_hash == 1, f"expected 1 hash exchange, got {n_hash}:\n{plan[:2000]}"


def test_approx_percentile_audit_broadcasts_sketch_frame(spark):
    """The 5-row per-group sketch frame joins back BROADCAST — the rank
    check must never shuffle the events side on event_type (a hot
    5-value key would make that the worst possible shuffle)."""
    plan = plan_of(spark, "approx_percentile_audit")
    assert "BroadcastHashJoin" in plan
    assert "partial_percentile_approx" in plan or "partial" in plan


def test_rolling_7d_contribution_explode_then_partial_distinct(spark):
    """The WAU query must be the linear shape: a generator explode for
    the 7-day contributions (never a range self-join) feeding two-phase
    partial distinct; the max-day cap is a broadcast of a 1-row agg."""
    plan = plan_of(spark, "rolling_7d_active_users")
    assert "Generate explode" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row cap frame
    assert "partial_count(distinct" in plan
    assert "SortMergeJoin" not in plan


def test_session_dwell_single_shuffle_family(spark):
    """lag window and groupBy share the user_id key: exactly ONE
    exchange on user_id (the window's), with the aggregation running
    partial→final on the window's partitioning, not re-shuffling."""
    plan = plan_of(spark, "session_dwell_stats")
    assert plan.count("Exchange hashpartitioning(user_id") == 1
    assert "partial_count" in plan


def test_interp_reuses_gap_fill_grid_shape(spark):
    """The interpolation flavor keeps the ffill flavor's plan family:
    grid explode rides the span aggregate and every window runs on the
    (user, day) partitioning — no extra exchange for the four context
    windows."""
    plan = plan_of(spark, "interp_linear_hourly")
    assert "Generate explode(sequence" in plan
    # windows over (user_id, day) reuse one partitioning: the plan has
    # exchanges for (user,hour-trunc) rank, the span agg, and the
    # (user,day) window family — the 4 context windows add none
    assert plan.count("Exchange") <= 4, plan[:3000]


def test_partitioned_write_prunes_at_plan_time(spark, tmp_path):
    """A dt= partitioned layout must turn a day predicate into a
    PartitionFilter — the scan's PartitionCount drops to the matching
    day and the excluded days cost zero I/O (the coarse layout lever
    above row-group skipping, below z-order)."""
    from pyspark.sql import functions as F

    from processor_edf_spark.plans.registry import load
    from processor_edf_spark.sinks.writers import write_partitioned_daily

    (events,) = load(spark, SF_SMALL, "events")
    out = str(tmp_path / "events_daily")
    write_partitioned_daily(events, out)

    back = spark.read.parquet(out)
    one_day = back.filter(F.col("dt") == "2024-01-05")
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "dt" in plan.split(
        "PartitionFilters"
    )[1][:200]
    # the filter must NOT appear as a post-scan Filter over all rows
    assert "PushedFilters: []" in plan or "Filter (dt" not in plan
    # correctness: pruned read equals the unpartitioned filter
    want = events.filter(
        F.date_format("ts", "yyyy-MM-dd") == "2024-01-05"
    ).count()
    assert one_day.count() == want and want > 0
    # small-files discipline: one day directory -> its own files, and
    # no day directory exploded into per-task shards
    import glob

    days = glob.glob(f"{out}/dt=*")
    assert len(days) >= 25
    worst = max(len(glob.glob(f"{d}/*.parquet")) for d in days)
    assert worst <= 4, f"small-files regression: {worst} files in one day"


def test_merge_upsert_no_join_windows_reuse_partitioning(spark):
    """The MERGE upsert must stay the union+window plan: each side's
    latest-row window shuffles its slice once (2 exchanges total), the
    merge window runs on the unioned partitioning WITHOUT a third
    exchange, every row_number()==1 executes as WindowGroupLimit (never
    a full sort + filter), and NO join operator appears — a
    full-outer-join merge would double the shuffled volume."""
    plan = plan_of(spark, "merge_upsert_current")
    assert plan.count("Exchange hashpartitioning(user_id") == 2
    assert plan.count("WindowGroupLimit") >= 3
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert op not in plan, op


def test_cooccurrence_lift_broadcasts_dimension_sides(spark):
    """The pair frame joins its type-count and user-count sides as
    broadcasts; the self-join runs on the distinct (user, type) frame,
    so no exchange carries raw events into the pair generation."""
    plan = plan_of(spark, "event_cooccurrence_lift")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row n_users frame


@pytest.mark.parametrize(
    "name", ["percent_rank_cdf", "cume_dist_cdf", "ntile_cdf"]
)
def test_cdf_rank_family_never_windows_over_rows(spark, name):
    """The skew-mitigation contract for the whole two-phase rank
    family: no plan may contain a window partitioned by event_type
    alone ordered by value (the rows-level sort that serializes a hot
    partition).  Allowed windows run over the distinct-value frame —
    within-bucket cumsum keyed by (event_type, bucket), the tiny
    bucket-offset frame, and (ntile only) the per-(type, value)
    tie-group row_number; the offset/totals frames join back
    broadcast."""
    plan = plan_of(spark, name)
    import re

    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        head = spec.split(",")[0]
        if "value" in spec and "bucket" not in spec:
            # the only value-ordered window allowed is ntile's
            # tie-group row_number, partitioned by (type, VALUE) —
            # i.e. value appears as a PARTITION key before the
            # order-by, never as the sole ordering of a type window
            assert spec.split(",")[1].strip().startswith("value"), (
                f"rows-level window resurfaced in {name}: {spec}\n"
                f"{plan[:2000]}"
            )
        assert head.strip().startswith("event_type"), spec
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]


@pytest.mark.parametrize(
    "name",
    [
        "webp_decode_stats",
        "flac_decode_stats",
        "h264_decode_stats",
        "tiff_decode_stats",
    ],
)
def test_codec_rows_spread_across_shuffle_width(spark, name):
    """The pure-python codec kernels (~ms per payload) must never
    serialize into one task on a small single-file scan — the measured
    hazard that first cost webp_decode_stats 6.9 s before spread().
    Pin: the mapInPandas input carries at least the session's shuffle
    width of partitions, and the plan shows the widening Exchange."""
    df = QUERIES[name](spark, SF_SMALL)
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert df.rdd.getNumPartitions() >= width
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange RoundRobinPartitioning" in plan, plan[:1500]


def test_pq_adc_no_join_no_cartesian(spark):
    """pq_adc_exact: encode + ADC are broadcast Arrow passes — the plan
    must contain NO join at all (the LUTs travel as broadcast
    variables, not join relations); the only exchange is the per-query
    top-k window's."""
    plan = plan_of(spark, "pq_adc_exact")
    assert "CartesianProduct" not in plan
    assert "Join" not in plan, plan[:2000]
    assert "WindowGroupLimit" in plan  # top-k sort is rank-limited


def test_ivf_pq_rerank_broadcasts_queries(spark):
    """ivf_pq_search_exact: the exact re-rank joins the tiny query frame
    as a broadcast — never a shuffled join against q rows."""
    plan = plan_of(spark, "ivf_pq_search_exact")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan


def test_hash_embed_stats_no_shuffle_after_embed(spark):
    """hash_embed_stats: embed -> posexplode -> project is
    partition-local; the plan must contain no aggregation and no join
    (the only exchange allowed is spread()'s input repartition)."""
    plan = plan_of(spark, "hash_embed_stats")
    assert "Join" not in plan
    assert "HashAggregate" not in plan
    assert "Generate explode" in plan or "Generate posexplode" in plan, (
        plan[:1500]
    )


def test_mp3_row_is_scan_side_only(spark):
    """mp3_decode_stats: encode/decode runs inside the scan-side Arrow
    pass; no join, no aggregation — stats are per-doc rows."""
    plan = plan_of(spark, "mp3_decode_stats")
    assert "Join" not in plan
    assert "HashAggregate" not in plan


# ---------------------------------------------------------------------------
# EDF pipeline: quarantine rides the slice scans
# ---------------------------------------------------------------------------

_PYTHON_NODE = re.compile(
    r"\b(MapInPandas|MapInArrow|PythonMapInArrow|ArrowEvalPython|BatchEvalPython"
    r"|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|AggregateInPandas|WindowInPandas)\b"
)


@pytest.fixture(scope="module")
def edf_quarantine_dir(tmp_path_factory):
    from tests.edf_fixtures import sine, write_edf

    d = tmp_path_factory.mktemp("edf_plans")
    for i in range(2):
        write_edf(
            str(d / f"f{i}.edf"),
            signals=[{"label": f"s{j}", "rate": 64, "gen": sine(1.0 + j)} for j in range(2)],
            nb_data_rec=6,
            variant="EDF+D",
            record_offsets_sec=[0.0, 1.0, 4.0, 5.0, 6.0, 9.0],
            annotations_per_record={1: [(1.5, 0.5, f"event{i}")], 4: [(6.25, None, "x")]},
        )
    (d / "bad.edf").write_bytes(b"not an edf file" * 40)
    return str(d)


def test_edf_quarantine_plans_have_no_probe(spark, edf_quarantine_dir):
    """process_edf_directory(quarantine=True): every scan runs the header
    probe on the header it reads anyway, so the samples and annotations
    plans are one Python scan each and no plan joins the listing against
    a status table on ``path``.  The channels plan has no Python node:
    its one metadata scan (the chunk runs) lives in the call's
    checkpoint, which it reads."""
    from processor_edf_spark.pipeline import process_edf_directory

    samples, channels, annotations = process_edf_directory(
        spark, edf_quarantine_dir, quarantine=True
    )
    plans = {
        name: df._jdf.queryExecution().executedPlan().toString()
        for name, df in [("samples", samples), ("channels", channels),
                         ("annotations", annotations)]
    }
    counts = {name: len(_PYTHON_NODE.findall(p)) for name, p in plans.items()}
    assert counts == {"samples": 1, "channels": 0, "annotations": 1}, counts
    for name, p in plans.items():
        assert not re.search(r"BroadcastHashJoin \[path#\d+\]", p), (name, p[:3000])
    assert samples.select("file").distinct().count() == 2


def test_edf_channels_plan_has_one_per_channel_aggregate(spark, edf_quarantine_dir):
    """Bounds, count and chunk list come from ONE aggregate by channel id
    over one run of the merge windows, joined to the registry once as a
    broadcast — not a bounds branch and a chunk-list branch that each
    re-run the merge windows and join back."""
    from processor_edf_spark.pipeline import process_edf_directory

    _, channels, _ = process_edf_directory(spark, edf_quarantine_dir, quarantine=True)
    plan = channels._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bcollect_list\(", plan)) == 1, plan
    assert len(re.findall(r"\bpartial_collect_list\(", plan)) == 1, plan
    assert len(re.findall(r"Window \[lag\(end", plan)) == 1, plan  # the merge window
    assert "SortMergeJoin" not in plan, plan
    assert len(re.findall(r"BroadcastHashJoin \[id#\d+\], \[m_id#\d+\]", plan)) == 1, plan


def test_edf_append_metadata_job_count(spark, tmp_path):
    """process_edf_directory + channel_dicts in append mode on a 3-file
    EDF+D directory start at most 10 Spark jobs, on every call of a
    session.  The plan with a separate header scan and a bounds and a
    chunk-list branch, each shuffle-joined to the registry, started 13
    here; one checkpointed metadata scan, one per-channel aggregate and
    one file shuffle for the registry's two file-clustered windows take
    3 off."""
    from processor_edf_spark.pipeline import channel_dicts, process_edf_directory
    from tests.edf_fixtures import write_edf_fast

    for i in range(3):
        write_edf_fast(str(tmp_path / f"f{i}.edf"), n_signals=2, rate=64, nb_rec=20,
                       variant="EDF+D", gap_every=7, gap_sec=3.0)
    registry = spark.createDataFrame(
        [("ch-1", "CH00", 64.0, "CONTINUOUS")], "id string, name string, rate double, type string"
    )
    sc = spark.sparkContext
    try:
        for call in range(2):
            group = f"edf-append-jobs-{call}"
            sc.setJobGroup(group, group)
            _, channels, _ = process_edf_directory(
                spark, str(tmp_path), existing_channels=registry, quarantine=True
            )
            dicts = channel_dicts(channels)
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            assert jobs <= 10, jobs
            assert sorted((d["name"], d["id"]) for d in dicts) == [
                ("ch00", "ch-1"), ("ch01", "f0.edf#1")
            ]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_warm_rounds_compile_no_code(spark, tmp_path):
    """Once a round of the EDF append pass and corpus_job_report has run,
    a second round of the EDF pass compiles no generated class: the
    session's codegen cache holds both working sets.  At Spark's default
    of 100 entries the two evict each other's classes, and every round
    recompiled all of them: 91 in the EDF pass, 88 in corpus_job_report.
    corpus_job_report keeps a small allowance: when both sides of a
    connected-components label join are small, AQE picks the side to
    broadcast at run time from the stages that have finished, and it
    numbers whole-stage classes in the order it plans them; a pick or a
    numbering it has not made before is new source (3-6 classes in a
    round)."""
    from processor_edf_spark.pipeline import channel_dicts, process_edf_directory
    from processor_edf_spark.sinks.writers import write_annotations_json, write_reference_compatible
    from processor_edf_spark.sources.edf import file_status, scan_edf_files
    from tests.edf_fixtures import write_edf_fast

    edf = tmp_path / "edf"
    edf.mkdir()
    for i in range(3):
        write_edf_fast(str(edf / f"f{i}.edf"), n_signals=2, rate=64, nb_rec=20,
                       variant="EDF+D", gap_every=7, gap_sec=3.0)
    registry = spark.createDataFrame(
        [("ch-1", "CH00", 64.0, "CONTINUOUS")], "id string, name string, rate double, type string"
    )
    compilations = (
        spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    )

    def one_round(k: int) -> tuple[int, int]:
        """Classes compiled by the EDF pass and by corpus_job_report."""
        out = tmp_path / f"out{k}"
        c0 = compilations.getCount()
        samples, channels, annotations = process_edf_directory(
            spark, str(edf), existing_channels=registry, quarantine=True
        )
        file_status(scan_edf_files(spark, str(edf))).collect()
        dicts = channel_dicts(channels)
        write_reference_compatible(samples, dicts, str(out / "reference"))
        write_annotations_json(annotations, str(out / "annotations"))
        c1 = compilations.getCount()
        QUERIES["corpus_job_report"](spark, SF_SMALL).write.parquet(str(out / "report"))
        return c1 - c0, compilations.getCount() - c1

    one_round(0)
    edf_classes, report_classes = one_round(1)
    assert edf_classes == 0
    assert report_classes <= 10, report_classes


def test_annotations_sink_keeps_decode_parallel(spark, edf_quarantine_dir, tmp_path):
    """write_annotations_json: one shuffle to a single partition AFTER the
    TAL parse — no ``Coalesce 1`` above the annotation MapInPandas, which
    would run every file's annotation decode in the one writer task."""
    from processor_edf_spark.pipeline import process_edf_directory
    from processor_edf_spark.sinks.writers import _annotation_json_rows, write_annotations_json

    _, _, annotations = process_edf_directory(spark, edf_quarantine_dir, quarantine=True)
    plan = _annotation_json_rows(annotations)._jdf.queryExecution().executedPlan().toString()
    assert "Coalesce" not in plan, plan
    single = plan.index("Exchange SinglePartition")
    assert plan.index("MapInPandas") > single, plan  # the decode sits below it

    out = tmp_path / "annotations"
    write_annotations_json(annotations, str(out))
    (part,) = out.glob("part-*.json")  # still a single output file
    texts = [json.loads(line)["text"] for line in part.read_text().splitlines()]
    assert texts == ["event0", "x", "event1", "x"]
