"""Scale-property assertions on physical plans (SURVEY §4): pushdown
reaches the scan, dim joins broadcast, projections prune, hot paths
stay in codegen, shuffles stay minimal."""

from __future__ import annotations

from pyspark.sql import functions as F

from streaming_data_spark import plans
from streaming_data_spark.queries import (
    q_j1_dim_fact_join,
    q_p4_filter_project,
    q_q1_pricing_summary,
    q_q3_shipping_priority,
)
from streaming_data_spark.schemas import load_table


def test_filter_pushdown_reaches_scan(spark, sf_small):
    df = q_p4_filter_project(spark, sf_small)
    pushed = plans.pushed_filters(df)
    assert any("event_type" in p for p in pushed), pushed


def test_projection_prunes_scan(spark, sf_small):
    df = load_table(spark, sf_small, "lineitem").select("l_orderkey", "l_quantity")
    schemas = plans.read_schema_columns(df)
    assert schemas and set(schemas[0]) == {"l_orderkey", "l_quantity"}, schemas


def test_q1_scan_prunes_to_needed_columns(spark, sf_small):
    df = q_q1_pricing_summary(spark, sf_small)
    schemas = plans.read_schema_columns(df)
    assert schemas, "expected a file scan"
    read = set(schemas[0])
    assert "l_orderkey" not in read and "l_partkey" not in read, read
    assert {"l_returnflag", "l_linestatus", "l_quantity"} <= read


def test_dim_join_broadcasts(spark, sf_small):
    df = q_j1_dim_fact_join(spark, sf_small)
    assert plans.has_broadcast_join(df)
    # broadcast join ⇒ no shuffle of the fact side at all
    assert plans.shuffle_count(df) == 0, plans.explain_str(df)


def test_q3_broadcasts_dim_and_stays_in_codegen(spark, sf_small):
    df = q_q3_shipping_priority(spark, sf_small)
    assert plans.has_broadcast_join(df)
    assert plans.has_whole_stage_codegen(df)


def test_agg_single_shuffle(spark, sf_small):
    """groupBy on one key = exactly one exchange (partial aggs map-side)."""
    events = load_table(spark, sf_small, "events")
    df = events.groupBy("user_id").agg(F.sum("value").alias("s"))
    assert plans.shuffle_count(df) == 1, plans.explain_str(df)


def test_q5_pushes_date_filter_and_broadcasts_dims(spark, sf_small):
    from streaming_data_spark.queries_ext4 import q_q5_regional_revenue

    df = q_q5_regional_revenue(spark, sf_small)
    pushed = plans.pushed_filters(df)
    assert any("o_orderdate" in p for p in pushed), pushed
    assert plans.has_broadcast_join(df)


def test_salted_agg_two_exchanges(spark, sf_small):
    """Explicit two-phase salt = exactly two exchanges: (key, salt)
    then key."""
    from streaming_data_spark.operators import skew

    lineitem = load_table(spark, sf_small, "lineitem")
    df = skew.salted_agg(lineitem, ["l_suppkey"], {"l_quantity": "sum"})
    assert plans.shuffle_count(df) == 2, plans.explain_str(df)


def test_no_registry_query_uses_row_at_a_time_python(spark, sf_small):
    """Fleet-wide scale assertion: every registry query stays JVM-side
    or Arrow-batched — a BatchEvalPython node (row-at-a-time Python
    UDF) anywhere is a 10-100x regression at scale."""
    import __spark_entry__ as entry

    offenders = {}
    for name, fn in entry.queries().items():
        plan = plans.explain_str(fn(spark, sf_small))
        if "BatchEvalPython" in plan:
            offenders[name] = plan
    assert not offenders, f"row-at-a-time Python in: {sorted(offenders)}"


# Queries ALLOWED to carry a partition-less (single-task) Window.
# Every site operates on an aggregate-sized input whose row count is
# fixed by the dimension space, never by fact volume — documented at
# each call site:
_SANCTIONED_GLOBAL_WINDOWS = {
    "funnel_conversion",  # 3 funnel-step rows (queries_ext17)
    "funnel_in_session",  # 3 funnel-step rows (queries_ext27)
    "a20_rolling_corr",  # one row per calendar day (queries_ext21)
    "a23_topn_others",  # ~25 nation aggregates (queries_ext26)
    "a18_equidepth_hist",  # global ntile over doc lengths (queries_ext19)
    "a38_rfm_segments",  # 3 ntiles over the customer-grain aggregate (queries_ext45)
    "x54_auc",  # cumulative over the distinct-score histogram (queries_ext45)
    "x61_key_concentration",  # 2 rankings over the supplier-grain counts (queries_ext48)
    "a61_revenue_gini",  # rank over the customer-grain revenue aggregate (queries_ext55)
    "x82_vocab_coverage",  # rank over the bounded top-1000 vocab slice (queries_ext55)
    "a71_revenue_pareto",  # cumulative over the customer-grain revenue aggregate (queries_ext59)
    "a78_kaplan_meier",  # cumulative over the lifetime-grain (≤ calendar-days) KM table (queries_ext61)
    "a77_open_order_backlog",  # cumulative over the day-grain (≤ calendar-days) delta table (queries_ext62)
    "x94_spearman_supplier",  # 2 rankings over the supplier-grain aggregate (queries_ext60)
}


def test_partitionless_windows_only_at_sanctioned_sites(spark, sf_small):
    """Fleet-wide scale assertion: a Window with no PARTITION BY moves
    its whole input through ONE task — benign on the aggregate-sized
    inputs pinned above, fatal if one ever lands on a fact table. Any
    new partition-less window must either be re-keyed or explicitly
    added here with a justification (and the exact-set equality means
    removing one stale entry is also flagged)."""
    import __spark_entry__ as entry

    found = {
        name
        for name, fn in entry.queries().items()
        if plans.global_window_count(fn(spark, sf_small)) > 0
    }
    assert found == _SANCTIONED_GLOBAL_WINDOWS, (
        f"unsanctioned global windows: {sorted(found - _SANCTIONED_GLOBAL_WINDOWS)}; "
        f"stale sanctions: {sorted(_SANCTIONED_GLOBAL_WINDOWS - found)}"
    )


def test_w2_pagination_keyset_no_global_window(spark, sf_small):
    """Keyset pagination must compile to TakeOrderedAndProject — a
    single-partition global Window here funnels the whole table
    through one task at scale."""
    from streaming_data_spark.queries_ext3 import q_w2_pagination

    df = q_w2_pagination(spark, sf_small)
    text = plans.explain_str(df, mode="simple")
    assert "TakeOrderedAndProject" in text, text
    assert "Window" not in text, text
    assert plans.shuffle_count(df) == 0, text


def test_ivf_topk_assignment_is_shuffle_free(spark, sf_small):
    """Cell assignment is a per-row argmax over broadcast centroid
    literals: the ONLY exchange in the whole plan is the final
    per-query top-k over candidate rows (round 1 shuffled the corpus
    ×n_cells for the same answer)."""
    from streaming_data_spark.queries_ext4 import q_x8_ivf_topk

    df = q_x8_ivf_topk(spark, sf_small)
    assert plans.has_broadcast_join(df)
    assert plans.shuffle_count(df) == 1, plans.explain_str(df)


def test_q7_q8_broadcast_dims_and_push_date_filters(spark, sf_small):
    """The two-nation-leg joins must broadcast (nation/supplier legs
    are dims) and the date range must reach the fact scan."""
    from streaming_data_spark.queries_ext6 import q_q7_nation_volume, q_q8_market_share

    q7 = q_q7_nation_volume(spark, sf_small)
    assert plans.has_broadcast_join(q7)
    assert any("l_shipdate" in p for p in plans.pushed_filters(q7))
    # fact-side shuffles only: lineitem⋈orders, ⋈customer, final agg
    assert plans.shuffle_count(q7) <= 4, plans.explain_str(q7)

    q8 = q_q8_market_share(spark, sf_small)
    assert plans.has_broadcast_join(q8)
    assert any("o_orderdate" in p for p in plans.pushed_filters(q8))


def test_q10_topk_no_global_sort(spark, sf_small):
    """orderBy().limit(20) must compile to TakeOrderedAndProject —
    never a full global sort of the aggregate."""
    from streaming_data_spark.queries_ext6 import q_q10_returned_items

    df = q_q10_returned_items(spark, sf_small)
    text = plans.explain_str(df, mode="simple")
    assert "TakeOrderedAndProject" in text, text
    pushed = plans.pushed_filters(df)
    assert any("l_returnflag" in p for p in pushed), pushed


def test_q22_anti_join_pushes_cutoff(spark, sf_small):
    """The lapse cutoff must prune the orders scan feeding the
    anti-join (anti-join input at 100 TB = only the post-cutoff
    slice, not all orders ever)."""
    from streaming_data_spark.queries_ext6 import q_q22_idle_customers

    df = q_q22_idle_customers(spark, sf_small)
    assert any("o_orderdate" in p for p in plans.pushed_filters(df))


def test_interval_join_no_nested_loop(spark, sf_small):
    """The range join must compile to a keyed equi-join on the time
    bucket — a BroadcastNestedLoopJoin here is the O(n*m) cliff the
    operator exists to avoid."""
    from streaming_data_spark.queries_ext8 import q_j5_interval_join

    df = q_j5_interval_join(spark, sf_small)
    text = plans.explain_str(df)
    assert "BroadcastNestedLoopJoin" not in text, text
    assert "CartesianProduct" not in text, text

def test_q6_all_predicates_push_to_scan(spark, sf_small):
    """Q6 is pure filter+agg: shipdate, discount, and quantity
    predicates must ALL reach the parquet scan; one exchange only
    (the single-row final agg)."""
    from streaming_data_spark.queries_ext10 import q_q6_forecast_revenue

    df = q_q6_forecast_revenue(spark, sf_small)
    pushed = " ".join(plans.pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, pushed
    assert plans.shuffle_count(df) <= 1, plans.explain_str(df)


def test_q14_q19_broadcast_part_and_prune(spark, sf_small):
    """Part is a dim: both queries must broadcast it, and the
    per-side implications of q19's disjunction must reach both
    scans (brand/size on part, quantity envelope on lineitem)."""
    from streaming_data_spark.queries_ext10 import (
        q_q14_promo_revenue,
        q_q19_disjunctive_revenue,
    )

    q14 = q_q14_promo_revenue(spark, sf_small)
    assert plans.has_broadcast_join(q14)
    assert any("l_shipdate" in p for p in plans.pushed_filters(q14))

    q19 = q_q19_disjunctive_revenue(spark, sf_small)
    assert plans.has_broadcast_join(q19)
    pushed = " ".join(plans.pushed_filters(q19))
    assert "p_brand" in pushed, pushed
    assert "l_quantity" in pushed, pushed


def test_x16_decontaminate_broadcasts_benchmark_side(spark, sf_small):
    """The benchmark shingle set must broadcast — the training corpus
    is probed in place, never shuffled by shingle."""
    from streaming_data_spark.queries_ext11 import q_x16_decontaminate

    df = q_x16_decontaminate(spark, sf_small)
    assert plans.has_broadcast_join(df)


def test_x17_tfidf_term_join_is_not_broadcast(spark, sf_small):
    """The document-frequency table has one row per distinct token —
    vocabulary-sized, hundreds of millions of rows at 100 TB — so the
    TF⋈DF join must be a shuffled equi-join on `term`, never a
    broadcast hash join (broadcasting the vocabulary is a guaranteed
    driver/executor OOM at scale). The only broadcast allowed is the
    one-row corpus-size scalar (a BroadcastNestedLoopJoin)."""
    from streaming_data_spark.queries_ext11 import q_x17_tfidf_terms

    df = q_x17_tfidf_terms(spark, sf_small)
    text = plans.explain_str(df, mode="simple")
    assert "BroadcastHashJoin" not in text, text
    assert "ShuffledHashJoin" in text, text


def test_x18_vocab_topk_no_global_sort(spark, sf_small):
    """Global top-50 must be TakeOrderedAndProject over the token agg,
    not a full sort of the vocabulary."""
    from streaming_data_spark.queries_ext11 import q_x18_vocab_top_tokens

    df = q_x18_vocab_top_tokens(spark, sf_small)
    text = plans.explain_str(df, mode="simple")
    assert "TakeOrderedAndProject" in text, text


def test_x19_stratified_sample_is_shuffle_free(spark, sf_small):
    """The hash-bucket sample is a pure per-row predicate — zero
    exchanges anywhere in the plan."""
    from streaming_data_spark.queries_ext11 import q_x19_stratified_sample

    df = q_x19_stratified_sample(spark, sf_small)
    assert plans.shuffle_count(df) == 0, plans.explain_str(df)


def test_q9_star_join_fact_never_shuffles_before_agg(spark, sf_small):
    """All three dims (part/supplier/nation) broadcast — the lineitem
    fact's only exchange is the final (nation, year) rollup."""
    from streaming_data_spark.queries_ext13 import q_q9_profit_by_nation_year

    df = q_q9_profit_by_nation_year(spark, sf_small)
    assert plans.has_broadcast_join(df)
    assert plans.shuffle_count(df) == 1, plans.explain_str(df)
    # the one-type filter prunes at the part scan, not post-join
    assert any("p_type" in p for p in plans.pushed_filters(df))


def test_q15_pushes_date_filter_and_broadcasts_scalar_max(spark, sf_small):
    """The quarter filter reaches the lineitem scan; the max-revenue
    comparison is a broadcast of ONE row, never a re-aggregation per
    supplier row."""
    from streaming_data_spark.queries_ext13 import q_q15_top_supplier

    df = q_q15_top_supplier(spark, sf_small)
    assert any("l_shipdate" in p for p in plans.pushed_filters(df))
    assert plans.has_broadcast_join(df)


def test_x21_winnow_join_is_equi_join(spark, sf_small):
    """Winnowing pair discovery must go through the fingerprint
    equi-join — a nested-loop/cartesian pair scan is the O(n^2) cliff
    the fingerprints exist to avoid."""
    from streaming_data_spark.queries_ext12 import q_x21_winnow_overlap

    df = q_x21_winnow_overlap(spark, sf_small)
    text = plans.explain_str(df, mode="simple")
    assert "CartesianProduct" not in text, text
    assert "BroadcastNestedLoopJoin" not in text, text

def test_q2_part_filter_broadcasts_and_min_join_reuses_exchange(spark, sf_small):
    """The size filter prunes at the part scan and broadcasts into the
    fact; the min-per-part join must be a keyed equi-join (never a
    nested loop), and the decorrelated min must not re-shuffle the
    fact more than twice (rollup + tie join on the same key)."""
    from streaming_data_spark.queries_ext14 import q_q2_min_cost_supplier

    df = q_q2_min_cost_supplier(spark, sf_small)
    assert plans.has_broadcast_join(df)
    assert any("p_size" in p for p in plans.pushed_filters(df))
    text = plans.explain_str(df)
    assert "BroadcastNestedLoopJoin" not in text, text
    assert "CartesianProduct" not in text, text


def test_q12_single_agg_pass_and_date_pushdown(spark, sf_small):
    """Both CASE-sums aggregate in ONE pass (a single pair of
    partial/final HashAggregates over the join), and the ship-date
    range reaches the lineitem scan. The orders join is deliberately
    a shuffle join (fact⋈fact) — but only one shuffle per side plus
    the 2-group rollup."""
    from streaming_data_spark.queries_ext14 import q_q12_priority_split

    df = q_q12_priority_split(spark, sf_small)
    assert any("l_shipdate" in p for p in plans.pushed_filters(df))
    assert plans.shuffle_count(df) <= 3, plans.explain_str(df)


def test_q20_semi_join_never_multiplies_suppliers(spark, sf_small):
    """The IN chain must compile to a LEFT SEMI join against the
    aggregated suppkey set — a plain inner join here would duplicate
    suppliers per qualifying (supp, part) rollup row."""
    from streaming_data_spark.queries_ext14 import q_q20_heavy_suppliers

    df = q_q20_heavy_suppliers(spark, sf_small)
    text = plans.explain_str(df)
    assert "LeftSemi" in text, text
    assert any("l_shipdate" in p for p in plans.pushed_filters(df))
    assert plans.has_broadcast_join(df)


def test_q21_exists_chain_is_semi_plus_anti(spark, sf_small):
    """The EXISTS compiles to a semi join and the NOT EXISTS to an
    anti join — never a count-and-filter rewrite that would shuffle
    the full self-join fan-out; and no nested-loop anywhere (the
    non-equi suppkey<>suppkey term rides the orderkey equi-key)."""
    from streaming_data_spark.queries_ext14 import q_q21_sole_returner

    df = q_q21_sole_returner(spark, sf_small)
    text = plans.explain_str(df)
    assert "LeftSemi" in text, text
    assert "LeftAnti" in text, text
    assert "BroadcastNestedLoopJoin" not in text, text
    assert "CartesianProduct" not in text, text


def test_x25_kmeans_assignment_is_shuffle_free(spark, sf_small):
    """The returned assignment is a per-row argmin over broadcast
    centroid literals — zero exchanges in the final plan (the update
    aggregations happen in separate driver-looped jobs; the result
    users consume must not shuffle the vector table at all)."""
    from streaming_data_spark.queries_ext15 import q_x25_kmeans_assign

    df = q_x25_kmeans_assign(spark, sf_small)
    assert plans.shuffle_count(df) == 0, plans.explain_str(df)


def test_scd2_single_shuffle_shared_by_both_windows(spark, sf_small):
    """lag() and lead() ride the SAME (key × order) partitioning —
    one exchange total; a second exchange means the filter broke the
    window co-partitioning."""
    from streaming_data_spark.queries_ext15 import q_scd2_history

    df = q_scd2_history(spark, sf_small)
    assert plans.shuffle_count(df) == 1, plans.explain_str(df)


def test_a13_gapfill_calendar_is_distributed(spark, sf_small):
    """The calendar comes from sequence()+explode per key — no
    CartesianProduct/nested-loop against a global date table, and
    every join/window rides the user_id keying."""
    from streaming_data_spark.queries_ext16 import q_a13_gapfill_daily

    df = q_a13_gapfill_daily(spark, sf_small)
    text = plans.explain_str(df)
    assert "CartesianProduct" not in text, text
    assert "BroadcastNestedLoopJoin" not in text, text
    assert "Generate explode" in text or "Generate" in text, text


def test_a14_grouping_sets_single_expand_single_agg(spark, sf_small):
    """All three granularities come from ONE Expand feeding one
    aggregate — a union-of-groupbys plan would scan the fact three
    times."""
    from streaming_data_spark.queries_ext16 import q_a14_grouping_sets

    df = q_a14_grouping_sets(spark, sf_small)
    text = plans.explain_str(df)
    assert text.count("Expand") >= 1, text
    assert text.count("orders.parquet") == 1, text
    assert plans.shuffle_count(df) == 1, text


def test_funnel_has_no_self_joins(spark, sf_small):
    """The k-step funnel is ONE groupBy over the events scan plus
    per-row array math — no join operator anywhere (the textbook SQL
    form, the oracle, needs k-1 self-joins that re-shuffle the fact
    per step)."""
    from streaming_data_spark.queries_ext17 import q_funnel_conversion

    df = q_funnel_conversion(spark, sf_small)
    text = plans.explain_str(df)
    assert "Join" not in text, text
    assert text.count("events.parquet") == 1, text


def test_cohort_retention_no_nested_loop(spark, sf_small):
    """first-seen and activity both key on user_id; the join must be
    an equi-join (hash/merge), never a nested loop."""
    from streaming_data_spark.queries_ext17 import q_cohort_retention

    df = q_cohort_retention(spark, sf_small)
    text = plans.explain_str(df)
    assert "CartesianProduct" not in text, text
    assert "BroadcastNestedLoopJoin" not in text, text


def test_a15_robust_stats_broadcasts_group_stats(spark, sf_small):
    """med/mad are |event_type|-row frames joined back onto the fact —
    both joins must broadcast; a sort-merge here would shuffle the
    full fact on a 5-key column."""
    from streaming_data_spark.queries_ext17 import q_a15_robust_stats

    df = q_a15_robust_stats(spark, sf_small)
    text = plans.explain_str(df)
    assert "BroadcastHashJoin" in text, text
    assert "SortMergeJoin" not in text, text


def test_a16_rolling_zscore_single_exchange(spark, sf_small):
    """avg/stddev/count share one (user_id × ts) window frame — one
    exchange total; the filter must not break window co-partitioning."""
    from streaming_data_spark.queries_ext17 import q_a16_rolling_zscore

    df = q_a16_rolling_zscore(spark, sf_small)
    assert plans.shuffle_count(df) == 1, plans.explain_str(df)


def test_a17_rolling_distinct_caps_via_scalar_broadcast(spark, sf_small):
    """The span cap is a 1-row broadcast (non-equi) — never a
    CartesianProduct against real data; total shuffles stay at the
    distinct + count-distinct budget."""
    from streaming_data_spark.queries_ext18 import q_a17_rolling_distinct

    df = q_a17_rolling_distinct(spark, sf_small)
    text = plans.explain_str(df)
    assert "CartesianProduct" not in text, text
    assert plans.shuffle_count(df) <= 4, text


def test_x26_zorder_curve_shuffle_free_codegen(spark, sf_small):
    """The curve key is pure shift/mask projection — zero exchanges,
    whole-stage codegen, single scan."""
    from streaming_data_spark.queries_ext18 import q_x26_zorder_curve

    df = q_x26_zorder_curve(spark, sf_small)
    assert plans.shuffle_count(df) == 0, plans.explain_str(df)
    assert plans.has_whole_stage_codegen(df)


def test_x29_fuzzy_match_joins_only_inside_blocks(spark, sf_small):
    """Candidate pairs come from the block-key equi-join — hash/merge
    join, never a nested loop over the name catalog."""
    from streaming_data_spark.queries_ext19 import q_x29_fuzzy_match

    df = q_x29_fuzzy_match(spark, sf_small)
    text = plans.explain_str(df)
    assert "CartesianProduct" not in text, text
    assert "BroadcastNestedLoopJoin" not in text, text


def test_x30_inverted_index_single_explode_single_agg(spark, sf_small):
    """One Generate feeding one aggregation — df/tf/postings all ride
    the same token-keyed shuffle; no second scan of the corpus."""
    from streaming_data_spark.queries_ext19 import q_x30_inverted_index

    df = q_x30_inverted_index(spark, sf_small)
    text = plans.explain_str(df)
    assert text.count("documents.parquet") == 1, text


def test_a18_equidepth_global_sort_sees_projected_rows_only(spark, sf_small):
    """ntile needs a global order — but the single-partition window
    must receive only the 2-column projection, never text."""
    from streaming_data_spark.queries_ext19 import q_a18_equidepth_hist

    df = q_a18_equidepth_hist(spark, sf_small)
    schemas = plans.read_schema_columns(df)
    assert schemas and set(schemas[0]) == {"doc_id", "n_chars"}, schemas


def test_j7_temporal_join_is_keyed_never_nested_loop(spark, sf_small):
    """The range predicate must ride the user_id equi-join as a
    residual condition — a nested loop over history × facts is the
    failure mode temporal joins are famous for."""
    from streaming_data_spark.queries_ext20 import q_j7_temporal_join

    df = q_j7_temporal_join(spark, sf_small)
    text = plans.explain_str(df)
    assert "CartesianProduct" not in text, text
    assert "BroadcastNestedLoopJoin" not in text, text


def test_p14_unpivot_single_scan_single_expand(spark, sf_small):
    """Native unpivot: one Expand over ONE scan — the union-of-
    projections rewrite would read lineitem four times."""
    from streaming_data_spark.queries_ext20 import q_p14_unpivot

    df = q_p14_unpivot(spark, sf_small)
    text = plans.explain_str(df)
    assert text.count("lineitem.parquet") == 1, text
    assert "Expand" in text, text
    assert plans.shuffle_count(df) == 0, text


def test_incremental_rollup_pushes_disjoint_date_filters(spark, sf_small):
    """Both halves must push their date predicate to the scan — the
    production shape reads yesterday's rollup table plus ONLY the
    delta partition, and pushdown is what makes the delta scan
    partition-prunable."""
    from streaming_data_spark.queries_ext20 import q_incremental_rollup

    df = q_incremental_rollup(spark, sf_small)
    pushed = plans.pushed_filters(df)
    assert sum("ts" in p for p in pushed) >= 2, pushed


def test_a19_streaks_no_joins_single_keyed_lineage(spark, sf_small):
    """Gaps-and-islands via the row_number anchor: the whole plan is
    windows + groupBys on the user_id keying — a self-join formulation
    would shuffle the activity table against itself."""
    from streaming_data_spark.queries_ext21 import q_a19_activity_streaks

    df = q_a19_activity_streaks(spark, sf_small)
    text = plans.explain_str(df)
    assert "Join" not in text, text
    assert text.count("events.parquet") == 1, text


def test_a20_rolling_corr_windows_daily_frame_only(spark, sf_small):
    """corr() runs over the DAILY rollup (rows = days), so the events
    scan feeds one aggregation and the window sees the tiny frame —
    the fact table itself is never window-sorted."""
    from streaming_data_spark.queries_ext21 import q_a20_rolling_corr

    df = q_a20_rolling_corr(spark, sf_small)
    text = plans.explain_str(df)
    assert text.count("events.parquet") == 1, text
    assert "Join" not in text, text


def test_x33_centroid_classify_no_nested_loop(spark, sf_small):
    """Distances come from the position-keyed equi-join of exploded
    vectors against the tiny centroid table — never a cartesian of
    vectors x centroids at the row level."""
    from streaming_data_spark.queries_ext22 import q_x33_centroid_classify

    df = q_x33_centroid_classify(spark, sf_small)
    text = plans.explain_str(df)
    assert "CartesianProduct" not in text, text
    assert "BroadcastNestedLoopJoin" not in text, text


def test_cdc_diff_is_one_full_outer_keyed_join(spark, sf_small):
    """The diff is a single full-outer equi-join on the snapshot key —
    no nested loop, no second diff pass."""
    from streaming_data_spark.queries_ext23 import q_cdc_snapshot_diff

    df = q_cdc_snapshot_diff(spark, sf_small)
    text = plans.explain_str(df)
    assert "FullOuter" in text, text
    assert "CartesianProduct" not in text, text
    assert "BroadcastNestedLoopJoin" not in text, text


def test_a21_resample_single_scan_two_aggregates(spark, sf_small):
    """The cascade reads raw events ONCE: hourly candles feed the 6h
    re-aggregation without a second scan (the whole point of deriving
    coarse candles from fine ones)."""
    from streaming_data_spark.queries_ext23 import q_a21_candle_resample

    df = q_a21_candle_resample(spark, sf_small)
    text = plans.explain_str(df)
    assert text.count("events.parquet") == 1, text
    assert plans.shuffle_count(df) <= 2, text


def test_date_partitioned_sink_prunes_partitions_on_read(spark, sf_small, tmp_path):
    """K5 + scale: a filter on the partition column must become a
    PartitionFilter (directory-level pruning — no file of other days
    is even listed into the scan), which is a DIFFERENT mechanism from
    parquet footer pushdown and the one that matters most for
    date-ranged queries over years of history."""
    from streaming_data_spark.schemas import load_table

    events = load_table(spark, sf_small, "events").withColumn(
        "day", F.col("ts").cast("date")
    )
    path = str(tmp_path / "by_day")
    events.write.partitionBy("day").mode("overwrite").parquet(path)

    back = spark.read.parquet(path)
    one_day = back.filter(F.col("day") == "2024-01-05")
    text = plans.explain_str(one_day)
    assert "PartitionFilters" in text, text
    # the partition filter must actually carry the day predicate
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", text)
    assert m and "day" in m.group(1), text
    # and the result is correct
    assert one_day.count() == events.filter(F.col("day") == "2024-01-05").count()


def test_x34_weighted_sample_is_shuffle_free(spark, sf_small):
    """The coin and the keep probability are pure column functions —
    zero exchanges; the sample prunes at scan speed."""
    from streaming_data_spark.queries_ext25 import q_x34_weighted_sample

    df = q_x34_weighted_sample(spark, sf_small)
    assert plans.shuffle_count(df) == 0, plans.explain_str(df)


def test_a22_wow_growth_windows_aggregate_not_fact(spark, sf_small):
    """lag() runs on the (priority, week) rollup — the fact shuffles
    once for the groupBy; the window sees the tiny aggregate."""
    from streaming_data_spark.queries_ext26 import q_a22_wow_growth

    df = q_a22_wow_growth(spark, sf_small)
    text = plans.explain_str(df)
    assert text.count("orders.parquet") == 1, text
    assert plans.shuffle_count(df) <= 2, text


def test_a23_topn_others_broadcasts_dims(spark, sf_small):
    """customer/nation enrich via broadcast — the fact never shuffles
    for the dimension lookup; the rank runs on the |nations|-row agg."""
    from streaming_data_spark.queries_ext26 import q_a23_topn_others

    df = q_a23_topn_others(spark, sf_small)
    text = plans.explain_str(df)
    assert "BroadcastHashJoin" in text, text
    assert "SortMergeJoin" not in text, text


def test_a24_cooccurrence_joins_deduped_pairs_only(spark, sf_small):
    """The self-join runs on DISTINCT (user, type) pairs — fan-out is
    bounded by |types|² per user, never events²."""
    from streaming_data_spark.queries_ext26 import q_a24_cooccurrence

    df = q_a24_cooccurrence(spark, sf_small)
    text = plans.explain_str(df)
    assert "CartesianProduct" not in text, text
    assert "BroadcastNestedLoopJoin" not in text, text


def test_funnel_in_session_no_self_joins_shared_keying(spark, sf_small):
    """Session assignment and the funnel agg both ride the user_id
    keying; like the all-history funnel, the Spark plan needs NO
    self-joins (the oracle's 2-step joins are the SQL formulation,
    not the plan)."""
    from streaming_data_spark.queries_ext27 import q_funnel_in_session

    df = q_funnel_in_session(spark, sf_small)
    text = plans.explain_str(df)
    assert "Join" not in text, text
    assert text.count("events.parquet") == 1, text


def test_a25_rolling_median_single_exchange_no_udf(spark, sf_small):
    """The sorted-frame median is pure JVM built-ins over ONE user_id
    window exchange — no Python in the hot path, no second shuffle."""
    from streaming_data_spark.queries_ext28 import q_a25_rolling_median

    df = q_a25_rolling_median(spark, sf_small)
    text = plans.explain_str(df)
    assert "BatchEvalPython" not in text, text
    assert "ArrowEvalPython" not in text, text
    assert plans.shuffle_count(df) == 1, text


def test_wave29_33_exchange_budgets(spark, sf_small):
    """Pin the shuffle counts of the round-5 waves.

    a27/a28/a30 budget TWO exchanges on purpose: the daily groupBy
    exchanges map-side-combined (user, day) partials and the indicator
    window re-exchanges the day-grid rows on user_id — both move
    dimension-bounded data. The 1-exchange alternative
    (repartition("user_id") before the groupBy so the agg and window
    share one keying) would shuffle the RAW fact rows un-combined,
    which is strictly more bytes at any scale; two cheap exchanges
    beat one expensive one here."""
    import __spark_entry__ as entry

    budgets = {
        "a26_window_median": 1,  # one (window, event_type) groupBy
        "a31_target_encode": 1,  # partition-only window
        "x37_feature_hash": 1,  # explode is scan-local; one groupBy
        "a27_sma_crossover": 2,
        "a28_bollinger": 2,
        "a30_max_drawdown": 2,
    }
    qs = entry.queries()
    got = {
        name: plans.shuffle_count(qs[name](spark, sf_small))
        for name in budgets
    }
    assert got == budgets, got


def test_wave36_37_exchange_budgets(spark, sf_small):
    """Pin the shuffle counts of the round-6 waves. The indicator
    quartet budgets TWO exchanges (the daily OHLCV groupBy's combined
    partials + the user_id window re-exchange — wave 30's documented
    trade); a34's second exchange is the fold's repartition(key).
    x38 pays the bigram groupBy + two margin groupBys + the final
    vocab joins' co-partitioning; x40 the tf/dfreq/stats/final chain
    with the idf table broadcast (never the corpus)."""
    import __spark_entry__ as entry

    budgets = {
        "a33_atr": 2,
        "a34_rsi": 2,
        "a35_stochastic": 2,
        "a36_obv": 2,
        "x38_pmi_collocations": 4,
        "x39_char_entropy": 2,
        "x40_bm25": 5,
    }
    qs = entry.queries()
    got = {
        name: plans.shuffle_count(qs[name](spark, sf_small)) for name in budgets
    }
    assert got == budgets, got


def test_lm_score_and_heavy_hitters_no_python_rowpath(spark, sf_small):
    """x35's joins and x36's verify pass stay JVM-side; the only
    Python is the Arrow-batched MG mapInPandas (and a29's grouped
    fold), which the fleet-wide BatchEvalPython gate already permits
    as vectorized."""
    import __spark_entry__ as entry

    qs = entry.queries()
    for name in ("x35_lm_score", "x36_heavy_hitters"):
        text = plans.explain_str(qs[name](spark, sf_small))
        assert "BatchEvalPython" not in text, name


def test_x30_capped_bounded_state_plan(spark, sf_small):
    """The production inverted index must have NO collect_set (its
    aggregation state is the whole posting list), a broadcast LEFT
    ANTI join against the bounded hot-token set (hot keys never enter
    a shuffle), and only token-keyed windows (rank state is O(1),
    sort is spillable)."""
    from streaming_data_spark.queries_ext35 import q_x30_inverted_index_capped

    df = q_x30_inverted_index_capped(spark, sf_small)
    text = plans.explain_str(df)
    assert "collect_set" not in text, text
    assert "LeftAnti" in text, text
    assert plans.has_broadcast_join(df)
    assert plans.global_window_count(df) == 0, text


def test_x35_salted_exchange_when_cold_side_shuffles(spark, sf_small):
    """With broadcast disabled (the 100 TB shape: the probability
    table is vocabulary-sized), the instance⋈cold-probs join must
    shuffle on (w1, w2, __salt) — EXACTLY ONE salted exchange per
    side, so no reducer ever owns a hot bigram — while the bounded
    hot slice still broadcasts via its explicit hint."""
    import __spark_entry__ as entry

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = entry.queries()["x35_lm_score"](spark, sf_small)
        text = plans.explain_str(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    salted = [
        line
        for line in text.splitlines()
        if "hashpartitioning" in line and "__salt" in line
    ]
    assert len(salted) == 2, text  # instance side + cold-probs side
    assert "BroadcastHashJoin" in text, text  # the hot-slice hint held


def test_x36_sketch_pass_plan(spark, sf_small):
    """heavy_hitters collects its sketch pass to the driver, which
    removes pass 1 from the returned DataFrame's lineage — so audit
    pass 1 directly: one documents scan into a MapInPandas (Arrow)
    node; no row-at-a-time Python, no window, no shuffle before the
    per-partition summaries."""
    from streaming_data_spark.operators.sketches import mg_partials
    from streaming_data_spark.schemas import load_table

    toks = (
        load_table(spark, sf_small, "documents")
        .select(F.explode(F.split(F.trim("text"), r"\s+")).alias("token"))
    )
    df = mg_partials(toks, "token", k=50)
    text = plans.explain_str(df)
    assert "BatchEvalPython" not in text, text
    assert "MapInPandas" in text, text
    assert text.count("documents.parquet") == 1, text
    assert plans.shuffle_count(df) == 0, text
    assert plans.global_window_count(df) == 0, text


def test_wave41_43_exchange_budgets(spark, sf_small):
    """Pin the shuffle counts of the drift/vocab waves. In every one
    of them exactly ONE exchange is fact-sized (the first map-side-
    combinable groupBy); everything after moves dimension-bounded
    data (per-value counts, |types|x2 cells, |types| x bins cells,
    types x days daily rows, the vocabulary). x47's seemingly large
    budget is five tiny post-cell shuffles (row/column margins, the
    one-row total, the final one-row agg) — each over at most
    |types|x2 rows. x50's four are: daily groupBy, stats groupBy
    (feeding the broadcast), and the fold's repartition(key) pair.
    x48/x50 move their small aggregates via broadcast joins —
    asserted — so the fact/daily side is never re-shuffled to meet
    them."""
    import __spark_entry__ as entry

    budgets = {
        "x46_ks_drift": 2,
        "x47_chi2_drift": 7,
        "x48_psi_drift": 3,
        "x49_js_hourly": 2,
        "x50_cusum": 4,
        "x51_bpe_pairs": 2,
        "x52_zipf_slope": 2,
    }
    qs = entry.queries()
    got = {
        name: plans.shuffle_count(qs[name](spark, sf_small)) for name in budgets
    }
    assert got == budgets, got

    # the small sides ride broadcast exchanges, never shuffle joins
    for name in ("x48_psi_drift", "x50_cusum"):
        text = plans.explain_str(qs[name](spark, sf_small))
        assert "BroadcastHashJoin" in text, text
        assert "SortMergeJoin" not in text, text
    # x47's one-row corpus total is the sanctioned scalar
    # BroadcastNestedLoopJoin (same pattern as the decontamination
    # scalar); the cell-level joins stay hash joins
    text = plans.explain_str(qs["x47_chi2_drift"](spark, sf_small))
    assert "CartesianProduct" not in text, text


def test_wave44_exchange_budgets(spark, sf_small):
    """a37's two exchanges are the daily-close groupBy + the fold's
    repartition(key) — the established recursion price (a29/a34).
    x53's eight are dominated by cell-table traffic: after the one
    fact-sized cells groupBy, the two margin windows, the scalar
    total, and the final one-row agg all move a |types|x10 table;
    the min/max edges ride the sanctioned one-row broadcast NLJ."""
    import __spark_entry__ as entry

    budgets = {"a37_holt_forecast": 2, "x53_mutual_info": 8}
    qs = entry.queries()
    got = {
        name: plans.shuffle_count(qs[name](spark, sf_small)) for name in budgets
    }
    assert got == budgets, got
    text = plans.explain_str(qs["x53_mutual_info"](spark, sf_small))
    assert "CartesianProduct" not in text, text
    assert "SortMergeJoin" not in text, text


def test_wave45_exchange_budgets(spark, sf_small):
    """a38: the customer groupBy + the (AQE-coalesced) single-task
    ntile exchanges over the customer aggregate — 3 total; the ref
    date is the sanctioned one-row broadcast NLJ. x54: score groupBy
    + the distinct-score cumulative — 2. x55: the two keyed
    row_number windows share ONE hash exchange on event_type; the
    bounds and clip joins ride broadcasts (|types| rows), leaving the
    two aggregation exchanges — 3 total, and never a sort-merge
    join."""
    import __spark_entry__ as entry

    budgets = {"a38_rfm_segments": 3, "x54_auc": 2, "x55_winsorize": 3}
    qs = entry.queries()
    got = {
        name: plans.shuffle_count(qs[name](spark, sf_small)) for name in budgets
    }
    assert got == budgets, got
    for name in ("x55_winsorize",):
        text = plans.explain_str(qs[name](spark, sf_small))
        assert "SortMergeJoin" not in text, text
        assert "BroadcastHashJoin" in text, text


def test_wave46_exchange_budgets(spark, sf_small):
    """x56: the one materialized basket-distinct, the orderkey
    self-join pair (2), the pair groupBy, the item-count groupBy and
    the scalar total — 6; the metric joins ride broadcasts. x57: the
    checkpointed edge set self-joins as sort-merge (the correct
    big-big strategy for an edge table that is fact-derived at scale)
    — 4 exchanges, and the expensive near-dup pair computation runs
    exactly ONCE (localCheckpoint in graph.triangles). a39: fact
    groupBy + the |types|x7 margin window — 2."""
    import __spark_entry__ as entry

    budgets = {"x56_assoc_rules": 6, "x57_triangles": 4, "a39_seasonal_dow": 2}
    qs = entry.queries()
    got = {
        name: plans.shuffle_count(qs[name](spark, sf_small)) for name in budgets
    }
    assert got == budgets, got
    text = plans.explain_str(qs["x56_assoc_rules"](spark, sf_small))
    assert "SortMergeJoin" not in text, text
    assert "BroadcastHashJoin" in text, text


def test_wave47_exchange_budgets(spark, sf_small):
    """x58: probe set and queries×k results ride broadcasts (the
    cross join against the broadcast probe set is the sanctioned ANN
    NLJ from x5) — the 3 exchanges are the vote/rank keyed hops.
    x59: the checkpointed mapInArrow argmin frame truncates the
    centroid pipeline out of the plan; the 2 in-plan exchanges are the
    (cluster, bucket) groupBy of similarity's sign-LSH blocked pair
    kernel (the one x7 runs per bucket) and the dropped-set distinct,
    with the hint-free dropped-flag join left to AQE (r7: the forced broadcast
    of the O(corpus) dropped set was removed — AQE localizes it at
    runtime when it actually fits). (Two earlier r16 attempts are on
    record: driver-collected centroid LITERALS — the 640-literal
    argmin expression cost ~3s of per-invocation construction/analysis
    and benched 5-6s vs the old shape's 2.8-3.0s, REVERTED; the final
    numpy form instead ships the collected centroid MATRIX into a
    mapInArrow closure — no literal tree, A/B min 1.37s vs 3.32s.)
    a40: two keyed median passes + the user-grain broadcasts back —
    3, no sort-merge anywhere."""
    import __spark_entry__ as entry

    budgets = {"x58_knn_classify": 3, "x59_semdedup": 2, "a40_anomaly_mad": 3}
    qs = entry.queries()
    got = {
        name: plans.shuffle_count(qs[name](spark, sf_small)) for name in budgets
    }
    assert got == budgets, got
    text = plans.explain_str(qs["a40_anomaly_mad"](spark, sf_small))
    assert "SortMergeJoin" not in text, text


def test_x59_semdedup_no_forced_broadcast(spark, sf_small):
    """r6 verdict item 1: x59's dropped set is corpus-proportional
    (SemDeDup drops 20-50% at production thresholds), so NO join in
    the query may carry an explicit broadcast hint — adaptive
    broadcast when the runtime size fits is fine, a forced one is an
    OOM cliff at 100x. This pins the hint out of the plan for good."""
    import __spark_entry__ as entry

    df = entry.queries()["x59_semdedup"](spark, sf_small)
    assert plans.broadcast_hint_count(df) == 0, plans.explain_str(df, "extended")


def test_wave48_exchange_budgets(spark, sf_small):
    """a41: one |types| stat groupBy + the final 5x5 broadcast pair
    join's single exchange — 2. x60: ONE fact-sized digit groupBy;
    the <=9-row cell table is materialized so the scalar-total, chi2
    and output branches never re-scan orders. x61: the key-count
    groupBy + the sanctioned single-task ranking over it — 2."""
    import __spark_entry__ as entry

    budgets = {"a41_ab_welch": 2, "x60_benford": 1, "x61_key_concentration": 2}
    qs = entry.queries()
    got = {
        name: plans.shuffle_count(qs[name](spark, sf_small)) for name in budgets
    }
    assert got == budgets, got
    for name in budgets:
        text = plans.explain_str(qs[name](spark, sf_small))
        assert "SortMergeJoin" not in text, text
        assert "CartesianProduct" not in text, text


def test_wave49_exchange_budgets(spark, sf_small):
    """x62: the corpus is touched twice (μ groupBy + the vec_id
    moment self-join feeding the d² cell groupBy); the remaining
    exchanges collect d-row frames (matrix rows, per-iteration w
    vectors, diagonal) — every iteration itself rides one-row
    broadcasts against the checkpointed d-row matrix, so iteration
    count adds NO fact-sized work. 6 exchanges, no sort-merge, no
    cartesian."""
    import __spark_entry__ as entry

    qs = entry.queries()
    df = qs["x62_pca_power"](spark, sf_small)
    assert plans.shuffle_count(df) == 6, plans.explain_str(df)
    text = plans.explain_str(df)
    assert "SortMergeJoin" not in text, text
    assert "CartesianProduct" not in text, text


def test_wave50_exchange_budgets(spark, sf_small):
    """a42: two pushed-filter fact groupBys; the conversion join rides
    AQE. a44: ONE lineitem groupBy; the order join broadcasts at test
    scale and becomes a keyed SMJ past the 10MB crossover (the
    measured 3.6x probe ratio is exactly that plan transition, linear
    on both sides of it). x63: _sid df groupBy + boiler-marker join
    + doc re-agg; the 1-row corpus count rides a broadcast NLJ
    (sanctioned single-row shape, same as x56's n_orders). a46: one
    keyed window pass + the |types| stats groupBy. x64: the centroid/
    distance groupBys (x59's assignment shape) + the |labels|-row
    stats broadcast back."""
    import __spark_entry__ as entry

    budgets = {
        "a42_time_to_convert": 2,
        "a44_order_total_audit": 1,
        "x63_boilerplate_ngrams": 3,
        "a46_interevent_gaps": 2,
        "x64_embedding_outliers": 5,
    }
    qs = entry.queries()
    got = {
        name: plans.shuffle_count(qs[name](spark, sf_small)) for name in budgets
    }
    assert got == budgets, got
    for name in budgets:
        text = plans.explain_str(qs[name](spark, sf_small))
        assert "CartesianProduct" not in text, (name, text)


def test_wave51_exchange_budgets(spark, sf_small):
    """a47: one keyed window partition + the session/entry groupBys
    collapse onto the same user-keyed exchange; |types|-bounded final
    agg. x66: first-seen rides ONE _sid-keyed window on the hashed
    checkpoint (r17; the old vocab groupBy + join-back is gone) + doc
    re-agg. x67:
    token-cell groupBy + doc re-agg. a49: one keyed window pass + the
    |types|^3-bounded count, and the top-20 MUST compile to
    TakeOrderedAndProject (never a global sort). x69: digest groupBy
    + keyed join back + |sources|-bounded report."""
    import __spark_entry__ as entry

    budgets = {
        "a47_entry_bounce": 2,
        "x66_ngram_novelty": 2,
        "x67_lexical_richness": 2,
        "a49_event_trigrams": 2,
        "x69_dedup_impact": 2,
    }
    qs = entry.queries()
    got = {
        name: plans.shuffle_count(qs[name](spark, sf_small)) for name in budgets
    }
    assert got == budgets, got
    text = plans.explain_str(qs["a49_event_trigrams"](spark, sf_small), "simple")
    assert "TakeOrderedAndProject" in text, text
    for name in budgets:
        t = plans.explain_str(qs[name](spark, sf_small))
        assert "CartesianProduct" not in t, (name, t)


def test_wave52_exchange_budgets(spark, sf_small):
    """x70: the peel rounds execute eagerly (localCheckpoint per
    round); the final plan is one degree groupBy over the checkpointed
    edge set. x71: the exact all-pairs side is the sanctioned bounded-
    sample NLJ baseline; the LSH side is similarity's blocked pair
    kernel (its bucket groupBy, then the cross-bucket pair dedup); the
    full-outer pair merge sort-merges. a52:
    fact-fact keyed join collapses onto the supplier agg's exchange.
    x73: row-local scoring, one |langs|^2-bounded groupBy. a53: day
    and month distinct-agg cascades."""
    import __spark_entry__ as entry

    budgets = {
        "x70_kcore": 1,
        "x71_lsh_recall_eval": 4,
        "a52_supplier_lead_time": 1,
        "x73_lang_confusion": 1,
        "a53_dau_mau": 5,
    }
    qs = entry.queries()
    got = {
        name: plans.shuffle_count(qs[name](spark, sf_small)) for name in budgets
    }
    assert got == budgets, got
    for name in budgets:
        t = plans.explain_str(qs[name](spark, sf_small))
        assert "CartesianProduct" not in t, (name, t)


def test_x71_sample_swap_invariant():
    """The recall-eval oracle bounds the x7 bodies by swapping their
    single FROM site onto the sampled CTE — if an x7 oracle edit adds
    a second scan of embeddings, the swap silently diverges; pin the
    invariant here."""
    from streaming_data_spark.queries_ext4 import SQL_X7, SQL_X7_LSH

    assert SQL_X7.count("FROM embeddings") == 1
    assert SQL_X7_LSH.count("FROM embeddings") == 1


def test_wave53_exchange_budgets(spark, sf_small):
    """x75: the tf-idf weight table is materialized ONCE (it feeds
    both pair-join sides; unmaterialized the tf/df chains replayed
    per consumer — 20 exchanges). r16 optimization round: the per-doc
    norm is computed on one doc-keyed window BEFORE the checkpoint
    and folded through the pair join as a max() group constant, so
    the two post-checkpoint norm branches and both post-dots doc-keyed
    joins are gone — the remaining 2 at this scale are the dot groupBy
    and the doc-keyed top-k window (the pair join broadcasts one
    checkpoint side at sf_small). x79: the
    (source, shingle) distinct set likewise materialized once; 5 =
    counts + pair join + count joins. a54: fact-fact join folded into
    one |priorities|-bounded agg. a58: (day,hour) cells + day-keyed
    ranking + totals join."""
    import __spark_entry__ as entry

    budgets = {
        "x75_tfidf_topk_pairs": 2,
        "x79_source_overlap": 5,
        "a54_priority_sla": 1,
        "a58_daily_peak_hour": 4,
    }
    qs = entry.queries()
    got = {
        name: plans.shuffle_count(qs[name](spark, sf_small)) for name in budgets
    }
    assert got == budgets, got
    for name in budgets:
        t = plans.explain_str(qs[name](spark, sf_small))
        assert "CartesianProduct" not in t, (name, t)


def test_wave54_exchange_budgets(spark, sf_small):
    """j8: ONE keyed exchange (union + following-frame window, no
    range probe). x80: two bounded pair tiers full-outer joined into
    a 1-row agg (the exact side is the sanctioned ground-truth
    baseline, bounded by the doc_id sample cap). a59/a60: one
    fact-fact join folded into a years-/months-bounded agg."""
    import __spark_entry__ as entry

    qs = entry.queries()
    assert plans.shuffle_count(qs["j8_asof_forward"](spark, sf_small)) == 1
    for name in ("a59_discount_waterfall", "a60_return_cohort"):
        assert plans.shuffle_count(qs[name](spark, sf_small)) == 1, name
    for name in ("j8_asof_forward", "x80_minhash_recall_eval",
                 "a59_discount_waterfall", "a60_return_cohort"):
        t = plans.explain_str(qs[name](spark, sf_small))
        assert "CartesianProduct" not in t, (name, t)


def test_x80_sample_swap_invariant():
    """x80's oracle bounds both sub-oracles by swapping their single
    FROM-documents site onto the sampled CTE — pin the single-site
    invariant (same contract as x71's)."""
    from streaming_data_spark.queries_ext import SQL_X2_MINHASH

    assert SQL_X2_MINHASH.count("FROM documents") == 1


def test_wave55_exchange_budgets(spark, sf_small):
    """x81: chunk explode + digest-keyed min + doc re-agg (the x66
    shape at chunk grain). a61: customer-grain agg + the sanctioned
    rank + 1-row final agg. x82: vocab groupBy compiles the top-1000
    to TakeOrderedAndProject; the rank window touches only that
    bounded slice. a64: (user, minute) cells folded into the
    user-grain agg on one exchange chain."""
    import __spark_entry__ as entry

    qs = entry.queries()
    budgets = {
        "x81_chunk_dedup": 2,
        "a61_revenue_gini": 2,
        "x82_vocab_coverage": 3,
        "a64_burst_ratio": 2,
    }
    got = {
        name: plans.shuffle_count(qs[name](spark, sf_small)) for name in budgets
    }
    assert got == budgets, got
    text = plans.explain_str(qs["x82_vocab_coverage"](spark, sf_small), "simple")
    assert "TakeOrderedAndProject" in text, text


def test_wave56_exchange_budgets(spark, sf_small):
    """a65: order-grain span groupBy + keyed orders join folded into
    the priorities-bounded percentile agg (its x10 ratio 2.66 is the
    a44-family broadcast->SMJ crossover on the orders side). a66:
    day/user distinct + first-day groupBy + day re-agg. a67: one
    user-keyed lead window + |types|^2 agg. x86: digest groupBy +
    bounded histogram. x87: row-local norm fold into ONE
    labels-bounded agg."""
    import __spark_entry__ as entry

    budgets = {
        "a65_fulfillment_span": 2,
        "a66_new_vs_returning": 3,
        "a67_transition_latency": 2,
        "x86_dup_family_hist": 2,
        "x87_embedding_norms": 1,
    }
    qs = entry.queries()
    got = {
        name: plans.shuffle_count(qs[name](spark, sf_small)) for name in budgets
    }
    assert got == budgets, got
    for name in budgets:
        t = plans.explain_str(qs[name](spark, sf_small))
        assert "CartesianProduct" not in t, (name, t)


def test_wave57_exchange_budgets(spark, sf_small):
    """a68/x88: ONE map-side-combinable aggregation each — the whole
    regression is a single fact pass (normal equations + Cramer as
    column expressions, no iteration, no driver algebra). x89: the
    prefix pair tier (pair-gen-dominated at x10, the x41/x13 family)
    + two doc-keyed split joins + the 1-row stats aggs."""
    import __spark_entry__ as entry

    qs = entry.queries()
    budgets = {
        "a68_hourly_regression": 1,
        "x88_ols_normal_eq": 1,
        "x89_split_leakage": 3,
    }
    got = {
        name: plans.shuffle_count(qs[name](spark, sf_small)) for name in budgets
    }
    assert got == budgets, got


def test_wave58_exchange_budgets(spark, sf_small):
    """x90: exact and IVF top-k plans (both bounded-probe broadcasts)
    joined on (query, neighbor) + the recall aggs. a69: (type, hour)
    cells folded into the types-bounded rollup. a70: customer-grain
    first-order groupBy + keyed join + months^2 matrix. x91: one
    prefix pair pass on the bounded tuning sample + the 3-row sweep."""
    import __spark_entry__ as entry

    qs = entry.queries()
    budgets = {
        "x90_ivf_recall_eval": 6,
        "a69_seasonality_strength": 2,
        "a70_ltv_cohort_triangle": 3,
        # 9 -> 7 with the r16 dictionary-encoded pair build: x91
        # calls ngram_jaccard_pairs_prefix directly (not via the
        # shared-tier memo), and the eager localCheckpoint of the
        # encoded shingle table truncates the encode join's
        # exchanges out of the downstream plan. 7 -> 2 with the r16
        # optimization pass: the prefix rank window and per-doc set
        # size moved BEFORE the checkpoint (one exchange, shared by
        # every downstream branch) and the two doc-keyed size joins
        # were replaced by carrying n_a/n_b through the verification
        # joins — the 2 survivors are the candidate dedup and the
        # verification groupBy.
        "x91_threshold_sweep": 2,
    }
    got = {
        name: plans.shuffle_count(qs[name](spark, sf_small)) for name in budgets
    }
    assert got == budgets, got
    for name in budgets:
        t = plans.explain_str(qs[name](spark, sf_small))
        assert "CartesianProduct" not in t, (name, t)


def test_wave59_exchange_budgets(spark, sf_small):
    """x92: one prefix pair pass materialized once + degree groupBy +
    the x57 wedge joins + 1-row rollup (pair-gen/wedge-dominated at
    x10, the x57/x41 family). a71: customer-grain agg + the
    sanctioned cumulative + 3-row marks. a74: customer-keyed lag
    window folded into the 1-row percentile agg."""
    import __spark_entry__ as entry

    qs = entry.queries()
    budgets = {
        "x92_dup_clustering_coeff": 8,
        "a71_revenue_pareto": 4,
        "a74_repeat_purchase_gap": 2,
    }
    got = {
        name: plans.shuffle_count(qs[name](spark, sf_small)) for name in budgets
    }
    assert got == budgets, got


def test_wave60_exchange_budgets(spark, sf_small):
    """a75: exactly TWO fact-scale exchanges (the per-user lead
    window + the (is_train,cur,nxt) groupBy); every other exchange
    sits on event-vocabulary-bounded tables (model/score/cutoff
    branches). a76: fact-scale monthly groupBy + the fold's keyed
    repartition + supplier-grain agg. x93: ONE map-side pass — array
    higher-order funcs keep it explode-free. x94: supplier-grain agg
    + the two sanctioned global row_numbers. x95: cells groupBy, then
    dimension-bounded margins/joins only."""
    import __spark_entry__ as entry

    qs = entry.queries()
    budgets = {
        "a75_markov_accuracy": 12,
        "a76_capped_balance": 3,
        "x93_readability": 1,
        "x94_spearman_supplier": 2,
        "x95_cramers_v": 9,
    }
    got = {
        name: plans.shuffle_count(qs[name](spark, sf_small)) for name in budgets
    }
    assert got == budgets, got
    for name in ("x93_readability", "a76_capped_balance"):
        t = plans.explain_str(qs[name](spark, sf_small))
        assert "CartesianProduct" not in t, (name, t)
        assert "BroadcastNestedLoopJoin" not in t, (name, t)
    # x93 must stay explode-free: the readability counters ride array
    # expressions inside the scan project, not a generator
    t93 = plans.explain_str(qs["x93_readability"](spark, sf_small))
    assert "Generate" not in t93, t93


def test_wave61_exchange_budgets(spark, sf_small):
    """x96: prefix pair-gen materialized once + degree groupBy + ONE
    wedge self-join grouped to candidate pairs + anti-join + global
    top-k as TakeOrderedAndProject (never a global sort). x97: same
    pair-gen + degree groupBy + two keyed endpoint joins folded into
    a 1-row integer agg. a78: customer-grain agg + lifetime-grain
    counts + the sanctioned cumulative over that bounded table."""
    import __spark_entry__ as entry

    qs = entry.queries()
    budgets = {
        "x96_adamic_adar": 6,
        "x97_degree_assortativity": 5,
        "a78_kaplan_meier": 8,
    }
    got = {
        name: plans.shuffle_count(qs[name](spark, sf_small)) for name in budgets
    }
    assert got == budgets, got
    t96 = plans.explain_str(qs["x96_adamic_adar"](spark, sf_small))
    assert "TakeOrderedAndProject" in t96, t96
    for name in budgets:
        t = plans.explain_str(qs[name](spark, sf_small))
        assert "CartesianProduct" not in t, (name, t)


def test_wave62_exchange_budgets(spark, sf_small):
    """x98: one-sided prefix candidate join + exact-verify joins ride
    the x2-prefix family exchange shape. x99: both query sides are
    3-row broadcasts (token overlap join + cosine
    BroadcastNestedLoop), per-query top-k windows, k-bounded RRF
    full-outer. a77: one fact-fact keyed join + day-grain delta agg +
    the sanctioned cumulative."""
    import __spark_entry__ as entry

    qs = entry.queries()
    budgets = {
        "x99_rrf_fusion": 8,
        "a77_open_order_backlog": 4,
    }
    got = {
        name: plans.shuffle_count(qs[name](spark, sf_small)) for name in budgets
    }
    assert got == budgets, got
    # x98's budget is pinned at the AQE-INDEPENDENT worst case (r16
    # advice item 4: the observed best case — 1, the verification
    # groupBy, everything else broadcast or truncated behind the
    # encoded checkpoint — depends on AQE choosing broadcast for the
    # candidate/verify joins at test scale, so a fixture-size or
    # threshold change would flap it). With auto-broadcast disabled
    # the plan is deterministic: candidate self-join (2) + candidate
    # distinct (1) + verify joins (4: both SMJ sides re-keyed) +
    # verification groupBy (1) = 8, every one int-keyed downstream of
    # the checkpoint.
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
        worst = plans.shuffle_count(
            qs["x98_containment_pairs"](spark, sf_small))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
    assert worst == 8, worst
    for name in [*budgets, "x98_containment_pairs"]:
        t = plans.explain_str(qs[name](spark, sf_small))
        assert "CartesianProduct" not in t, (name, t)
    # the dense side of the fusion must be the 3-query broadcast loop,
    # never a shuffled join
    t99 = plans.explain_str(qs["x99_rrf_fusion"](spark, sf_small))
    assert "BroadcastNestedLoop" in t99, t99


def test_wave63_exchange_budgets(spark, sf_small):
    """x100: ONE scan cascade — distinct pairs, (type,salt) prune
    window, type re-rank window, types-bounded agg; h_k is the max
    over the global top-K (join-free). x101: the bit table is
    ≤m-rows broadcast by construction; probes ride one distinct +
    posexplode + broadcast join + keyed agg. a80: fact rows collapse
    to the day-grain series before the single-partition fold (the
    a37/a76 sanctioned fold shape, not a Window)."""
    import __spark_entry__ as entry

    qs = entry.queries()
    budgets = {
        "x100_kmv_distinct": 3,
        "x101_bloom_filter_eval": 5,
        "a80_holt_winters": 2,
    }
    got = {
        name: plans.shuffle_count(qs[name](spark, sf_small)) for name in budgets
    }
    assert got == budgets, got
    for name in budgets:
        t = plans.explain_str(qs[name](spark, sf_small))
        assert "CartesianProduct" not in t, (name, t)
    t101 = plans.explain_str(qs["x101_bloom_filter_eval"](spark, sf_small))
    assert "BroadcastHashJoin" in t101, t101


def test_wave64_exchange_budgets(spark, sf_small):
    """x102: both ranking legs are 8-broadcast-query plans joined on
    (query, neighbor) ≤ 80 rows. x103: the O(sample²) leg is
    x45-bounded and round-robin-spread before scoring (fixed 64-task
    shuffle of ≤1000 rows); downstream is one neighbor groupBy + one
    histogram groupBy. a81: one scan, year-keyed ntile windows over
    customer-grain rows, ≤100-cell final groupBy."""
    import __spark_entry__ as entry

    qs = entry.queries()
    budgets = {
        "x102_ndcg_eval": 6,
        "x103_hubness_koccurrence": 5,
        "a81_decile_migration": 5,
    }
    got = {
        name: plans.shuffle_count(qs[name](spark, sf_small)) for name in budgets
    }
    assert got == budgets, got
    for name in budgets:
        t = plans.explain_str(qs[name](spark, sf_small))
        assert "CartesianProduct" not in t, (name, t)


def test_wave65_exchange_budgets(spark, sf_small):
    """queries_ext65 (wired in r14, r13 verdict item 1). x104: two
    k-bounded ranking legs — the quantized leg scores the corpus
    against an 8-row broadcast query frame (per-row quantization is a
    map, never a shuffle), the exact leg reuses cosine_topk's
    broadcast-query plan; they join on (query, neighbor) ≤ 80 rows.
    x105: the O(sample²) leg is sample-capped and round-robin-spread
    (x103 discipline: one fixed 64-task shuffle of ≤1000 rows), the
    reciprocity check is ONE self-join on reversed pairs plus a
    ≤k-row rank groupBy. a82: one map-side agg of lineitem to the
    ≤11-row discount grid + a 1-row broadcast baseline join — fact
    volume crosses exactly ONE exchange."""
    import __spark_entry__ as entry

    qs = entry.queries()
    budgets = {
        "x104_quantized_recall": 5,
        "x105_knn_reciprocity": 7,
        "a82_promo_lift_curve": 2,
    }
    got = {
        name: plans.shuffle_count(qs[name](spark, sf_small)) for name in budgets
    }
    assert got == budgets, got
    for name in budgets:
        t = plans.explain_str(qs[name](spark, sf_small))
        assert "CartesianProduct" not in t, (name, t)


# ---------------------------------------------------------------------------
# Materialize-once canaries (r11 verdict item 2): the r11 x30 probes
# found one defect class in TWO operators — an expensive lazy edge
# plan referenced by multiple branches (a symmetrizing union, per-
# iteration joins) silently replays the whole upstream pair
# computation. Fixed by localCheckpoint(eager=True) guards at
# graph.py:46 (pagerank) and the label-propagation CC that star-CC has
# since replaced; triangles / kcore_peel / star-CC already carried the
# guard. These tests pin the
# convention mechanically: each feeds the operator an INSTRUMENTED
# edge frame (a mapInPandas stage that counts every row it emits into
# an accumulator) and asserts the upstream evaluated EXACTLY ONCE —
# revert any guard and the union/iteration branches re-run the stage,
# the count at least doubles, and the test fails. The class was
# invisible at bench scale (upstream cheap) and a 3.5x cliff at x30
# (upstream = corpus-wide pair join); this is the regression gate so
# it can never re-enter unnoticed.
# ---------------------------------------------------------------------------


def _instrumented_edges(spark, n_edges: int = 12):
    """An edge DataFrame whose evaluation is observable: every row
    crossing the mapInPandas stage bumps a driver accumulator. A
    second component (two 6/7-cliques... actually a path + a clique)
    keeps the iterative operators doing real work for >1 round."""
    acc = spark.sparkContext.accumulator(0)
    # component 1: 4-clique on 0..3; component 2: path 10-11-12-13-14;
    # plus a few extra chords — small but non-trivial for k-core (the
    # clique survives k=2, the path peels) and multi-round CC.
    pairs = [
        (0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
        (10, 11), (11, 12), (12, 13), (13, 14),
        (10, 12), (20, 21),
    ][:n_edges]
    base = spark.createDataFrame(pairs, "id_a long, id_b long").coalesce(2)

    def _count(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    return base.mapInPandas(_count, "id_a long, id_b long"), acc, len(pairs)


def _assert_evaluated_once(acc, n: int, guard: str) -> None:
    """acc.value == n is the clean once-through. Spark accumulators
    double-count on task retries/speculation, so a transient task
    failure can legitimately add a PARTIAL partition (n + n/2, ...) —
    noise, not the regression this canary exists for. The replay
    signature of a reverted guard is a FULL re-evaluation of the
    upstream plan: a clean multiple >= 2n (the union/iteration
    branches each run the whole stage again). Flag exactly that
    (r12 advice: don't let a local-mode retry flake a guard as
    'gone')."""
    assert acc.value >= n, (
        f"instrumented stage saw only {acc.value}/{n} rows — the "
        "canary frame was not the frame the operator consumed"
    )
    replayed = acc.value >= 2 * n and acc.value % n == 0
    assert not replayed, (
        f"edge plan evaluated {acc.value / n:.1f}x (expected once): "
        f"the {guard} eager-checkpoint guard is gone"
    )


def test_pagerank_materializes_edges_once(spark):
    from streaming_data_spark.operators.graph import pagerank

    edges, acc, n = _instrumented_edges(spark)
    out = pagerank(edges, iters=3).collect()
    assert len(out) == 11  # 4-clique + 5-node path component + pair
    _assert_evaluated_once(acc, n, "graph.py pagerank")


def test_star_cc_materializes_edges_once(spark, star_cc_paths):
    from streaming_data_spark.operators.dedup import connected_components_star

    for path in star_cc_paths():
        edges, acc, n = _instrumented_edges(spark)
        out = connected_components_star(edges)
        rows = {r["id"]: r["cluster_id"] for r in out.collect()}
        assert rows[3] == 0 and rows[14] == 10 and rows[21] == 20
        _assert_evaluated_once(acc, n, f"dedup.py star-CC ({path})")


def test_triangles_materializes_edges_once(spark):
    from streaming_data_spark.operators.graph import triangles

    edges, acc, n = _instrumented_edges(spark)
    tri = triangles(edges).collect()
    assert len(tri) == 5  # C(4,3)=4 in the clique + (10,11,12)
    _assert_evaluated_once(acc, n, "graph.py triangles")


def test_kcore_materializes_edges_once(spark):
    from streaming_data_spark.operators.graph import kcore_peel

    edges, acc, n = _instrumented_edges(spark)
    out = {r["id"] for r in kcore_peel(edges, k=3, rounds=3).collect()}
    assert out == {0, 1, 2, 3}  # only the 4-clique survives the 3-core
    _assert_evaluated_once(acc, n, "graph.py kcore_peel")


# ---------------------------------------------------------------------------
# r12 verdict item 4: the same materialize-once canary for the two
# NON-graph multi-consumer sites previously pinned only by
# exchange-count asserts — the x75 TF-IDF weight table
# (queries_ext53.py) and x59 SemDeDup's assignment/vecs frames
# (queries_ext47.py). Exchange counts catch a replay only when it
# changes the exchange count; an accumulator catches it always.
#
# These are full (spark, sf_dir) queries, so the recipe instruments
# the TABLE LOADER instead of a literal frame: `_t` is monkeypatched
# to wrap the hot table in a row-counting mapInPandas stage, and the
# query runs twice — once as shipped, once with
# DataFrame.localCheckpoint no-op'd (exactly what reverting the guard
# does to the plan). The guard's entire purpose is to cut upstream
# re-evaluation, so the as-shipped run MUST count strictly fewer
# upstream rows — by at least one full table pass. If the guard is
# reverted in source, both runs build identical plans, the counts tie,
# and the test fails. Self-calibrating: no hard-coded in-plan scan
# multiplicities (those legitimately vary with join strategy), only
# the delta the checkpoint exists to create.
#
# Both passes run with spark.sql.exchange.reuse=false: at sf0.001
# ReusedExchange happens to dedupe every replayed subplan (measured:
# x75 reverted counts the SAME 3 passes with reuse on), which would
# mask a reverted guard. Reuse is exactly what the guard must not
# depend on — it only fires on bit-identical subplans within one
# query execution and silently vanishes when AQE re-optimizes or a
# consumer's pushed filters diverge — so the canary compares the two
# plans in the regime the checkpoint exists for. Same config both
# sides keeps the comparison fair.
#
# NOTE: the concrete class is pyspark.sql.classic.dataframe.DataFrame
# — pyspark.sql.DataFrame is the abstract parent and the subclass
# SHADOWS localCheckpoint, so patching the parent is a silent no-op
# (measured: counts tie with the parent patched).
# ---------------------------------------------------------------------------


def _count_table_evals(spark, sf_dir, module, query_name, table,
                       monkeypatch, noop_checkpoint):
    """Run module.<query_name>(spark, sf_dir) with `table` loads
    instrumented; return total rows seen crossing the instrumented
    stage (= rows-per-pass × number of upstream evaluations)."""
    from pyspark.sql.classic.dataframe import DataFrame

    from streaming_data_spark.schemas import load_table

    acc = spark.sparkContext.accumulator(0)

    def _t_instrumented(s, d, name):
        s.conf.set("spark.sql.session.timeZone", "UTC")
        df = load_table(s, d, name)
        if name != table:
            return df

        def _count(batches):
            for pdf in batches:
                acc.add(len(pdf))
                yield pdf

        return df.mapInPandas(_count, df.schema)

    reuse_before = spark.conf.get("spark.sql.exchange.reuse", "true")
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try:
        with monkeypatch.context() as m:
            m.setattr(module, "_t", _t_instrumented)
            if noop_checkpoint:
                m.setattr(DataFrame, "localCheckpoint",
                          lambda self, *a, **k: self)
            getattr(module, query_name)(spark, sf_dir).collect()
    finally:
        spark.conf.set("spark.sql.exchange.reuse", reuse_before)
    return acc.value


def test_x75_weight_table_materializes_once(spark, sf_small, monkeypatch):
    """The x75 TF-IDF weight table feeds three consumers (norms + both
    pair-join sides); the localCheckpoint at queries_ext53.py keeps
    the tf/df chains from replaying per consumer."""
    from streaming_data_spark import queries_ext53

    n = __import__("streaming_data_spark.schemas", fromlist=["load_table"]) \
        .load_table(spark, sf_small, "documents").count()
    guarded = _count_table_evals(
        spark, sf_small, queries_ext53, "q_x75_tfidf_topk_pairs",
        "documents", monkeypatch, noop_checkpoint=False)
    reverted = _count_table_evals(
        spark, sf_small, queries_ext53, "q_x75_tfidf_topk_pairs",
        "documents", monkeypatch, noop_checkpoint=True)
    assert guarded >= n  # instrumentation actually on the consumed path
    assert reverted >= guarded + n, (
        f"checkpoint saves no upstream evaluation (guarded={guarded}, "
        f"reverted={reverted}, rows/pass={n}): the queries_ext53.py "
        "weight-table localCheckpoint guard is gone"
    )


def test_x59_assignment_and_vecs_materialize_once(spark, sf_small,
                                                  monkeypatch):
    """x59 SemDeDup's argmin frame (vec_id, cluster, embedding) feeds
    the blocked pair kernel AND the final flag join; the single eager
    localCheckpoint at queries_ext47.py keeps the mapInArrow argmin
    pipeline from replaying per consumer (earlier shapes guarded the
    posexplode/centroid pipeline the same way)."""
    from streaming_data_spark import queries_ext47

    n = __import__("streaming_data_spark.schemas", fromlist=["load_table"]) \
        .load_table(spark, sf_small, "embeddings").count()
    guarded = _count_table_evals(
        spark, sf_small, queries_ext47, "q_x59_semdedup",
        "embeddings", monkeypatch, noop_checkpoint=False)
    reverted = _count_table_evals(
        spark, sf_small, queries_ext47, "q_x59_semdedup",
        "embeddings", monkeypatch, noop_checkpoint=True)
    assert guarded >= n
    assert reverted >= guarded + n, (
        f"checkpoint saves no upstream evaluation (guarded={guarded}, "
        f"reverted={reverted}, rows/pass={n}): a queries_ext47.py "
        "assignment/vecs localCheckpoint guard is gone"
    )
