"""Physical-plan regression tests: the plans we designed for are the
plans Spark runs. A correctness-green query with a wrong plan (missed
pushdown, surprise shuffle, no broadcast) fails here."""

import pytest

from sparkml_som_spark.operators.registry import load_all
from sparkml_som_spark.plans import (
    assert_broadcast_join,
    assert_pushed_filters,
    count_exchanges,
    formatted_plan,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registry():
    return load_all()


def test_filter_pushdown_reaches_scan(spark, registry):
    df = registry["filter_project_parts"].fn(spark, SF)
    assert assert_pushed_filters(df), formatted_plan(df)
    # projection pruning: scan must not read all columns
    plan = formatted_plan(df)
    assert "p_retailprice" in plan


def test_q6_no_shuffle(spark, registry):
    """Filter + global agg: partial/final agg only, a single exchange for
    the final single-partition combine, nothing keyed."""
    df = registry["q6_revenue_forecast"].fn(spark, SF)
    assert count_exchanges(df) <= 1, formatted_plan(df)
    assert assert_pushed_filters(df)


def test_q3_broadcasts_dimension(spark, registry):
    df = registry["q3_shipping_priority"].fn(spark, SF)
    assert assert_broadcast_join(df), formatted_plan(df)


def test_q5_single_fact_shuffle(spark, registry):
    """All dims broadcast: the only shuffles are the orders-lineitem join
    and the final small agg."""
    df = registry["q5_local_supplier_volume"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    # at most: fact-fact join exchange x2 + agg exchange + sort for orderBy
    assert count_exchanges(df) <= 5, plan


def test_topk_plans_take_ordered(spark, registry):
    df = registry["sort_topk_lineitems"].fn(spark, SF)
    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_range_join_is_broadcast_nested_loop(spark, registry):
    df = registry["range_join_price_bands"].fn(spark, SF)
    assert "BroadcastNestedLoopJoin" in formatted_plan(df)


def test_asof_join_single_shuffle(spark, registry):
    """The as-of join must shuffle once on the key (plus the union),
    never produce a nested-loop or range-explosion plan."""
    df = registry["asof_join_signup_attribution"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "tumbling_window_events",
        "sliding_window_events",
        "session_window_events",
        "interval_join_click_after_signup",
    ],
)
def test_batch_window_entry_drops_watermark(spark, registry, name):
    """These batch entries run the watermarked streaming definitions on
    the static table; the optimizer must drop the watermark, so sharing
    the definition leaves the batch plan as it was."""
    df = registry[name].fn(spark, SF)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "EventTimeWatermark" not in plan, plan


def test_whole_stage_codegen_in_hot_paths(spark, registry):
    from sparkml_som_spark.plans import has_codegen

    for name in ["q1_pricing_summary", "string_funcs_parts", "date_funcs_orders"]:
        assert has_codegen(registry[name].fn(spark, SF)), name


def test_partitioned_sink_scan_prunes(spark, registry):
    """The read-back side of sink_partitioned_pruned_scan must plan a
    partition PRUNE on o_orderstatus (the filter never touches data
    files of other statuses) — the layout contract of the query."""
    df = registry["sink_partitioned_pruned_scan"].fn(spark, SF)
    plan = formatted_plan(df)
    # partition filters appear as PartitionFilters on the scan node; the
    # pruned column must NOT appear as a pushed data filter
    assert "PartitionFilters" in plan and "o_orderstatus" in plan, plan


def test_window_analytic_suite_single_shuffle_per_frame(spark, registry):
    """Five window functions over two frame specs on ONE partition key:
    at most two exchanges (one per sort order), not one per function."""
    df = registry["window_analytic_suite"].fn(spark, SF)
    assert count_exchanges(df) <= 2, formatted_plan(df)


def test_histogram_single_keyed_exchange(spark, registry):
    """Floor-arithmetic binning must stay JVM-side: one keyed exchange
    for the final agg (partial combine map-side), no UDF in the plan."""
    df = registry["histogram_event_values"].fn(spark, SF)
    plan = formatted_plan(df)
    assert count_exchanges(df) <= 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_mixture_weights_broadcasts_total(spark, registry):
    """The one-row global total must join back via broadcast, never a
    sort-merge join against the per-domain aggregate."""
    df = registry["corpus_mixture_weights"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_negative_pairs_equi_join_no_cartesian(spark, registry):
    """The stride-partner map must plan an equi-join (hash or merge),
    never a cartesian pairing.  The ONE-ROW count total folding N into
    the plan rides a BroadcastNestedLoopJoin (the approved broadcast
    one-row shape, same as corpus_mixture_weights) — at most one such
    join is allowed, and the partner pairing itself must still be an
    equi-join."""
    df = registry["negative_sampling_pairs"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    # formatted plans list each node twice (tree line + "(N) Node" detail
    # header) — count the detail headers to count actual join nodes
    import re

    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 1, plan
    assert any(
        j in plan for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    ), plan


def test_funnel_no_cartesian(spark, registry):
    """Every funnel hop must plan as an equi-join on user_id with the
    time predicate as a filter — since the single-pass refactor there
    is no one-row totals join left, so NO nested-loop join of any kind
    may appear."""
    df = registry["funnel_conversion_events"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # joins on user_id appear as hash or sort-merge joins
    assert "Join" in plan


def test_shuffle_hash_hint_takes_effect(spark, registry):
    """The SHUFFLE_HASH hint must actually plan a ShuffledHashJoin —
    silently falling back to sort-merge would void the no-sort claim."""
    df = registry["join_hint_shuffle_hash"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "ShuffledHashJoin" in plan, plan


def test_null_skew_split_nulls_avoid_shuffle(spark, registry):
    """The null-key branch must not feed the join: exactly one join in
    the plan, probing only the non-null filtered side."""
    df = registry["null_skew_split_join"].fn(spark, SF)
    plan = formatted_plan(df)
    import re

    joins = re.findall(r"\(\d+\) \w*Join", plan)
    assert len(joins) == 1, plan
    assert "Union" in plan, plan


def test_dpp_prunes_partitions_at_runtime(spark, registry):
    """The status-partitioned fact scan must carry a runtime
    dynamicpruningexpression in its PartitionFilters — reading all
    partitions and filtering after the join would defeat the layout."""
    df = registry["dpp_partitioned_fact_join"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "dynamicpruning" in plan.lower(), plan


def test_incremental_merge_single_pass_per_slice(spark, registry):
    """The merge is union of two partial aggregates re-aggregated on the
    same keys — no join, no window, no cartesian."""
    df = registry["incremental_agg_merge"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan


def test_funnel_cohort_no_cartesian(spark, registry):
    """The grouped cohort funnel reuses the per-user stage tables and
    must stay all-equi-join: no cartesian, no nested loop anywhere (it
    has no one-row totals join — every join is keyed on user_id)."""
    df = registry["funnel_cohort_daily"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_triangle_prunes_part_dim_and_broadcasts(spark, registry):
    """The p_size node filter must ride a broadcast part-dimension join
    (pruning BEFORE the pair self-join), and the wedge pipeline must be
    all-equi: no cartesian, no nested loop."""
    df = registry["triangle_count_copurchase"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan


def test_basket_lift_broadcasts_decorations(spark, registry):
    """The pair self-join shuffles on the order key only; the singles
    table and one-row total decorate via broadcast."""
    df = registry["basket_lift_brand_pairs"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_chunk_planner_no_exchange_no_python(spark, registry):
    """The closed-form chunk plan is a pure per-row map: no shuffle at
    all and no Python in the plan."""
    df = registry["chunk_overlap_plan"].fn(spark, SF)
    plan = formatted_plan(df)
    assert count_exchanges(df) == 0, plan
    assert "EvalPython" not in plan, plan


def test_bloom_probe_joins_broadcast_bits(spark, registry):
    """The probe side must join the bit set as a broadcast (the whole
    point: fixed-size filter instead of a shuffle against the build
    table); exactly one nested-loop join (the one-row total)."""
    import re

    df = registry["bloom_semijoin_customers"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    bnlj = re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", plan, flags=re.MULTILINE)
    assert len(bnlj) <= 1, plan


def test_reconcile_drill_join_only_on_diff_buckets(spark, registry):
    """Bucket digests aggregate map-side; the row-level drill joins
    must be equi (no cartesian/nested-loop anywhere)."""
    df = registry["table_diff_reconcile"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_vocab_coverage_take_ordered_no_global_window(spark, registry):
    """Vocabulary selection must plan TakeOrderedAndProject (bounded
    per-partition top-k), not a single-partition global window."""
    df = registry["tokenizer_vocab_coverage"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_kanon_audit_no_join_no_window(spark, registry):
    """The privacy audit is two chained aggregates over one scan —
    no join, no window anywhere."""
    df = registry["kanon_quasi_identifier_audit"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan


def test_segment_algebra_pure_aggregates(spark, registry):
    """Segmentation is per-user reduction + bounded cube — no joins,
    no event-set intersections in the plan."""
    df = registry["segment_algebra_users"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan
    assert assert_pushed_filters(df), plan


def test_tz_rollup_single_keyed_exchange_no_python(spark, registry):
    """The timezone conversion is per-row codegen: one keyed exchange
    (the aggregate), nothing Python."""
    df = registry["tz_local_day_rollup"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "EvalPython" not in plan, plan
    assert count_exchanges(df) <= 2, plan


def test_share_of_parent_all_dims_broadcast(spark, registry):
    """Every dimension hop rides a broadcast join; no sort-merge join
    on the corpus path."""
    df = registry["share_of_parent_revenue"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
