"""Physical-plan shape assertions: the optimizer work we rely on at
100 TB must be visible in explain output at any scale (SURVEY §4)."""

from __future__ import annotations

from tests.conftest import SF_SMALL, group_jobs


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_scan_filter_project_pushdown(spark):
    from weatherflow_spark.plans.relational import q_scan_filter_project

    plan = _formatted(q_scan_filter_project(spark, SF_SMALL))
    # Predicate reaches the parquet scan...
    assert "PushedFilters" in plan
    assert "c_mktsegment" in plan.split("PushedFilters")[1].splitlines()[0]
    # ...and only the needed columns are read.
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "c_custkey" in read_schema and "c_nationkey" not in read_schema


def test_star_join_broadcasts_dims(spark):
    from weatherflow_spark.plans.relational import q_star_join_agg

    plan = _plan(q_star_join_agg(spark, SF_SMALL))
    # customer and nation must broadcast; the lineitem side must not
    # appear under a BroadcastExchange.
    assert plan.count("BroadcastHashJoin") >= 2


def test_topk_plans_take_ordered(spark):
    from weatherflow_spark.plans.relational import q_topk

    plan = _plan(q_topk(spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan


def test_groupby_is_two_phase_hash_agg(spark):
    from weatherflow_spark.plans.relational import q_groupby_agg

    plan = _plan(q_groupby_agg(spark, SF_SMALL))
    # partial (map-side) + final aggregate → two HashAggregate nodes.
    assert plan.count("HashAggregate") >= 2


def test_enrichment_is_single_stage_no_shuffle(spark):
    from weatherflow_spark.plans.queries import events_weather, _local_ts
    from weatherflow_spark.functions.weather import add_calc_attributes

    df = add_calc_attributes(events_weather(spark, SF_SMALL))
    plan = _plan(df)
    assert "Exchange" not in plan  # narrow transforms only (SURVEY §3.1)


def test_arg_max_is_aggregate_not_window(spark):
    from weatherflow_spark.plans.analytics import q_arg_max

    plan = _plan(q_arg_max(spark, SF_SMALL))
    # arg-max must plan as a two-phase aggregate (map-side partial_max
    # per partition, one row per group crossing the exchange), NOT as
    # a window over all rows. Struct-typed max buffers aren't
    # hash-aggregatable, so Spark picks SortAggregate — still partial.
    assert "partial_max" in plan
    assert plan.count("Exchange") == 1
    assert "Window" not in plan


def test_conditional_agg_single_scan(spark):
    from weatherflow_spark.plans.analytics import q_conditional_agg

    plan = _plan(q_conditional_agg(spark, SF_SMALL))
    # all conditional branches in one pass: exactly one scan, one exchange.
    assert plan.count("FileScan") == 1
    assert plan.count("Exchange") == 1


def test_corpus_curation_dedup_uses_group_limit(spark):
    from weatherflow_spark.plans.analytics import q_corpus_curation

    plan = _plan(q_corpus_curation(spark, SF_SMALL))
    # the keep-first-per-content-hash dedup must plan as a group-limit
    # (rank pushdown) so each partition keeps 1 row per hash before the
    # exchange, not a full materialized sort of the corpus.
    assert "WindowGroupLimit" in plan
    # scoring/filtering stay narrow: shuffles only for dedup + final agg.
    assert plan.count("Exchange") <= 3


def test_array_ops_no_explode_no_python(spark):
    from weatherflow_spark.plans.analytics import q_array_ops

    plan = _plan(q_array_ops(spark, SF_SMALL))
    assert "Generate" not in plan  # no explode
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan  # fully narrow per-vector math


def test_stratified_sample_uses_group_limit(spark):
    from weatherflow_spark.plans.analytics import q_stratified_sample

    plan = _plan(q_stratified_sample(spark, SF_SMALL))
    # per-stratum top-N must keep a heap before the exchange.
    assert "WindowGroupLimit" in plan


def test_first_last_single_window_node(spark):
    from weatherflow_spark.plans.analytics import q_window_first_last

    plan = _plan(q_window_first_last(spark, SF_SMALL))
    # same partitioning+ordering for all four exprs → one shuffle.
    assert plan.count("Exchange") == 1


def test_quality_gate_budget_pinned(spark):
    """The scheduler gate (q_quality_gate, sections=GATE_SECTIONS) must
    stay the CHEAP invariant pass a scheduler polls before every load:
    at sf0.1 it runs fewer than half the Spark jobs of the full report,
    which adds the digest folds and the skew windows. A job count is
    the cost the gate's sections decide, and unlike wall time it does
    not move with the box's load (measured: gate 16 jobs, report 36)."""
    from weatherflow_spark.operators.caching import release_caches
    from weatherflow_spark.plans.quality import (
        q_data_quality_report,
        q_quality_gate,
    )

    sf01 = "/root/testdata/sf0.1"

    def jobs(fn) -> int:
        def run():
            fn(spark, sf01).write.format("noop").mode("overwrite").save()

        try:
            return group_jobs(spark, f"quality-{fn.__name__}", run)
        finally:
            release_caches()

    gate, report = jobs(q_quality_gate), jobs(q_data_quality_report)
    assert gate < report / 2, (
        f"gate budget blown: gate {gate} jobs vs full report "
        f"{report} jobs (must be < half)"
    )
