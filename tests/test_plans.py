"""Physical-plan quality gates: the optimizations SURVEY §4 relies on
must actually appear in the executed plans (pushdown reaching the scan,
broadcast joins for dims, two-phase partial aggregation, top-k without a
global sort). A plan regression here is a 100x cost at 100 TB even when
results stay correct."""

from __future__ import annotations

import pytest

import __spark_entry__ as em

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = em.queries()[name](spark, SF)
    qe = df._jdf.queryExecution()
    return qe.executedPlan().toString() + qe.optimizedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(spark, "window_fy")
    assert "PushedFilters: [" in plan
    # the time-range predicate must be pushed, not just evaluated post-scan
    assert "GreaterThan(ts" in plan and "LessThanOrEqual(ts" in plan
    # plan toString truncates long filter lists; match the prefix
    assert "In(event_" in plan


def test_projection_pruning(spark):
    # window query selects 3 of 6 event columns -> scan schema pruned
    df = em.queries()["window_fy"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    read = [line for line in plan.splitlines() if "ReadSchema" in line][0]
    assert "props" not in read and "user_id" not in read


def test_dim_joins_broadcast(spark):
    plan = _plan(spark, "region_revenue_broadcast")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_two_phase_hash_agg(spark):
    for q in ("rollup_30m", "tpch_q1_pricing_summary"):
        plan = _plan(spark, q)
        assert "partial_" in plan, q  # map-side combine present


def test_semi_join_stays_semi(spark):
    assert "LeftSemi" in _plan(spark, "part_semi_join")


def test_topk_avoids_global_sort(spark):
    assert "TakeOrderedAndProject" in _plan(spark, "cosine_topk")


def test_no_python_udf_in_jvm_queries(spark):
    # every non-codec, non-media query must stay JVM-side: no
    # BatchEvalPython (row-wise) or ArrowEvalPython (pandas) nodes
    jvm_only = [
        "rollup_30m", "rollup_1d", "rollup_1mo", "window_fy", "gapfill_30m",
        "tpch_q1_pricing_summary", "region_revenue_broadcast", "dedup_exact",
        "ngram_jaccard_pairs", "simhash_fingerprints", "cosine_topk",
        "text_stats", "lang_id", "doc_fingerprints", "lag_delta",
    ]
    for q in jvm_only:
        plan = _plan(spark, q)
        assert "BatchEvalPython" not in plan, q
        assert "ArrowEvalPython" not in plan, q


def test_serving_routes_prune_at_scan(spark):
    """Every TierStore route (avg, percentile, distinct, auto) must
    reach the parquet scan with BOTH partition pruning (day_bucket
    PartitionFilters) and data filters (bucket_ts PushedFilters) — a
    serving read that lists the whole table is wrong at any scale."""
    import datetime

    import __spark_entry__ as em
    from isp_trace_parser_spark.serving import TierStore
    from isp_trace_parser_spark.sources.catalog import Catalog

    sf = "/root/testdata/sf0.001"
    start = datetime.datetime(2024, 1, 2)
    end = datetime.datetime(2024, 1, 4)
    hot = TierStore(Catalog(spark, em._pipelined_wh(spark, sf)))
    dist = TierStore(Catalog(spark, em._distinct_wh(spark, sf)))
    routes = {
        "series": hot.series(start=start, end=end, resolution="2h"),
        "percentile": hot.percentile(0.95, start=start, end=end,
                                     resolution="2h"),
        "auto": hot.series_auto(start, end, max_points=50)[0],
        "distinct": dist.distinct(start=start, end=end, resolution="2h"),
    }
    for name, df in routes.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "day_bucket" in plan, (
            name, plan[:800])
        assert "PushedFilters: [IsNotNull(bucket_ts)" in plan, name
