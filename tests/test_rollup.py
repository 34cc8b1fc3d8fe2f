"""Tier-cascade rollups vs a pure-pandas oracle on the synthetic pages
table (golden rolled-up points per retention tier, SURVEY §5 adoption b)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from isp_trace_parser_spark import synth
from isp_trace_parser_spark.operators import rollup

N_URLS, N_SLOTS = 10, 48 * 40  # ~40 days, crosses a month boundary


@pytest.fixture(scope="module")
def tiers(spark):
    df = synth.pages(spark, n_urls=N_URLS, n_slots=N_SLOTS, gap_pct=10)
    t30 = rollup.rollup_raw(df)
    t1d = rollup.rollup_cascade(t30, 86400)
    tiers = {"agg_30m": t30, "agg_1d": t1d, "agg_1mo": rollup.rollup_cascade(t1d, None)}
    return {k: v.toPandas() for k, v in tiers.items()}


@pytest.fixture(scope="module")
def raw_pdf():
    return synth.pages_pandas(n_urls=N_URLS, n_slots=N_SLOTS, gap_pct=10)


def _oracle(raw: pd.DataFrame, freq: str) -> pd.DataFrame:
    df = raw.copy()
    # end-of-interval bucket: ceil to the bucket end
    df["bucket_ts"] = df["warc_ts"].dt.ceil(freq) if freq != "MS" else None
    if freq == "MS":
        shifted = df["warc_ts"] - pd.Timedelta(seconds=1)
        df["bucket_ts"] = (
            shifted.dt.to_period("M").dt.to_timestamp() + pd.DateOffset(months=1)
        )
    g = df.groupby(["url", "bucket_ts"])["value"]
    out = g.agg(
        avg_value="mean", min_value="min", max_value="max",
        sum_value="sum", cnt_value="count",
    ).reset_index()
    return out.rename(columns={"url": "series"}).sort_values(
        ["series", "bucket_ts"]
    ).reset_index(drop=True)


def _compare(spark_pdf: pd.DataFrame, oracle: pd.DataFrame):
    got = spark_pdf.sort_values(["series", "bucket_ts"]).reset_index(drop=True)
    assert len(got) == len(oracle)
    pd.testing.assert_series_equal(got["series"], oracle["series"])
    pd.testing.assert_series_equal(got["bucket_ts"], oracle["bucket_ts"])
    assert got["cnt_value"].equals(oracle["cnt_value"].astype("int64"))
    for c in ["avg_value", "min_value", "max_value", "sum_value"]:
        np.testing.assert_allclose(got[c], oracle[c], rtol=1e-12)


def test_30m_tier(tiers, raw_pdf):
    # half-hour-aligned input: 30m tier == raw points, bucket == warc_ts
    _compare(tiers["agg_30m"], _oracle(raw_pdf, "30min"))


def test_1d_tier(tiers, raw_pdf):
    _compare(tiers["agg_1d"], _oracle(raw_pdf, "1D"))


def test_1mo_tier(tiers, raw_pdf):
    _compare(tiers["agg_1mo"], _oracle(raw_pdf, "MS"))


def test_30m_bucket_is_end_of_interval(tiers, raw_pdf):
    # every raw warc_ts is already an end-of-period label, so the 30m
    # bucket must equal it exactly and each bucket holds exactly 1 point
    t30 = tiers["agg_30m"]
    assert (t30["cnt_value"] == 1).all()
    raw = raw_pdf.sort_values(["url", "warc_ts"]).reset_index(drop=True)
    got = t30.sort_values(["series", "bucket_ts"]).reset_index(drop=True)
    assert got["bucket_ts"].equals(raw["warc_ts"])
    assert (got["avg_value"].to_numpy() == raw["value"].to_numpy()).all()


def test_cascade_over_series_partitioned_tier_adds_no_exchange(spark, tmp_path):
    """A 30m tier already hash-partitioned by series feeds the 1d
    cascade with no exchange of its own: the plan holds only the
    input's repartition."""
    pages = synth.pages(spark, n_urls=20, n_slots=48 * 3, gap_pct=0)
    path = str(tmp_path / "t30")
    rollup.rollup_raw(pages, "url", "warc_ts", "value").write.parquet(path)
    t30 = spark.read.parquet(path).repartition("series")
    t1d = rollup.rollup_cascade(t30, 86400)
    plan = t1d._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert t1d.count() == 20 * 3


def test_mean_merge_matches_reference_a1(spark):
    # A1: concat + group_by(datetime).mean (helper_functions.py:32-37)
    a = synth.pages(spark, n_urls=2, n_slots=48).selectExpr(
        "warc_ts as datetime", "value"
    )
    b = synth.pages(spark, n_urls=2, n_slots=48).selectExpr(
        "warc_ts as datetime", "value * 3 as value"
    )
    merged = rollup.mean_merge([a, b]).toPandas()
    pa = synth.pages_pandas(n_urls=2, n_slots=48)
    oracle = (
        pd.concat(
            [
                pa[["warc_ts", "value"]],
                pa.assign(value=pa["value"] * 3)[["warc_ts", "value"]],
            ]
        )
        .groupby("warc_ts")["value"]
        .mean()
        .reset_index()
        .rename(columns={"warc_ts": "datetime"})
        .sort_values("datetime")
        .reset_index(drop=True)
    )
    assert len(merged) == 48
    np.testing.assert_allclose(merged["value"], oracle["value"], rtol=1e-12)


@pytest.mark.parametrize("seconds", [7200, 86400, 604800])
def test_histogram_cascade_equals_direct(spark, seconds):
    """Continuous-aggregate invariant for the distribution sketch:
    summing 30m histogram bins to a coarser width equals histogramming
    raw data at that width directly, and the plan is a pure two-phase
    agg (partial + final, no window/join)."""
    from isp_trace_parser_spark import synth
    from isp_trace_parser_spark.operators.rollup import (
        histogram_cascade,
        histogram_tier,
    )

    pages = synth.pages(spark, n_urls=5, n_slots=48 * 3, gap_pct=10)
    t30 = histogram_tier(pages, bucket_seconds=1800, bin_width=0.5)
    merged = (
        histogram_cascade(t30, seconds)
        .toPandas()
        .sort_values(["series", "bucket_ts", "bin"])
        .reset_index(drop=True)
    )
    direct = (
        histogram_tier(pages, bucket_seconds=seconds, bin_width=0.5)
        .toPandas()
        .sort_values(["series", "bucket_ts", "bin"])
        .reset_index(drop=True)
    )
    assert merged.equals(direct) and len(merged) > 0
    plan = (
        histogram_tier(pages)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("HashAggregate") == 2 and "Window" not in plan, plan


def test_histogram_percentile_rule_and_plan(spark):
    """p95 from bins: smallest bin reaching ceil(q*total), midpoint
    estimate; whole plan is ONE exchange (window clustering reused by
    the groupBy)."""
    import pandas as pd

    from isp_trace_parser_spark.operators.rollup import (
        histogram_percentile,
    )

    import datetime
    b = datetime.datetime(2024, 1, 2)
    # series x: bins 0..9 with count 1 each -> total 10, ceil(.95*10)=10
    # -> bin 9; series y: bin 3 x 19 + bin 7 x 1 -> ceil(19)=19 -> bin 3
    rows = [("x", b, i, 1) for i in range(10)] + [
        ("y", b, 3, 19), ("y", b, 7, 1)]
    tier = spark.createDataFrame(
        rows, "series string, bucket_ts timestamp_ntz, bin long, cnt long"
    )
    got = {
        r["series"]: (r["bin"], r["estimate"])
        for r in histogram_percentile(tier, 0.95, 0.5).collect()
    }
    assert got == {"x": (9, 4.75), "y": (3, 1.75)}
    plan = (
        histogram_percentile(tier, 0.95, 0.5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1, plan


@pytest.mark.parametrize("seconds", [7200, 86400, 604800])
def test_distinct_tier_cascade_equals_direct(spark, seconds):
    """Continuous-aggregate invariant for cardinality: unioning 30m HLL
    sketches up to a coarser width must equal sketching the raw stream
    at that width directly, and at small per-cell cardinality
    (sparse-mode sketches) both equal the exact distinct count."""
    from pyspark.sql import functions as F

    from isp_trace_parser_spark import synth
    from isp_trace_parser_spark.operators.rollup import (
        distinct_cascade,
        distinct_estimate,
        distinct_tier,
    )

    pages = synth.pages(spark, n_urls=40, n_slots=48 * 3, gap_pct=10)
    # key: the url itself observed under a derived visitor id — distinct
    # "visitors" per (coarse series, bucket)
    obs = pages.select(
        (F.crc32(F.col("url")) % 5).cast("string").alias("g"),
        "warc_ts",
        F.col("url").alias("visitor"),
    )
    t30 = distinct_tier(obs, "g", "warc_ts", "visitor", 1800, 14)
    via_tier = distinct_estimate(distinct_cascade(t30, seconds)).toPandas()
    direct = distinct_estimate(
        distinct_tier(obs, "g", "warc_ts", "visitor", seconds, 14)
    ).toPandas()
    exact = (
        obs.groupBy(
            F.col("g").alias("series"),
            rollup.bucket_end(F.col("warc_ts"), seconds).alias("bucket_ts"),
        )
        .agg(F.countDistinct("visitor").alias("n_exact"))
        .toPandas()
    )
    key = ["series", "bucket_ts"]
    m = (
        via_tier.merge(direct, on=key, suffixes=("_t", "_d"))
        .merge(exact, on=key)
        .sort_values(key)
    )
    assert len(m) == len(via_tier) == len(direct) == len(exact) > 0
    assert (m["n_distinct_t"] == m["n_distinct_d"]).all()
    assert (m["n_distinct_t"] == m["n_exact"]).all()


def test_histogram_percentiles_single_extra_exchange(spark):
    """Multi-q readout shares the cumulative window's exchange with
    the final grouping: exactly ONE exchange beyond the tier build,
    and per-q answers equal the single-q operator's."""
    from pyspark.sql import functions as F

    pages = synth.pages(spark, n_urls=8, n_slots=48 * 3, gap_pct=0)
    tier = rollup.histogram_tier(pages, bucket_seconds=86400, bin_width=0.5)
    multi = rollup.histogram_percentiles(tier, [0.5, 0.95])
    plan = multi._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 2, plan  # tier build + shared window/agg
    for q in (0.5, 0.95):
        single = (
            rollup.histogram_percentile(tier, q)
            .toPandas()
            .set_index(["series", "bucket_ts"])["estimate"]
            .sort_index()
        )
        sub = (
            multi.where(F.col("q") == q)
            .toPandas()
            .set_index(["series", "bucket_ts"])["estimate"]
            .sort_index()
        )
        assert (single == sub).all()


@pytest.mark.parametrize("bin_width", [0, -1.0])
def test_histogram_rejects_non_positive_bin_width(spark, bin_width):
    """A bin width <= 0 is rejected when the plan is built: 0 used to
    fail inside a Spark task with DIVIDE_BY_ZERO, and a negative width
    silently mirrored the bins (p95 of 0..99 read 4.5, not 94.5)."""
    pages = synth.pages(spark, n_urls=2, n_slots=4)
    with pytest.raises(ValueError, match="bin width"):
        rollup.histogram_tier(pages, bin_width=bin_width)
    tier = rollup.histogram_tier(pages, bin_width=0.5)
    with pytest.raises(ValueError, match="bin width"):
        rollup.histogram_percentiles(tier, [0.95], bin_width)


def _closure_cases():
    from isp_trace_parser_spark.tiers import CASCADE, TIERS

    cascaded = [t for t in TIERS if t.family in CASCADE]
    return [pytest.param(t.name, None, id=t.name) for t in cascaded] + [
        pytest.param(t.name, rollup.DEC, id=f"{t.name}-decimal")
        for t in cascaded if t.family == "agg"
    ]


@pytest.mark.parametrize("name,sum_cast", _closure_cases())
def test_cascade_is_closed_over_a_tiers_own_rows(spark, name, sum_cast):
    """A family's cascade rule applied to a tier at the tier's own
    resolution returns the tier, sketches byte for byte: the pipeline
    re-aggregates a tier's kept rows together with new input rows."""
    from pyspark.sql import functions as F

    from isp_trace_parser_spark.tiers import BY_NAME, CASCADE

    pages = synth.pages(spark, n_urls=12, n_slots=48 * 40, gap_pct=10)
    obs = pages.select(
        (F.crc32(F.col("url")) % 3).cast("string").alias("g"), "warc_ts", "value",
        F.col("url").alias("visitor"),
    )
    rules = {
        "agg": rollup.agg_rule("value", sum_cast),
        "hist": rollup.hist_rule("value", 0.5),
        "dist": rollup.dist_rule("visitor", 14),
    }

    def build(t):
        if t.input is None:
            return rollup.raw_tier(obs, rules[t.family], "g", "warc_ts", t.seconds, by=())
        return CASCADE[t.family](build(BY_NAME[t.input]), t.seconds)

    t = BY_NAME[name]
    tier = build(t).localCheckpoint()
    again = CASCADE[t.family](tier, t.seconds)
    assert again.columns == tier.columns
    assert again.exceptAll(tier).isEmpty() and tier.exceptAll(again).isEmpty()
