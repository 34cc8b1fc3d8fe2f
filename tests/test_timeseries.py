"""operators/timeseries.py — TWA, M4 downsample, counter rate on
handcrafted series with known answers."""

from __future__ import annotations

import datetime

import pandas as pd
import pytest

from isp_trace_parser_spark.operators import timeseries

T0 = datetime.datetime(2024, 1, 1, 0, 0, 0)


def _df(spark, rows):
    """rows: (series, seconds_after_T0, value)."""
    pdf = pd.DataFrame(
        {
            "series": [r[0] for r in rows],
            "ts": pd.Series(
                [T0 + datetime.timedelta(seconds=r[1]) for r in rows],
                dtype="datetime64[us]",
            ),
            "value": [float(r[2]) for r in rows],
            "uid": range(len(rows)),
        }
    )
    return spark.createDataFrame(pdf)


def test_twa_weights_by_hold_time(spark):
    # bucket (00:00, 30:00]: v=10 held 0->1200s... samples at t=0s? use
    # t=1s (bucket (−30m,0] would catch t=0 exactly; end-label (0,1800])
    # v=10 at t=60 held until t=660 (600s), v=20 at t=660 held to bucket
    # end 1800 (1140s). TWA = (10*600 + 20*1140) / 1740 = 16.551724...
    df = _df(spark, [("a", 60, 10.0), ("a", 660, 20.0)])
    out = timeseries.time_weighted_avg(
        df, "series", "ts", "value", "uid", 1800
    ).collect()
    assert len(out) == 1
    assert out[0]["bucket_ts"] == datetime.datetime(2024, 1, 1, 0, 30)
    assert out[0]["twa_value"] == pytest.approx(
        (10 * 600 + 20 * 1140) / 1740.0
    )
    assert out[0]["n_samples"] == 2


def test_twa_next_sample_beyond_bucket_clips_to_bucket_end(spark):
    # second sample lands in the NEXT bucket: first sample's hold clips
    # at its own bucket end; each bucket averages only its own samples.
    df = _df(spark, [("a", 60, 10.0), ("a", 2000, 50.0)])
    out = {
        r["bucket_ts"]: r["twa_value"]
        for r in timeseries.time_weighted_avg(
            df, "series", "ts", "value", "uid", 1800
        ).collect()
    }
    assert out[datetime.datetime(2024, 1, 1, 0, 30)] == pytest.approx(10.0)
    assert out[datetime.datetime(2024, 1, 1, 1, 0)] == pytest.approx(50.0)


def test_twa_all_samples_at_one_instant_falls_back_to_mean(spark):
    # zero total hold (both at bucket end) -> plain mean fallback
    df = _df(spark, [("a", 1800, 10.0), ("a", 1800, 30.0)])
    out = timeseries.time_weighted_avg(
        df, "series", "ts", "value", "uid", 1800
    ).collect()
    assert len(out) == 1
    assert out[0]["twa_value"] == pytest.approx(20.0)


def test_m4_min_max_first_last_with_ties(spark):
    # two samples share ts=100: uid breaks the tie -> first is uid=0
    df = _df(
        spark,
        [
            ("a", 100, 5.0),
            ("a", 100, 1.0),
            ("a", 200, 9.0),
            ("a", 300, 2.0),
        ],
    )
    row = timeseries.m4_downsample(
        df, "series", "ts", "value", "uid", 1800
    ).collect()[0]
    assert row["min_value"] == 1.0
    assert row["max_value"] == 9.0
    assert row["first_value"] == 5.0  # uid 0 wins the ts tie
    assert row["last_value"] == 2.0


def test_counter_rate_handles_resets(spark):
    # 10 -> 25 (+15), 25 -> 3 (reset: +3), 3 -> 7 (+4); first sample
    # contributes 0. Total increase in bucket = 22.
    df = _df(
        spark,
        [("a", 60, 10.0), ("a", 120, 25.0), ("a", 180, 3.0), ("a", 240, 7.0)],
    )
    row = timeseries.counter_rate(
        df, "series", "ts", "value", "uid", 1800
    ).collect()[0]
    assert row["increase"] == pytest.approx(22.0)
    assert row["n_samples"] == 4


def test_counter_rate_series_are_independent(spark):
    # lag must not leak across series
    df = _df(spark, [("a", 60, 10.0), ("b", 120, 100.0), ("a", 180, 12.0)])
    got = {
        r["series"]: r["increase"]
        for r in timeseries.counter_rate(
            df, "series", "ts", "value", "uid", 1800
        ).collect()
    }
    assert got["a"] == pytest.approx(2.0)
    assert got["b"] == pytest.approx(0.0)


def test_single_exchange_plans(spark):
    """TWA and counter-rate window + agg must share ONE exchange (the
    series alias is created before the window so the groupBy's
    clustering is satisfied by the window's partitioning); on input
    already hash-partitioned by series that one exchange is the
    input's own, so the operators add none. M4 is a pure two-phase agg
    with no window at all."""
    df = _df(spark, [("a", 60, 1.0), ("a", 120, 2.0), ("b", 60, 3.0)])
    for op in (timeseries.time_weighted_avg, timeseries.counter_rate):
        for src in (df, df.repartition("series")):
            plan = (
                op(src, "series", "ts", "value", "uid", 1800)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            assert plan.count("Exchange") == 1, plan
    m4 = (
        timeseries.m4_downsample(df, "series", "ts", "value", "uid", 1800)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert m4.count("Exchange") == 1 and "Window" not in m4, m4


def test_no_python_udf_in_plans(spark):
    df = _df(spark, [("a", 60, 1.0), ("a", 120, 2.0)])
    for op in (
        timeseries.time_weighted_avg,
        timeseries.m4_downsample,
        timeseries.counter_rate,
    ):
        plan = (
            op(df, "series", "ts", "value", "uid", 1800)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "EvalPython" not in plan


def test_gap_report_hand_computed(spark):
    """Grid 0,1800,3600s with holes: series 'a' present at slots
    {0,3,4,7}, so two gaps: slots 1-2 (2 missing) and 5-6 (2 missing);
    series 'b' contiguous -> no rows."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    mk = lambda slot: base + datetime.timedelta(seconds=1800 * slot)
    rows = [("a", mk(s)) for s in (0, 3, 4, 7)] + [
        ("b", mk(s)) for s in (2, 3, 4)
    ]
    df = spark.createDataFrame(rows, "series string, bucket_ts timestamp_ntz")
    got = (
        timeseries.gap_report(df, "series", "bucket_ts", 1800)
        .orderBy("series", "gap_start")
        .collect()
    )
    assert [(r["series"], r["gap_start"], r["gap_end"], r["n_missing"])
            for r in got] == [
        ("a", mk(1), mk(2), 2),
        ("a", mk(5), mk(6), 2),
    ]
    plan = (
        timeseries.gap_report(df, "series", "bucket_ts", 1800)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1 and "Join" not in plan, plan


def test_ewma_hand_computed_and_batch_carry(spark):
    """s_0=x_0, s_i=0.25*x_i+0.75*s_{i-1}; verified against the closed
    recurrence, WITH the Arrow batch size forced down to 3 rows so the
    per-series state must carry across mapInPandas batch splits."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    xs = [4.0, 8.0, 8.0, 0.0, 2.0, 6.0, 1.0]
    rows = [
        ("a", base + datetime.timedelta(seconds=1800 * i), float(i), x)
        for i, x in enumerate(xs)
    ] + [
        ("b", base + datetime.timedelta(seconds=1800 * i), float(100 + i),
         x * 10)
        for i, x in enumerate(xs)
    ]
    df = spark.createDataFrame(
        rows, "series string, ts timestamp_ntz, k double, value double"
    )
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        results = {
            exact: (
                timeseries.ewma(df.coalesce(1), "series", "ts", "value",
                                "k", alpha=0.25, exact_shape=exact)
                .toPandas()
                .sort_values(["series", "ts"])
                .reset_index(drop=True)
            )
            for exact in (True, False)
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    import numpy as np

    for mult, ser in ((1.0, "a"), (10.0, "b")):
        s = None
        want = []
        for x in xs:
            x *= mult
            s = x if s is None else 0.25 * x + 0.75 * s
            want.append(s)
        # oracle-parity path: bit-exact recurrence
        sub = results[True][results[True]["series"] == ser]
        assert list(sub["ewma"]) == want
        # production vectorized path (pandas C ewm): same recurrence,
        # last-ulp fp-shape freedom; batch-carry seeding must hold
        sub = results[False][results[False]["series"] == ser]
        np.testing.assert_allclose(sub["ewma"].to_numpy(), want,
                                   rtol=1e-12, atol=0)


def test_new_ops_plan_shapes(spark):
    """ewma: one exchange, the only Python surface is the mapInArrow
    node (no per-row PythonUDF, no pandas conversion); crawl_schedule:
    one exchange, no UDF at all."""
    import datetime

    from isp_trace_parser_spark.functions.web import crawl_schedule

    df = _df(spark, [("a", 60, 1.0), ("a", 120, 2.0), ("b", 60, 3.0)])
    ew = timeseries.ewma(df, "series", "ts", "value", "uid")
    plan = ew._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "MapInArrow" in plan and "BatchEvalPython" not in plan, plan

    docs = spark.createDataFrame(
        [(1, "a.com"), (2, "b.com")], "doc_id long, source string"
    )
    cs = crawl_schedule(docs, "source", "doc_id",
                        datetime.datetime(2024, 2, 1))
    plan = cs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "PythonUDF" not in plan and "EvalPython" not in plan, plan


def test_ewma_closed_form_kernel_property():
    """The production vectorized kernel (blocked-rescaled closed form)
    matches the literal recurrence to a few ulps across alphas (incl.
    ones that shrink the rescale block), segment lengths spanning
    multiple blocks, and carried-state seeding."""
    import numpy as np

    rng = np.random.RandomState(7)
    for a in (0.01, 0.1, 0.5, 0.9, 0.99):
        for n in (1, 3, 511, 512, 513, 5000):
            for s0 in (None, 12.34):
                vals = rng.rand(n) * 200 - 100
                got = timeseries._ewma_closed_form(vals, a, s0=s0)
                s = s0
                want = np.empty(n)
                for i, x in enumerate(vals):
                    s = x if s is None else a * x + (1.0 - a) * s
                    want[i] = s
                np.testing.assert_allclose(
                    got, want, rtol=1e-11, atol=1e-13,
                    err_msg=f"alpha={a} n={n} s0={s0}")
    # alpha == 1 degenerates to identity
    vals = rng.rand(10)
    np.testing.assert_array_equal(
        timeseries._ewma_closed_form(vals, 1.0), vals)


def test_zscore_hand_computed(spark):
    """lookback=3, threshold=1.0 over a handcrafted series: point at
    t=5 (value 10 after baseline [1,2,3]) must flag with
    mean=2, std=1, z=8; early points (fewer than 3 priors) and the
    flat tail must not."""
    rows = [("a", 60 * i, v) for i, v in enumerate(
        [1.0, 2.0, 3.0, 10.0, 10.0, 10.0, 10.0])]
    df = _df(spark, rows)
    got = timeseries.zscore_anomalies(
        df, "series", "ts", "value", "uid", lookback=3, threshold=1.0,
        sum_cast="decimal(18,4)",
    ).toPandas().sort_values("ts").reset_index(drop=True)
    # t=3: baseline [1,2,3] -> mean 2, var ((114/...)): s1=6, s2=14,
    # var=(14-12)/2=1, z=(10-2)/1=8
    assert len(got) == 2
    assert got.iloc[0]["ts"] == T0 + datetime.timedelta(seconds=180)
    assert got.iloc[0]["baseline_mean"] == pytest.approx(2.0)
    assert got.iloc[0]["baseline_std"] == pytest.approx(1.0)
    assert got.iloc[0]["zscore"] == pytest.approx(8.0)
    # t=4: baseline [2,3,10] -> mean 5, std sqrt(19), z=5/sqrt(19)<1.15
    assert got.iloc[1]["ts"] == T0 + datetime.timedelta(seconds=240)
    assert got.iloc[1]["zscore"] == pytest.approx(5 / (19 ** 0.5))
    # t=5: baseline [3,10,10] has std>0 but |z|<1; t=6: [10,10,10]
    # degenerate std -> suppressed


def test_zscore_constant_series_never_fires(spark):
    """A flatlined series with a non-integral value (2.3) makes the
    textbook variance cancel to a tiny NEGATIVE double even with exact
    decimal sums; sqrt would yield NaN, and NaN passes both filters
    under Spark's NaN-is-largest ordering. The variance clamp must
    suppress every row (the docstring's 'constant series never fire'
    contract)."""
    rows = [("a", 60 * i, 2.3) for i in range(80)]
    got = timeseries.zscore_anomalies(
        _df(spark, rows), "series", "ts", "value", "uid",
        lookback=48, threshold=1.0, sum_cast="decimal(18,4)",
    ).toPandas()
    assert len(got) == 0, got


def test_zscore_plan_single_exchange_no_udf(spark):
    df = _df(spark, [("a", 60, 1.0), ("a", 120, 2.0)])
    z = timeseries.zscore_anomalies(df, "series", "ts", "value", "uid")
    plan = z._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "EvalPython" not in plan, plan


def test_seasonal_profile_hand_computed(spark):
    """2024-01-01 is a Monday (weekday 0). Two samples in the same
    (Mon, hour 0) cell average; a Tuesday sample lands in its own
    cell."""
    df = _df(spark, [
        ("a", 600, 4.0),          # Mon 00:10
        ("a", 1800, 8.0),         # Mon 00:30
        ("a", 86400 + 3600, 5.0),  # Tue 01:00
    ])
    got = {
        (r["weekday"], r["hour"]): (r["avg_value"], r["n_samples"])
        for r in timeseries.seasonal_profile(
            df, "series", "ts", "value"
        ).collect()
    }
    assert got[(0, 0)] == (6.0, 2)
    assert got[(1, 1)] == (5.0, 1)
    assert len(got) == 2
