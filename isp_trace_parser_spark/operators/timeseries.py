"""Irregular-series analytics beyond plain bucket rollups: time-weighted
averages, M4 visualization downsampling, and counter-rate (monotonic
counter increase with reset handling).

The reference's traces are regular half-hourly grids, so its mean is an
unweighted mean (trace_restructure_helper_functions.py:32-37). Real
crawl/trace feeds are IRREGULAR — a page re-crawled 3 times in one
half-hour then not for a week — and an unweighted mean over-weights
bursts. These operators are the standard remedies (TimescaleDB
``time_weight``, the M4 downsampling operator from Jugel et al., VLDB
2014, and PromQL ``increase``), re-expressed as Catalyst window + agg
expressions.

Scale notes:
- All three are one shuffle each: a window partitioned by series
  followed by a groupBy on (series, bucket) that reuses the window's
  partitioning. On input already hash-partitioned on series (e.g.
  after ``repartition(series)``) the window and agg add no exchange.
- Exact integer microsecond math throughout (unix_micros), no float
  time arithmetic: results are engine-portable and oracle-able.
- No UDFs; everything stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from isp_trace_parser_spark.operators.rollup import bucket_end


def _series_window(series_col: str, ts_col: str, tiebreak_col: str) -> Window:
    """Deterministic per-series time order: ties on the timestamp are
    broken by a unique id so lead/lag are reproducible across engines
    and parallelism levels."""
    return Window.partitionBy(series_col).orderBy(ts_col, tiebreak_col)


def time_weighted_avg(
    df: DataFrame,
    series_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    bucket_seconds: int = 1800,
    sum_cast: str | None = None,
) -> DataFrame:
    """Time-weighted average per (series, bucket) for irregular samples.

    LOCF weighting: each sample holds its value until the next sample of
    the same series, clipped to the bucket end; the bucket's TWA is
    sum(value * held_micros) / sum(held_micros). A bucket whose samples
    all share one timestamp (zero total hold inside the bucket) falls
    back to the plain mean of those samples.

    One window (series time order) + one groupBy sharing a single
    series-keyed exchange.

    ``sum_cast`` (e.g. ``rollup.DEC``): cast values to decimal BEFORE
    weighting, making the weighted sum exact integer-scaled arithmetic
    (decimal x bigint micros) — summation-order independent, so results
    are bit-identical across parallelism levels and engines. Same
    opt-in and 4-fractional-digit caveat as rollup.rollup_raw.
    """
    # Alias the series key BEFORE the window: the window then partitions
    # on the same attribute the downstream groupBy clusters on, so
    # EnsureRequirements reuses one exchange for both (2 shuffles -> 1;
    # pinned by tests/test_plans.py).
    v = F.col(value_col)
    if sum_cast:
        v = v.cast(sum_cast)
    base = df.select(
        F.col(series_col).alias("series"),
        F.col(ts_col).alias("_ts"),
        F.col(tiebreak_col).alias("_k"),
        v.alias("_v"),
    )
    w = _series_window("series", "_ts", "_k")
    ts = F.col("_ts")
    bucket = bucket_end(ts, bucket_seconds)
    t_us = F.unix_micros(ts.cast("timestamp_ltz"))
    next_us = F.lead(t_us).over(w)
    end_us = F.unix_micros(bucket.cast("timestamp_ltz"))
    held = F.least(F.coalesce(next_us, end_us), end_us) - t_us
    agg = (
        base.select(
            "series",
            bucket.alias("bucket_ts"),
            "_v",
            held.alias("_held"),
        )
        .groupBy("series", "bucket_ts")
        .agg(
            F.sum(F.col("_v") * F.col("_held")).alias("_wsum"),
            F.sum("_held").alias("_w"),
            (
                F.sum("_v").cast("double") / F.count(F.lit(1))
            ).alias("_plain"),
            F.count(F.lit(1)).alias("n_samples"),
        )
    )
    twa = F.when(
        F.col("_w") > 0, F.col("_wsum").cast("double") / F.col("_w")
    ).otherwise(F.col("_plain"))
    return agg.select(
        "series", "bucket_ts", twa.alias("twa_value"), "n_samples"
    )


def m4_downsample(
    df: DataFrame,
    series_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    bucket_seconds: int = 1800,
) -> DataFrame:
    """M4 downsampling (Jugel et al., VLDB 2014): per (series, pixel
    bucket) keep min, max, first and last value — the 4 points that make
    a line rendering of the bucket pixel-exact. First/last are by
    (ts, tiebreak) order, so the result is deterministic under ties.

    Single aggregation, no window: first/last ride on min/max of a
    (time-key, value) struct, max/min on value — all map-side partial
    aggregable, which is what lets this run as one pass over 100 TB.
    """
    ts = F.col(ts_col)
    bucket = bucket_end(ts, bucket_seconds)
    # unique, order-preserving sort key: (ts, tiebreak) as a struct
    okey = F.struct(
        F.unix_micros(ts.cast("timestamp_ltz")).alias("t"),
        F.col(tiebreak_col).alias("k"),
        F.col(value_col).alias("v"),
    )
    return (
        df.select(
            F.col(series_col).alias("series"),
            bucket.alias("bucket_ts"),
            F.col(value_col).alias("_v"),
            okey.alias("_ok"),
        )
        .groupBy("series", "bucket_ts")
        .agg(
            F.min("_v").alias("min_value"),
            F.max("_v").alias("max_value"),
            F.min("_ok").getField("v").alias("first_value"),
            F.max("_ok").getField("v").alias("last_value"),
        )
    )


def counter_rate(
    df: DataFrame,
    series_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    bucket_seconds: int = 1800,
    sum_cast: str | None = None,
) -> DataFrame:
    """Per-(series, bucket) counter increase, PromQL-``increase`` style:
    sum of positive deltas between consecutive samples; a drop in the
    raw value is a COUNTER RESET, contributing the post-reset value
    (the counter restarted from 0 and climbed back to v). The first
    sample of a series contributes nothing (no predecessor).

    One lag window per series + one groupBy, same exchange profile as
    :func:`time_weighted_avg`. ``sum_cast``: cast values to decimal
    BEFORE the lag so deltas and their sum are exact (order- and
    engine-independent).
    """
    # same alias-first trick as time_weighted_avg: one shared exchange
    v0 = F.col(value_col)
    if sum_cast:
        v0 = v0.cast(sum_cast)
    base = df.select(
        F.col(series_col).alias("series"),
        F.col(ts_col).alias("_ts"),
        F.col(tiebreak_col).alias("_k"),
        v0.alias("_v"),
    )
    w = _series_window("series", "_ts", "_k")
    v = F.col("_v")
    prev = F.lag(v).over(w)
    zero = F.lit(0).cast(sum_cast) if sum_cast else F.lit(0.0)
    delta = F.when(prev.isNull(), zero).otherwise(
        F.when(v >= prev, v - prev).otherwise(v)
    )
    bucket = bucket_end(F.col("_ts"), bucket_seconds)
    return (
        base.select(
            "series",
            bucket.alias("bucket_ts"),
            delta.alias("_d"),
        )
        .groupBy("series", "bucket_ts")
        .agg(F.sum("_d").alias("increase"), F.count(F.lit(1)).alias("n_samples"))
    )


def gap_report(
    df: DataFrame,
    series_col: str,
    ts_col: str,
    interval_seconds: int = 1800,
) -> DataFrame:
    """Per-series inventory of missing stretches in a regular grid:
    one row per maximal run of absent buckets — (series, gap_start,
    gap_end, n_missing), where gap_start/gap_end are the first/last
    MISSING bucket timestamps (inclusive).

    The operational complement of gap-fill: retention auditing, crawl
    health dashboards, and deciding WHERE to backfill before running
    the fill. One lag window over the series sort (a single exchange)
    and a filter — no spine, no join: the cost is O(present rows), not
    O(grid), which is the difference at 100 TB where grids are sparse. Exact integer microsecond math;
    timestamps are assumed unique per (series, ts) — grid data after a
    rollup, where the bucket IS the key.
    """
    step_us = int(interval_seconds) * 1_000_000
    base = df.select(
        F.col(series_col).alias("series"),
        F.col(ts_col).alias("_ts"),
    )
    w = Window.partitionBy("series").orderBy("_ts")
    t_us = F.unix_micros(F.col("_ts").cast("timestamp_ltz"))
    prev_us = F.lag(t_us).over(w)
    # integer `div`, not double `/`: keeps the bucket-count exact for
    # off-grid timestamps (consistent floor, deltas are positive) and
    # past 2^53 us where double division loses bits
    return (
        base.select("series", t_us.alias("_cur"), prev_us.alias("_prev"))
        .select(
            "series",
            F.timestamp_micros(F.col("_prev") + step_us)
            .cast("timestamp_ntz")
            .alias("gap_start"),
            F.timestamp_micros(F.col("_cur") - step_us)
            .cast("timestamp_ntz")
            .alias("gap_end"),
            (
                F.expr(f"(_cur - _prev) div {step_us}") - F.lit(1)
            ).alias("n_missing"),
        )
        .where(F.col("n_missing") > 0)
    )


def _ewma_closed_form(vals, a: float, s0=None):
    """Vectorized EWMA over one contiguous series segment via the
    blocked-rescaled closed form:

        y_i = d^(i+1) * s_prev + a * d^i * cumsum(x_j * d^-j),  d = 1-a

    ``d^-j`` grows without bound, so the scan is rescaled every B rows
    (each block seeded with the previous block's tail). B adapts to
    alpha so ``d^-B`` stays < 1e250; terms whose rescale factor exceeds
    that carry final weights < 1e-250 — below one ulp of the result —
    so the rescale costs no accuracy (measured ≤ a few ulps vs the
    literal recurrence). ~6× the per-row Python loop; see BENCH.md.
    """
    import math

    import numpy as np

    d = 1.0 - a
    n = len(vals)
    if n == 0:
        return np.empty(0)
    if d == 0.0:  # alpha == 1: s_i = x_i
        return np.array(vals, dtype="float64", copy=True)
    if d < 0.0 or d >= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {a}")
    block = max(8, min(512, int(250.0 / max(math.log10(1.0 / d), 1e-12))))
    j = np.arange(min(block, n))
    d_pow = d ** j
    d_inv = d ** (-j.astype("float64"))
    out = np.empty(n)
    s = s0
    i = 0
    while i < n:
        end = min(i + block, n)
        seg = np.asarray(vals[i:end], dtype="float64")
        m = end - i
        dp = d_pow[:m]
        y = a * dp * np.cumsum(seg * d_inv[:m])
        if s is None:
            # s_0 = x_0: first-row weight is 1, not a
            y += dp * (d * seg[0])
        else:
            y += (d * dp) * s
        out[i:end] = y
        s = y[-1]
        i = end
    return out


def ewma(
    df: DataFrame,
    series_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    alpha: float = 0.1,
    exact_shape: bool = False,
) -> DataFrame:
    """Exponentially weighted moving average per series:
    ``s_i = alpha * x_i + (1 - alpha) * s_{i-1}``, ``s_0 = x_0``
    (pandas ``ewm(alpha, adjust=False)`` semantics).

    The recurrence is inherently sequential per series — no Catalyst
    window frame expresses it — so this is the documented escape hatch:
    ``mapInArrow`` over series-repartitioned, series-sorted partitions,
    the recurrence run per contiguous series slice inside each Arrow
    batch with per-series state carried across batch splits. One
    exchange; parallelism is across series, which is the only axis a
    sequential recurrence admits.

    The PRODUCTION path (default) runs each slice through the
    numpy blocked-rescaled closed form (``_ewma_closed_form``) — no
    per-row Python; a continuing series is seeded with the carried
    state. ``exact_shape=True`` opts into a per-row Python loop whose
    float arithmetic shape (fma-free ``alpha*x + (1-alpha)*s``) is
    bit-identical to a recursive-CTE SQL oracle — use it only for
    oracle-parity verification; the two paths agree to the last few
    ulps.

    Values are assumed non-null (tier output); NaNs poison the exact
    path and are skipped by pandas' ewm, so don't feed them to either.
    """
    a = float(alpha)
    out_schema = (
        f"{series_col} {dict(df.dtypes)[series_col]}, "
        f"{ts_col} {dict(df.dtypes)[ts_col]}, "
        f"{value_col} double, ewma double"
    )
    cols = list(dict.fromkeys([series_col, ts_col, tiebreak_col, value_col]))
    base = df.select(*cols)

    def _run(batches):
        # mapInArrow: series/ts pass through untouched as Arrow buffers
        # and run boundaries come from an Arrow C compare — no pandas
        # frame build per batch (OPTIMIZATION_r06.md)
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        state: dict = {}  # series -> last ewma (carries across batches)
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ser = batch.column(series_col)
            vals = np.asarray(
                pc.cast(batch.column(value_col), pa.float64())
            ).astype("float64", copy=True)
            # per-series runs are contiguous (sorted partition)
            change = np.empty(n, dtype=bool)
            change[0] = True
            if n > 1:
                change[1:] = np.asarray(
                    pc.not_equal(ser.slice(1), ser.slice(0, n - 1))
                )
            bounds = np.flatnonzero(change)
            out = np.empty_like(vals)
            for start, end in zip(
                bounds, np.append(bounds[1:], n)
            ):
                k = ser[start].as_py()
                s = state.get(k)
                if exact_shape:
                    # recurrence shape a*x + (1-a)*s kept LITERALLY
                    # identical to the oracle's recursive CTE so
                    # doubles match bit-for-bit
                    for i in range(start, end):
                        x = vals[i]
                        s = x if s is None else a * x + (1.0 - a) * s
                        out[i] = s
                    state[k] = s
                else:
                    res = _ewma_closed_form(vals[start:end], a, s0=s)
                    out[start:end] = res
                    state[k] = res[-1]
            yield pa.RecordBatch.from_arrays(
                [
                    ser,
                    batch.column(ts_col),
                    pa.array(vals, pa.float64()),
                    pa.array(out, pa.float64()),
                ],
                [series_col, ts_col, value_col, "ewma"],
            )

    arranged = base.repartition(series_col).sortWithinPartitions(
        series_col, ts_col, tiebreak_col
    )
    return arranged.mapInArrow(_run, out_schema)


def zscore_anomalies(
    df: DataFrame,
    series_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    lookback: int = 48,
    threshold: float = 3.0,
    sum_cast: str | None = None,
) -> DataFrame:
    """Trailing-window z-score anomaly detection per series: each point
    is scored against the mean/stddev of the ``lookback`` PRIOR points
    (the point itself excluded — a spike must not dilute its own
    baseline), and rows with ``|z| >= threshold`` are flagged.

    One window spec per series (alias-before-window so the single
    exchange is shared), frame ``rowsBetween(-lookback, -1)`` — O(n)
    running frame, never an unbounded-following frame. Points with
    fewer than ``lookback`` priors or a zero/degenerate stddev emit no
    score (NULL-safe filter), so cold starts and constant series never
    fire.

    Mean/std come from sum and sum-of-squares frame aggregates, not
    ``avg``/``stddev_samp`` over doubles: with ``sum_cast`` (e.g.
    ``decimal(18,4)``) the two frame sums are EXACT integer-scaled
    decimals, and the double arithmetic on top has one fixed shape —
    so a z-score is bit-identical across engines and parallelism
    levels (windowed stddev implementations differ in summation order
    between engines; exact partials sidestep that). The two-pass
    textbook formula's cancellation risk is bounded by the decimal
    exactness of both sums. Threshold-boundary rows therefore never
    flip between engines — the property the oracle hash requires.

    The trailing-frame sums are computed as CUMULATIVE sums differenced
    via ``lag`` (frame sum over (i-k, i-1] == C(i-1) - C(i-k-1)), not
    as a ``rowsBetween(-k, -1)`` sliding frame: Spark re-aggregates the
    ENTIRE frame for every output row (sliding frames are not
    incremental), so the sliding form costs k decimal adds per row —
    measured 3.6x slower at k=48 (OPTIMIZATION_r06.md). Decimal
    addition is exact, so the difference of exact cumulative sums IS
    the exact frame sum; the cumulative running-sum input is widened
    one step (decimal(p,s) -> decimal(p+10,s), still exact) so the
    longer accumulation keeps at least the sliding frame's overflow
    headroom. Rows whose frame semantics could differ (empty or
    all-null frames) carry n < lookback and are dropped by the filter
    either way.
    """
    v0 = F.col(value_col)
    if sum_cast:
        v0 = v0.cast(sum_cast)
    base = df.select(
        F.col(series_col).alias("series"),
        F.col(ts_col).alias("ts"),
        F.col(tiebreak_col).alias("_tb"),
        v0.alias("_v"),
    )
    # square once per row, not once per frame membership (the window
    # would otherwise re-evaluate the multiply on every frame add)
    base = base.withColumn("_v2", F.col("_v") * F.col("_v"))
    if sum_cast:
        # one widening step of exact headroom for the running sums
        # (matches Spark's own sum-result widening rule p -> p+10)
        from pyspark.sql.types import DecimalType

        vt = base.schema["_v"].dataType
        v2t = base.schema["_v2"].dataType
        if isinstance(vt, DecimalType):
            base = base.withColumn(
                "_v",
                F.col("_v").cast(
                    DecimalType(min(38, vt.precision + 10), vt.scale)
                ),
            )
        if isinstance(v2t, DecimalType):
            base = base.withColumn(
                "_v2",
                F.col("_v2").cast(
                    DecimalType(min(38, v2t.precision + 10), v2t.scale)
                ),
            )
    order = (
        Window.partitionBy("series").orderBy("ts", "_tb")
    )
    cum = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c1 = F.sum("_v").over(cum)
    c2 = F.sum("_v2").over(cum)
    cn = F.count("_v").over(cum)
    k = int(lookback)
    zero1 = F.lit(0).cast("decimal(1,0)")
    scored = base.select(
        "series",
        "ts",
        F.col("_v").cast("double").alias("value"),
        (
            F.lag(c1, 1).over(order)
            - F.coalesce(F.lag(c1, k + 1).over(order), zero1)
        ).cast("double").alias("_s1"),
        (
            F.lag(c2, 1).over(order)
            - F.coalesce(F.lag(c2, k + 1).over(order), zero1)
        ).cast("double").alias("_s2"),
        (
            F.coalesce(F.lag(cn, 1).over(order), F.lit(0))
            - F.coalesce(F.lag(cn, k + 1).over(order), F.lit(0))
        ).alias("_n"),
    )
    n = F.col("_n").cast("double")
    mean = F.col("_s1") / n
    var = (F.col("_s2") - F.col("_s1") * F.col("_s1") / n) / (n - F.lit(1.0))
    # a constant (flatlined) series can cancel to a tiny NEGATIVE var in
    # double arithmetic (e.g. value 2.3, lookback 48: var ~ -1.2e-15);
    # sqrt would yield NaN, and under Spark's NaN-is-largest comparison
    # semantics NaN passes both filters below, emitting spurious rows.
    # Clamp: a window whose exact-decimal sums cancel is a zero-variance
    # window, and std == 0 is already filtered.
    var = F.greatest(var, F.lit(0.0))
    std = F.sqrt(var)
    z = (F.col("value") - mean) / std
    return (
        scored.where(F.col("_n") >= lookback)
        .select(
            "series",
            "ts",
            "value",
            mean.alias("baseline_mean"),
            std.alias("baseline_std"),
            z.alias("zscore"),
        )
        .where(
            (F.col("baseline_std") > 0)
            & (F.abs(F.col("zscore")) >= threshold)
        )
    )


def seasonal_profile(
    df: DataFrame,
    series_col: str,
    ts_col: str,
    value_col: str,
    sum_cast: str | None = None,
) -> DataFrame:
    """Weekly seasonality profile per series: mean value and sample
    count by (weekday, hour-of-day) — the fingerprint behind crawl
    scheduling and anomaly baselining for web traffic (weekday 0 =
    Monday, ISO convention, portable to the oracle's isodow-1).

    A single map-side-combinable groupBy over (series, 7x24 cells):
    the output is at most ``n_series x 168`` rows regardless of input
    size, so at 100 TB this is a pure reduction — no window, no UDF.
    ``sum_cast`` (rollup.DEC) makes the mean summation-order exact.
    """
    v = F.col(value_col)
    if sum_cast:
        v = v.cast(sum_cast)
    return (
        df.select(
            F.col(series_col).alias("series"),
            F.weekday(F.col(ts_col)).alias("weekday"),
            F.hour(F.col(ts_col)).alias("hour"),
            v.alias("_v"),
        )
        .groupBy("series", "weekday", "hour")
        .agg(
            (F.sum("_v").cast("double") / F.count(F.lit(1))).alias(
                "avg_value"
            ),
            F.count(F.lit(1)).alias("n_samples"),
        )
    )
