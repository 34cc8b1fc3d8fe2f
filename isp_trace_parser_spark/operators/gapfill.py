"""Gap-fill: densify each series to a regular half-hour grid and
forward-fill missing values (north_rule requirement; the reference
assumes dense traces and has no fill — SURVEY §1.2).

Composition (no UDF, no driver loop):

1. per-series span: ``groupBy(series).agg(min(ts), max(ts))`` — tiny
   relative to the data (one row per series);
2. spine: ``F.sequence(min_ts, max_ts, interval)`` + ``explode`` —
   executor-side row generation, scales with series count;
3. left join spine <- observed on (series, ts). Both sides are
   hash-partitioned on the same keys, so this is a co-partitioned join;
4. forward-fill: ``last(value, ignorenulls=True)`` over
   ``partitionBy(series).orderBy(ts).rowsBetween(unboundedPreceding,
   currentRow)``. One shuffle on series (window requires per-series
   locality).

Properties (tested): idempotent on dense input; fills injected gaps with
the previous observation; leading gaps (before first observation) remain
NULL unless ``fill_leading_zero``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def gap_fill(
    df: DataFrame,
    series_col: str = "series",
    ts_col: str = "bucket_ts",
    value_cols: list[str] | None = None,
    interval_seconds: int = 1800,
    fill_leading_zero: bool = False,
) -> DataFrame:
    """Densify + forward-fill. Returns (series, ts, *value_cols,
    is_filled) with one row per series per grid step."""
    value_cols = value_cols or ["value"]

    spans = df.groupBy(series_col).agg(
        F.min(ts_col).alias("_min_ts"), F.max(ts_col).alias("_max_ts")
    )
    spine = spans.select(
        series_col,
        F.explode(
            F.sequence(
                "_min_ts",
                "_max_ts",
                F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0), F.lit(interval_seconds)),
            )
        ).alias(ts_col),
    )
    joined = spine.join(df, on=[series_col, ts_col], how="left")

    w = (
        Window.partitionBy(series_col)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = joined.withColumn(
        "is_filled", F.col(value_cols[0]).isNull()
    )
    for c in value_cols:
        filled = F.last(c, ignorenulls=True).over(w)
        if fill_leading_zero:
            filled = F.coalesce(filled, F.lit(0.0))
        out = out.withColumn(c, filled)
    return out


def interpolate_gaps(
    df: DataFrame,
    series_col: str = "series",
    ts_col: str = "bucket_ts",
    value_col: str = "value",
    interval_seconds: int = 1800,
) -> DataFrame:
    """Densify + LINEAR interpolation (TimescaleDB ``interpolate``
    analog): a missing grid point between two observations gets
    ``v0 + (v1 - v0) * (t - t0) / (t1 - t0)``; leading/trailing gaps
    (no observation on one side) stay NULL — the caller decides whether
    to compose with forward-fill for the tail.

    Same spine + co-partitioned left join as :func:`gap_fill`; the
    prev/next observation scans are two O(n) RUNNING frames (ascending
    for prev, descending for next) sharing ONE series-keyed exchange —
    a single shuffle and one extra in-partition sort. Exact integer
    microsecond math for the time ratio; the arithmetic shape is kept
    identical to the DuckDB oracle so doubles match bit-for-bit.
    """
    spans = df.groupBy(series_col).agg(
        F.min(ts_col).alias("_min_ts"), F.max(ts_col).alias("_max_ts")
    )
    spine = spans.select(
        series_col,
        F.explode(
            F.sequence(
                "_min_ts",
                "_max_ts",
                F.make_dt_interval(
                    F.lit(0), F.lit(0), F.lit(0), F.lit(interval_seconds)
                ),
            )
        ).alias(ts_col),
    )
    joined = spine.join(df, on=[series_col, ts_col], how="left")

    wp = (
        Window.partitionBy(series_col)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the NEXT observation comes from a DESCENDING running frame, not a
    # (currentRow, unboundedFollowing) frame: Spark's unbounded-following
    # frame processor rescans the remaining partition per row (O(n^2) in
    # partition length — measured 5x slower on 1400-slot series), while
    # the reversed-sort running frame is O(n) and reuses the same
    # exchange (one extra in-partition sort only)
    wn = (
        Window.partitionBy(series_col)
        .orderBy(F.col(ts_col).desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    v = F.col(value_col)
    t_us = F.unix_micros(F.col(ts_col).cast("timestamp_ltz"))
    obs_t = F.when(v.isNotNull(), t_us)
    pv = F.last(v, ignorenulls=True).over(wp)
    pt = F.last(obs_t, ignorenulls=True).over(wp)
    nv = F.last(v, ignorenulls=True).over(wn)
    nt = F.last(obs_t, ignorenulls=True).over(wn)
    interp = pv + (nv - pv) * (
        (t_us - pt).cast("double") / (nt - pt).cast("double")
    )
    filled = (
        F.when(v.isNotNull(), v)
        .when(pv.isNotNull() & nv.isNotNull(), interp)
        .otherwise(F.lit(None).cast("double"))
    )
    return joined.select(
        series_col,
        ts_col,
        filled.alias(value_col),
        v.isNull().alias("is_filled"),
    )
