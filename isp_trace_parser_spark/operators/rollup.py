"""Continuous-aggregate tiers: the one place each family's aggregation
rule lives.

The reference's only aggregation kernel is mean-by-timestamp
(reference: src/isp_trace_parser/trace_restructure_helper_functions.py:32-37);
its half-hourly data is already the finest tier. The north_rule extends
this to a 30m -> 1d -> 1mo rollup engine. Each family (``agg``
partials, ``hist`` bin counts, ``dist`` HLL sketches) has one rule over
raw rows, which the streaming 30m builders (streaming/rollup_stream.py)
apply too, and one cascade rule (:func:`rollup_cascade`,
:func:`histogram_cascade`, :func:`distinct_cascade`) that re-aggregates
a finer tier to a coarser bucket: a whole number of seconds, or a
calendar month (``None``). Design:

- Coarser tiers are computed FROM the previous tier's partials
  (sum+count re-aggregated), never by re-scanning raw data — at 10^12
  rows the raw scan is the dominant cost and must happen once.
  avg is re-derived as sum/count at every tier (exact, no avg-of-avgs).
- ``bucket_ts`` labels the END of the bucket, matching the reference's
  end-of-interval convention (trace_formatter.py:12-15): the 30-min
  bucket ending at 00:30 covers (00:00, 00:30], and the month bucket
  ending 2024-02-01 00:00 covers January.
- Aggregation is a plain ``groupBy`` -> Catalyst two-phase hash agg
  (map-side partial combine). On its own it shuffles on its grouping
  keys, and a partitioned catalog write then shuffles again on the
  storage key ``(day_bucket, salt)``. The raw-tier builders therefore
  take ``by``: leading group keys carried into the output. A caller that
  repartitions once on the storage key and passes it as ``by`` gets one
  exchange that serves both the aggregation and the write (the
  pipeline's raw stages do). The cascades keep the map-side combine: it
  shrinks a 30m tier ~48x before their shuffle.
"""

from __future__ import annotations

import datetime
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Optional exact partial sums: float summation is order-dependent, so a
# re-run (or another engine) can disagree in the last ulp — visible
# after rounding. Passing ``sum_cast="decimal(20,4)"`` sums exactly
# (associative), with avg derived as sum/count — identical everywhere.
# Only correct when the source values have <= 4 fractional digits (the
# cast would silently round otherwise), so it is OPT-IN; the default
# keeps full double precision for arbitrary float traces.
DEC = "decimal(20,4)"

# A family's rule: the group keys it adds after (series, bucket_ts), and
# its aggregates.
Rule = tuple[list[Column], list[Column]]


def _sum_expr(value_col: str, sum_cast: str | None):
    c = F.col(value_col)
    return F.sum(c.cast(sum_cast) if sum_cast else c)


def _check_bin_width(bin_width: float) -> None:
    if not bin_width > 0:
        raise ValueError(f"bin width must be > 0, got {bin_width!r}")


def agg_rule(value_col: str = "value", sum_cast: str | None = None) -> Rule:
    """The ``agg`` family over raw rows: avg/min/max/sum/count of
    ``value_col``, avg derived as sum / count; ``sum_cast`` as in
    :data:`DEC`."""
    return [], [
        (_sum_expr(value_col, sum_cast).cast("double") / F.count(value_col)).alias("avg_value"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
        _sum_expr(value_col, sum_cast).alias("sum_value"),
        F.count(value_col).alias("cnt_value"),
    ]


def hist_rule(value_col: str = "value", bin_width: float = 0.5) -> Rule:
    """The ``hist`` family over raw rows: the count per
    ``bin = floor(value / bin_width)``. ``bin_width`` must be > 0."""
    _check_bin_width(bin_width)
    return (
        [F.floor(F.col(value_col) / F.lit(bin_width)).cast("long").alias("bin")],
        [F.count(F.lit(1)).alias("cnt")],
    )


def dist_rule(key_col: str = "user_id", lgk: int = 14) -> Rule:
    """The ``dist`` family over raw rows: an HLL sketch of ``key_col``."""
    return [], [F.hll_sketch_agg(F.col(key_col), F.lit(lgk)).alias("hll")]


def bucket_end(ts: Column, seconds: int | None) -> Column:
    """END-of-interval bucket label, the engine's one time rule: the
    smallest multiple of ``seconds`` >= ts (half-open (start, end]
    semantics, reference get_data.py:80-82 and trace_formatter
    end-of-period convention). ``seconds=None`` is a calendar month,
    labelled by the first instant of the next month.

    Exact integer math on microseconds — ``unix_timestamp`` truncates
    sub-second precision and float ceil rounds at boundaries, both of
    which mis-bucket points epsilon past a bucket edge."""
    # session TZ is pinned UTC, so the tz<->ntz casts are wall-clock
    # identity; unix_micros requires TIMESTAMP, the engine standard is NTZ
    # explicit _ltz: with spark.sql.timestampType=TIMESTAMP_NTZ, the
    # plain "timestamp" cast string resolves to NTZ
    micros = F.unix_micros(ts.cast("timestamp_ltz"))
    if seconds is None:
        last = F.timestamp_micros(micros - 1)
        return F.to_timestamp(F.add_months(F.date_trunc("month", last), 1))
    return _label(micros, seconds)


def bucket_start(ts: Column, seconds: int) -> Column:
    """The start of the bucket holding ``ts``: the previous label."""
    return _label(F.unix_micros(ts.cast("timestamp_ltz")), seconds, -1)


def _label(micros: Column, seconds: int, n: int = 0) -> Column:
    b = seconds * 1_000_000
    e = micros + ((n + 1) * b - 1)
    return F.timestamp_micros(e - F.pmod(e, F.lit(b))).cast("timestamp_ntz")


# the rule's Python twin, for planning over datetimes
_UNIX_EPOCH = datetime.datetime(1970, 1, 1)
_US = datetime.timedelta(microseconds=1)


def bucket_label(t: datetime.datetime, seconds: int | None, n: int = 0) -> datetime.datetime:
    """:func:`bucket_end` of an instant ``t``: ``n=-1`` gives the start
    of the bucket holding ``t``, and ``n=1`` at a bucket's start gives
    its end (a start is the label of the bucket before)."""
    if seconds is None:
        last = t - _US
        month = last.year * 12 + last.month + n  # the label's, 0-based
        return datetime.datetime(month // 12, month % 12 + 1, 1)
    w = seconds * 1_000_000
    return _UNIX_EPOCH + _US * ((-(-((t - _UNIX_EPOCH) // _US) // w) + n) * w)


def overlapping(lo: datetime.datetime | None, hi: datetime.datetime | None, seconds: int | None):
    """The starts of the first and the last bucket overlapping
    ``(lo, hi]``: those holding the instant after ``lo``, and ``hi``. A
    None (open) bound stays None."""
    return lo and bucket_label(lo + _US, seconds, -1), hi and bucket_label(hi, seconds, -1)


def raw_tier(
    df: DataFrame, rule: Rule, series_col: str, ts_col: str, seconds: int, by: Sequence[str]
) -> DataFrame:
    """Apply a family's ``rule`` to raw rows per (series, end-labelled
    ``seconds`` bucket), after the leading keys ``by``."""
    keys, aggs = rule
    return df.groupBy(
        *by,
        F.col(series_col).alias("series"),
        bucket_end(F.col(ts_col), seconds).alias("bucket_ts"),
        *keys,
    ).agg(*aggs)


def _cascade(tier: DataFrame, seconds: int | None, rule: Rule) -> DataFrame:
    """Re-aggregate ``tier`` to the coarser bucket that holds each of its
    buckets: the one holding its label, as :func:`bucket_end` gives it
    (a finer bucket ends on a coarser bucket's edge or inside it)."""
    keys, aggs = rule
    coarser = bucket_end(F.col("bucket_ts"), seconds)
    return tier.groupBy("series", coarser.alias("bucket_ts"), *keys).agg(*aggs)


def rollup_raw(
    df: DataFrame,
    series_col: str = "url",
    ts_col: str = "warc_ts",
    value_col: str = "value",
    tier_seconds: int = 1800,
    sum_cast: str | None = None,
    by: Sequence[str] = (),
) -> DataFrame:
    """Finest tier: raw points -> per-(series, bucket) aggregates
    (:func:`agg_rule`). ``by``: extra leading group keys, kept as output
    columns."""
    return raw_tier(df, agg_rule(value_col, sum_cast), series_col, ts_col, tier_seconds, by)


def rollup_cascade(tier: DataFrame, coarser_seconds: int | None) -> DataFrame:
    """Coarser tier FROM a finer tier: re-aggregate the partials.
    ``coarser_seconds=None`` is the calendar-month tier.

    sum/count add exactly; min/max nest; avg = total sum / total count —
    identical to aggregating the raw data, at a fraction of the scan.
    """
    return _cascade(tier, coarser_seconds, ([], [
        (F.sum("sum_value").cast("double") / F.sum("cnt_value")).alias("avg_value"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
        F.sum("sum_value").alias("sum_value"),
        F.sum("cnt_value").alias("cnt_value"),
    ]))


def mean_merge(traces: list[DataFrame], ts_col: str = "datetime", value_col: str = "value") -> DataFrame:
    """Reference A1: union N traces of one entity and mean by timestamp
    (trace_restructure_helper_functions.py:32-37 — e.g. Snowtown S2 =
    mean of SNOWSTH1 + SNOWNTH1). We sort deterministically afterwards;
    the reference leaves hash order (documented divergence, SURVEY §2.5).
    """
    from functools import reduce

    unioned = reduce(DataFrame.unionByName, traces)
    return (
        unioned.groupBy(ts_col)
        .agg(F.avg(value_col).alias(value_col))
        .orderBy(ts_col)
    )


def histogram_tier(
    df: DataFrame,
    series_col: str = "url",
    ts_col: str = "warc_ts",
    value_col: str = "value",
    bucket_seconds: int = 1800,
    bin_width: float = 0.5,
    by: Sequence[str] = (),
) -> DataFrame:
    """Mergeable histogram tier: per (series, end-labeled bucket, bin)
    the observation count, with ``bin = floor(value / bin_width)``.

    The distribution analog of the avg/min/max tiers: counts are an
    exact, order-independent, MERGEABLE sketch — any coarser resolution
    is a plain sum of finer-tier counts (:func:`histogram_cascade`),
    so percentile/shape dashboards read tiers, never raw data. Pure
    two-phase groupBy (map-side combined); no UDF, no window. ``by`` as
    in :func:`rollup_raw`.
    """
    return raw_tier(df, hist_rule(value_col, bin_width), series_col, ts_col, bucket_seconds, by)


def histogram_cascade(
    tier: DataFrame, coarser_seconds: int | None
) -> DataFrame:
    """Coarser histogram tier from a finer one: counts just add.
    Exactly equal to building the coarser histogram from raw data
    (the continuous-aggregate invariant, pinned by the
    ``histogram_rollup`` contract row)."""
    return _cascade(tier, coarser_seconds, (["bin"], [F.sum("cnt").alias("cnt")]))


def histogram_percentile(
    tier: DataFrame, q: float, bin_width: float = 0.5
) -> DataFrame:
    """Percentile estimate per (series, bucket) straight from the
    histogram tier — the serving-side consumer of
    :func:`histogram_tier`: a dashboard's p95 reads tier bins, never
    raw rows. The single-q case of :func:`histogram_percentiles`:
    (series, bucket_ts, bin, estimate)."""
    return histogram_percentiles(tier, [q], bin_width).drop("q")


def distinct_tier(
    df: DataFrame,
    series_col: str = "url",
    ts_col: str = "warc_ts",
    key_col: str = "user_id",
    bucket_seconds: int = 1800,
    lgk: int = 14,
    by: Sequence[str] = (),
) -> DataFrame:
    """Mergeable distinct-count tier: per (series, end-labeled bucket)
    a Datasketches HLL sketch (binary) of ``key_col`` — the
    cardinality analog of the avg/histogram tiers ("distinct visitors
    per URL per bucket" over a crawl stream).

    DISTINCT does not merge through plain aggregation (you cannot sum
    per-bucket distinct counts into a day), so the tier stores the
    sketch itself; any coarser resolution is a sketch UNION
    (:func:`distinct_cascade`), both JVM-side Catalyst aggregates
    (``hll_sketch_agg`` / ``hll_union_agg``, map-side combined, no
    UDF). Estimates are EXACT while a sketch is still in sparse mode
    (small per-bucket cardinalities; the ``distinct_rollup_1d``
    contract row pins estimate == exact at test scale, lgk=14 holds
    hundreds of keys exactly) and ~±1.6%/sqrt(2^lgk) beyond — the
    standard trade every 100 TB cardinality pipeline makes. ``by`` as
    in :func:`rollup_raw`.
    """
    return raw_tier(df, dist_rule(key_col, lgk), series_col, ts_col, bucket_seconds, by)


def distinct_cascade(tier: DataFrame, coarser_seconds: int | None) -> DataFrame:
    """Coarser distinct tier from a finer one: sketch union (lossless —
    exactly the sketch that would have been built from raw)."""
    return _cascade(tier, coarser_seconds, ([], [F.hll_union_agg("hll").alias("hll")]))


def distinct_estimate(tier: DataFrame) -> DataFrame:
    """Serving-side readout of a distinct tier: estimated cardinality
    per (series, bucket)."""
    return tier.select(
        "series",
        "bucket_ts",
        F.hll_sketch_estimate("hll").alias("n_distinct"),
    )


def histogram_percentiles(
    tier: DataFrame, qs: list[float], bin_width: float = 0.5
) -> DataFrame:
    """Several percentiles per (series, bucket) in ONE pass over the
    histogram tier — p50/p95/p99 dashboards share the cumulative
    window.

    Deterministic rule per q (exact integer math, oracle-able): the
    answer bin is the smallest bin whose cumulative count reaches
    ``ceil(q * total)``; the estimate is that bin's midpoint. Each q
    must lie in [0, 1], and ``bin_width`` (the tier's) must be > 0. One
    window over (series, bucket) ordered by bin (running cumsum +
    whole-partition total share the sort); the per-q
    answers are conditional ``min`` aggregates over the SAME (series,
    bucket) grouping the window clusters on, so the whole plan keeps the
    single exchange; the long (series, bucket_ts, q, bin, estimate)
    output is a post-agg ``stack`` projection.
    """
    bad = [q for q in qs if not 0 <= q <= 1]
    if bad:
        raise ValueError(f"percentiles must lie in [0, 1], got {bad}")
    _check_bin_width(bin_width)
    part = Window.partitionBy("series", "bucket_ts")
    w = part.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = F.sum("cnt").over(w)
    total = F.sum("cnt").over(part)
    flagged = tier.select(
        "series",
        "bucket_ts",
        "bin",
        *[
            (cum >= F.ceil(F.lit(q) * total)).alias(f"_hit_{i}")
            for i, q in enumerate(qs)
        ],
    )
    agged = flagged.groupBy("series", "bucket_ts").agg(
        *[
            F.min(F.when(F.col(f"_hit_{i}"), F.col("bin"))).alias(
                f"_bin_{i}"
            )
            for i in range(len(qs))
        ]
    )
    stack_args = ", ".join(
        f"CAST({q!r} AS DOUBLE), _bin_{i}" for i, q in enumerate(qs)
    )
    return agged.select(
        "series",
        "bucket_ts",
        F.expr(f"stack({len(qs)}, {stack_args}) AS (q, bin)"),
    ).select(
        "series",
        "bucket_ts",
        "q",
        "bin",
        ((F.col("bin") + F.lit(0.5)) * F.lit(bin_width)).alias("estimate"),
    )
