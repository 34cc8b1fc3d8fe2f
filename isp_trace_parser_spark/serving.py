"""Tier-aware query serving: the SELECT side of continuous aggregates.

The pipeline maintains 30m/1d/1mo rollup tiers (pipeline.py); this
module answers "give me series X at resolution R over [window]" the way
a TimescaleDB continuous-aggregate SELECT or a Druid/ClickHouse rollup
router does:

1. pick the COARSEST stored tier whose resolution divides the request
   (a 2h request reads the 30m tier, a 1-week request reads the 1d
   tier) — never the raw table;
2. prune partitions (day_bucket / month_bucket) BEFORE the scan is
   planned: the catalog read keeps only the window's files from the
   committed snapshot's manifest, so a 2-day window over a 10-year
   table plans from two partitions' files, with no directory listing
   and no Spark job;
3. re-aggregate the tier's partial aggregates to the requested
   resolution with the same weighted cascade the pipeline uses
   (rollup.rollup_cascade) — avg recombines exactly via sum/cnt.

At 100 TB this is the difference between answering a dashboard query
from megabytes of tier data and rescanning the raw corpus.
"""

from __future__ import annotations

import datetime
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from isp_trace_parser_spark.operators import rollup
from isp_trace_parser_spark.operators.codec import block_span_seconds
from isp_trace_parser_spark.sources.catalog import Catalog

_RES_RE = re.compile(r"^(\d+)\s*(m|min|h|d)$")

def _in_range(lo: str | None, hi: str | None):
    """Predicate on a partition value: inside ``[lo, hi]``, where a
    None bound is open."""
    return lambda v: (lo is None or v >= lo) and (hi is None or v <= hi)


def resolution_seconds(resolution: str) -> int:
    """'30m' -> 1800, '2h' -> 7200, '1d' -> 86400 (calendar-month tiers
    are addressed as the literal '1mo')."""
    m = _RES_RE.match(resolution.strip())
    if not m:
        raise ValueError(
            f"unsupported resolution {resolution!r} (use <N>m|h|d or '1mo')"
        )
    n, unit = int(m.group(1)), m.group(2)
    return n * {"m": 60, "min": 60, "h": 3600, "d": 86400}[unit]


class TierStore:
    """Router over a pipeline-built tier catalog."""

    # (table, resolution seconds, hive partition col, partition value fn)
    TIERS = [
        ("agg_1d", 86400, "month_bucket", lambda d: d.strftime("%Y-%m")),
        ("agg_30m", 1800, "day_bucket", lambda d: d.isoformat()),
    ]

    def __init__(self, cat: Catalog):
        self.cat = cat

    def series(
        self,
        series: str | list[str] | None = None,
        start: datetime.datetime | None = None,
        end: datetime.datetime | None = None,
        resolution: str = "30m",
    ) -> DataFrame:
        """Aggregate points at ``resolution``, end-labeled buckets in
        the half-open window ``(start, end]`` (the engine-wide
        convention, matching the FY/calendar windows of the API)."""
        if resolution.strip() == "1mo":
            return self._slice("agg_1mo", series, start, end, partition_col=None)
        res_s = resolution_seconds(resolution)
        for table, tier_s, part_col, _fmt in self.TIERS:
            if res_s % tier_s == 0 and self.cat.exists(table):
                df = self._slice(table, series, start, end, part_col)
                if res_s == tier_s:
                    return df
                return rollup.rollup_cascade(
                    df.drop(part_col), res_s
                )
        raise ValueError(
            f"no stored tier divides resolution {resolution!r} "
            f"(finest tier is 30m)"
        )

    def series_auto(
        self,
        start: datetime.datetime,
        end: datetime.datetime,
        series: str | list[str] | None = None,
        max_points: int = 2000,
    ) -> tuple[DataFrame, str]:
        """Dashboard-style auto-resolution: pick the FINEST servable
        resolution whose point count per series over ``(start, end]``
        (the engine-wide window convention :meth:`series` applies)
        fits ``max_points`` (a chart pixel budget), then serve through
        :meth:`series`. Returns ``(df, resolution)`` so the caller can
        label axes. Candidate ladder: every multiple of a stored tier
        the router can cascade to — 30m, 1h, 2h, ..., 1d, 2d, ... —
        scanned finest-first (the first candidate under budget wins);
        falls back to the coarsest candidate if even it overflows the
        budget (a 10-year window simply gets 10 * 365 daily points).

        Pure metadata arithmetic on the window span — no data is read
        to make the choice, so the decision is free at any table size.
        """
        span_s = int((end - start).total_seconds())
        if span_s <= 0:
            raise ValueError("end must be after start")
        candidates = [
            ("30m", 1800), ("1h", 3600), ("2h", 7200), ("4h", 14400),
            ("6h", 21600), ("12h", 43200), ("1d", 86400), ("2d", 172800),
            ("7d", 604800), ("28d", 2419200),
        ]
        stored = [
            tier_s
            for _t, tier_s, _c, _f in self.TIERS
            if self.cat.exists(_t)
        ]
        servable = [
            (label, res_s)
            for label, res_s in candidates
            if any(res_s % tier_s == 0 for tier_s in stored)
        ]
        if not servable:
            raise ValueError("no stored tier available")
        choice = None
        for label, res_s in servable:  # finest-first
            if -(-span_s // res_s) <= max_points:
                choice = (label, res_s)
                break
        if choice is None:
            choice = servable[-1]  # coarsest still overflows: serve it
        label, _res_s = choice
        return (
            self.series(series=series, start=start, end=end,
                        resolution=label),
            label,
        )

    # histogram tiers (pipeline histogram_bin_width): same routing and
    # pruning discipline as the avg tiers — coarsest stored tier whose
    # resolution divides the request, partition pruning before the
    # scan, count-sum cascade to the requested resolution
    HIST_TIERS = [
        ("hist_1d", 86400, "month_bucket"),
        ("hist_30m", 1800, "day_bucket"),
    ]

    def percentile(
        self,
        q: float,
        series: str | list[str] | None = None,
        start: datetime.datetime | None = None,
        end: datetime.datetime | None = None,
        resolution: str = "30m",
        bin_width: float = 0.5,
    ) -> DataFrame:
        """Percentile estimate per (series, bucket) at ``resolution``,
        served from the histogram tiers — never the raw table. Routing,
        window semantics ((start, end], end-labeled buckets) and
        partition pruning are identical to :meth:`series`; the coarser
        resolution is a plain count-sum cascade (histograms are
        mergeable), and the percentile rule is
        ``rollup.histogram_percentile``'s deterministic
        smallest-bin-reaching-ceil(q*total) with midpoint estimate.

        ``bin_width`` must match the pipeline's
        ``histogram_bin_width`` — it only scales the midpoint estimate;
        the stored bins fix the actual resolution.
        """
        res_s = resolution_seconds(resolution)
        for table, tier_s, part_col in self.HIST_TIERS:
            if res_s % tier_s == 0 and self.cat.exists(table):
                hist = self._slice(table, series, start, end, part_col)
                if res_s != tier_s:
                    hist = rollup.histogram_cascade(
                        hist.drop(part_col), res_s
                    )
                return rollup.histogram_percentile(hist, q, bin_width)
        raise ValueError(
            f"no stored histogram tier divides resolution {resolution!r}"
            " — run the pipeline with histogram_bin_width set"
        )

    def percentiles(
        self,
        qs: list[float],
        series: str | list[str] | None = None,
        start: datetime.datetime | None = None,
        end: datetime.datetime | None = None,
        resolution: str = "30m",
        bin_width: float = 0.5,
    ) -> DataFrame:
        """Several percentiles (e.g. p50/p95/p99) per (series, bucket)
        in ONE pass over the routed histogram tier — same routing,
        pruning and cascade as :meth:`percentile`, but the per-q
        answers share the cumulative window
        (``rollup.histogram_percentiles``). Long output:
        (series, bucket_ts, q, bin, estimate)."""
        res_s = resolution_seconds(resolution)
        for table, tier_s, part_col in self.HIST_TIERS:
            if res_s % tier_s == 0 and self.cat.exists(table):
                hist = self._slice(table, series, start, end, part_col)
                if res_s != tier_s:
                    hist = rollup.histogram_cascade(
                        hist.drop(part_col), res_s
                    )
                return rollup.histogram_percentiles(hist, qs, bin_width)
        raise ValueError(
            f"no stored histogram tier divides resolution {resolution!r}"
            " — run the pipeline with histogram_bin_width set"
        )

    # HLL cardinality tiers (pipeline distinct_key): same routing; the
    # coarser resolution is a lossless sketch UNION
    DIST_TIERS = [
        ("dist_1d", 86400, "month_bucket"),
        ("dist_30m", 1800, "day_bucket"),
    ]

    def distinct(
        self,
        series: str | list[str] | None = None,
        start: datetime.datetime | None = None,
        end: datetime.datetime | None = None,
        resolution: str = "30m",
    ) -> DataFrame:
        """Estimated distinct-count per (series, bucket) at
        ``resolution``, served from the HLL sketch tiers — the only
        way DISTINCT survives tiering (per-bucket distinct counts
        cannot be re-summed; sketches union losslessly). Routing,
        window semantics and partition pruning match :meth:`series`.
        Exact while sketches are in sparse mode, ~±1.6%/sqrt(2^lgk)
        beyond."""
        res_s = resolution_seconds(resolution)
        for table, tier_s, part_col in self.DIST_TIERS:
            if res_s % tier_s == 0 and self.cat.exists(table):
                tier = self._slice(table, series, start, end, part_col)
                if res_s != tier_s:
                    tier = rollup.distinct_cascade(
                        tier.drop(part_col), res_s
                    )
                return rollup.distinct_estimate(tier)
        raise ValueError(
            f"no stored distinct tier divides resolution {resolution!r}"
            " — run the pipeline with distinct_key set"
        )

    def _slice(self, table, series, start, end, partition_col):
        # the pruning predicate: partition values are derived from
        # bucket_ts, so the window's date range on the partition value
        # is a superset of the bucket_ts filter below; the read keeps
        # only those partitions' files
        lo = start.date().isoformat() if start is not None else None
        hi = end.date().isoformat() if end is not None else None
        if partition_col == "month_bucket":
            lo, hi = lo and lo[:7], hi and hi[:7]
        df = self.cat.read(
            table, partitions=_in_range(lo, hi) if partition_col else None
        )
        if series is not None:
            vals = series if isinstance(series, list) else [series]
            df = df.where(F.col("series").isin(vals))
        if start is not None:
            df = df.where(F.col("bucket_ts") > F.lit(start))
        if end is not None:
            df = df.where(F.col("bucket_ts") <= F.lit(end))
        return df


def series_30m_from_blocks(
    cat: Catalog,
    series: str | list[str] | None = None,
    start: datetime.datetime | None = None,
    end: datetime.datetime | None = None,
    table: str = "blocks_30m",
    block_span: str = "7 days",
) -> DataFrame:
    """COLD-tier read: serve 30m points by decoding Gorilla blocks.

    The hot path serves from the agg tables (TierStore); once a
    retention policy expires those, the compressed blocks are the
    surviving copy. Reads prune twice before any decode work: the
    catalog read keeps only the files of the day_bucket partitions
    that can hold an overlapping block (the lower bound backed off by
    the block span), and a ``block_start`` predicate bounds the scan to
    overlapping blocks, so only the window's blocks cross into the
    decode ``mapInPandas``. Output schema matches the 30m tier's
    (series, bucket_ts, avg_value).

    ``block_span`` must match the span blocks were encoded with
    (pipeline ``block_size``); a larger value only widens pruning
    (correct, slower), a smaller one silently DROPS boundary blocks —
    so pass the pipeline's value.
    """
    from isp_trace_parser_spark.operators import codec

    span_s = block_span_seconds(block_span)
    # day_bucket is the block START's date, so the lower partition
    # bound backs off a whole number of days covering the span
    span_days = max(1, -(-span_s // 86400))
    lo = hi = None
    if start is not None:
        lo = (start - datetime.timedelta(days=span_days)).date().isoformat()
    if end is not None:
        hi = end.date().isoformat()
    df = cat.read(table, partitions=_in_range(lo, hi))
    if series is not None:
        vals = series if isinstance(series, list) else [series]
        df = df.where(F.col("series").isin(vals))
    if end is not None:
        df = df.where(F.col("block_start") < F.lit(end))
    if start is not None:
        # a block overlaps the window if it STARTS within span of it
        df = df.where(
            F.col("block_start")
            + F.expr(f"INTERVAL {span_s} SECONDS")
            > F.lit(start)
        )
    out = codec.decode_blocks(df.drop("day_bucket", "n_points", "raw_bytes",
                                      "enc_bytes"))
    if start is not None:
        out = out.where(F.col("ts") > F.lit(start))
    if end is not None:
        out = out.where(F.col("ts") <= F.lit(end))
    return out.select(
        "series", F.col("ts").alias("bucket_ts"),
        F.col("value").alias("avg_value"),
    )
