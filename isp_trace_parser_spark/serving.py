"""Tier-aware query serving: the SELECT side of continuous aggregates.

The pipeline maintains 30m/1d/1mo rollup tiers (pipeline.py); this
module answers "give me series X at resolution R over [window]" the way
a TimescaleDB continuous-aggregate SELECT or a Druid/ClickHouse rollup
router does:

1. pick the COARSEST stored tier of the request's family (avg,
   histogram or distinct rows of ``tiers.TIERS``) whose resolution
   divides the request (a 2h request reads the 30m tier, a 1-week
   request reads the 1d tier) — never the raw table;
2. prune partitions (day_bucket / month_bucket) BEFORE the scan is
   planned: the catalog read keeps only the files, from the committed
   snapshot's manifest, of the partitions holding the buckets that
   overlap the window (``tiers.partition_range``), so a 2-day window
   over a 10-year table plans from two partitions' files, with no
   directory listing and no Spark job;
3. re-aggregate the tier's partial aggregates to the requested
   resolution with the family's cascade rule, the one the pipeline
   uses (``tiers.CASCADE``) — avg recombines exactly via sum/cnt.

The tiers it routes over are those ``tiers.TIERS`` declares. Their
rows also name each tier's retention horizon; agg_1mo (the '1mo'
resolution) and blocks_30m (the cold tier,
:func:`series_30m_from_blocks`) have none and are kept forever.

At 100 TB this is the difference between answering a dashboard query
from megabytes of tier data and rescanning the raw corpus.
"""

from __future__ import annotations

import datetime
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from isp_trace_parser_spark.operators import codec, rollup
from isp_trace_parser_spark.operators.codec import block_span_seconds
from isp_trace_parser_spark.sources.catalog import Catalog
from isp_trace_parser_spark.tiers import CASCADE, TIERS, Tier, partition_range

_RES_RE = re.compile(r"^(\d+)\s*(m|min|h|d)$")

# family -> how a missing tier is named, and what builds it
_MISSING = {
    "agg": ("tier", " (finest tier is 30m)"),
    "hist": ("histogram tier", " — run the pipeline with histogram_bin_width set"),
    "dist": ("distinct tier", " — run the pipeline with distinct_key set"),
}


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
    if n == 0:
        raise ValueError(f"resolution {resolution!r} is zero")
    return n * {"m": 60, "min": 60, "h": 3600, "d": 86400}[unit]


class TierStore:
    """Router over a pipeline-built tier catalog."""

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
        return self._route("agg", series, start, end, resolution)

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
            t.seconds
            for t in TIERS
            if t.family == "agg" and t.seconds and self.cat.exists(t.name)
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
        served from the histogram tiers — never the raw table: the
        single-q case of :meth:`percentiles`, without its ``q`` column.
        The percentile rule is ``rollup.histogram_percentile``'s
        deterministic smallest-bin-reaching-ceil(q*total) with midpoint
        estimate.

        ``bin_width`` must match the pipeline's
        ``histogram_bin_width`` — it only scales the midpoint estimate;
        the stored bins fix the actual resolution.
        """
        return self.percentiles(
            [q], series, start, end, resolution, bin_width
        ).drop("q")

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
        in ONE pass over the routed histogram tier. Routing, window
        semantics ((start, end], end-labeled buckets) and partition
        pruning are identical to :meth:`series`; the coarser resolution
        is a plain count-sum cascade (histograms are mergeable), and the
        per-q answers share the cumulative window
        (``rollup.histogram_percentiles``). Long output:
        (series, bucket_ts, q, bin, estimate)."""
        hist = self._route("hist", series, start, end, resolution)
        return rollup.histogram_percentiles(hist, qs, bin_width)

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
        return rollup.distinct_estimate(
            self._route("dist", series, start, end, resolution)
        )

    def _route(self, family, series, start, end, resolution) -> DataFrame:
        """The coarsest stored tier of ``family`` whose resolution
        divides ``resolution``, cut to the window and re-aggregated to
        ``resolution`` with the family's cascade rule. A calendar-month
        tier serves only the literal '1mo'."""
        res_s = None if resolution.strip() == "1mo" else resolution_seconds(resolution)
        # declared finest first: scan coarsest first
        for t in reversed([t for t in TIERS if t.family == family]):
            fits = t.seconds == res_s or (res_s and t.seconds and res_s % t.seconds == 0)
            if fits and self.cat.exists(t.name):
                df = self._slice(t, series, start, end)
                if t.seconds == res_s:
                    return df
                return CASCADE[family](df.drop(t.partition_col), res_s)
        label, hint = _MISSING[family]
        raise ValueError(
            f"no stored {label} divides resolution {resolution!r}{hint}"
        )

    def _slice(self, tier: Tier, series, start, end) -> DataFrame:
        # the pruning predicate: the partitions holding the buckets that
        # overlap the window; the read keeps only their files
        keep = _in_range(*partition_range(tier.partition_col, tier.seconds, start, end))
        df = self.cat.read(tier.name, partitions=keep)
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
    block_span: str = "7 days",
) -> DataFrame:
    """COLD-tier read: serve 30m points by decoding Gorilla blocks.

    The hot path serves from the agg tables (TierStore); once a
    retention policy expires those, the compressed blocks are the
    surviving copy. Reads prune twice before any decode work: the
    catalog read keeps only the files of the day_bucket partitions
    that hold an overlapping block (a block's partition is the day it
    starts on), and a ``block_start`` predicate bounds the scan to
    overlapping blocks, so only the window's blocks cross into the
    decode ``mapInPandas``. Output schema matches the 30m tier's
    (series, bucket_ts, avg_value).

    ``block_span`` must match the span blocks were encoded with
    (pipeline ``block_size``); a larger value only widens pruning
    (correct, slower), a smaller one silently DROPS boundary blocks —
    so pass the pipeline's value.
    """
    (blocks,) = [t for t in TIERS if t.family == "blocks"]
    # a block is a bucket as wide as its span: the blocks overlapping the
    # window start from first to last
    span_s = block_span_seconds(block_span)
    first, last = rollup.overlapping(start, end, span_s)
    df = cat.read(
        blocks.name,
        partitions=_in_range(*partition_range(blocks.partition_col, span_s, start, end)),
    )
    if series is not None:
        vals = series if isinstance(series, list) else [series]
        df = df.where(F.col("series").isin(vals))
    if first is not None:
        df = df.where(F.col("block_start") >= F.lit(first))
    if last is not None:
        df = df.where(F.col("block_start") <= F.lit(last))
    out = codec.block_points(df)
    if start is not None:
        out = out.where(F.col("bucket_ts") > F.lit(start))
    if end is not None:
        out = out.where(F.col("bucket_ts") <= F.lit(end))
    return out
