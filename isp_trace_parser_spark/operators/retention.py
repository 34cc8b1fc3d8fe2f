"""Tiered retention: downsample old partitions into the coarser tier,
then expire them from the finer tier (north_rule: "tiered retention that
downsamples and expires old partitions").

Policy model (timescale/influx-style continuous-aggregate retention):

    raw pages   : keep ``raw_keep_days``        (partition: day_bucket)
    agg_30m     : keep ``t30_keep_days``        (partition: day_bucket)
    agg_1d      : keep ``t1d_keep_months``      (partition: month_bucket)
    agg_1mo     : keep forever

Histogram tiers (pipeline ``histogram_bin_width``) and distinct-count
tiers (pipeline ``distinct_key``) follow the same horizons as their
resolution peers: ``hist_30m``/``dist_30m`` expire with the 30m
horizon, ``hist_1d``/``dist_1d`` with the 1d horizon — a percentile or
cardinality dashboard keeps exactly as much history as an avg
dashboard at the same resolution.

Because every coarser tier is derived from the finer tier's partials
BEFORE expiry (rollup.rollup_cascade), expiring a fine partition loses no
information the coarser tiers need — the cascade runs first, the expiry
second, and both are recorded as snapshots so a crashed job resumes
idempotently (see pipeline.py).

Expiry itself is a partition-granular catalog commit (Iceberg
``DELETE FROM … WHERE day_bucket < cutoff`` + expire_snapshots analog)
that leaves the last snapshot's partitions out, then deletes their
files — zero data rewrite, O(partitions) metadata work.
"""

from __future__ import annotations

import datetime
from dataclasses import dataclass
from typing import Any

from isp_trace_parser_spark.sources.catalog import Catalog


@dataclass
class RetentionPolicy:
    raw_keep_days: int = 90
    t30_keep_days: int = 365
    t1d_keep_months: int = 36


def _date_str(d: datetime.date) -> str:
    return d.strftime("%Y-%m-%d")


def retention_plan(
    cat: Catalog,
    policy: RetentionPolicy,
    now: datetime.datetime,
    raw_table: str = "pages",
    t30_table: str = "agg_30m",
    t1d_table: str = "agg_1d",
) -> dict[str, Any]:
    """DRY RUN of :func:`apply_retention`: the exact per-table
    partition lists a retention pass at ``now`` WOULD expire, without
    dropping anything — the operator's pre-flight check before an
    irreversible partition drop (and the input to capacity planning:
    bytes reclaimed = sum of the listed partitions' snapshot sizes).
    Pure metadata: O(partitions) listing, no data scan."""
    return _retention_targets(
        cat, policy, now, raw_table, t30_table, t1d_table
    )


def apply_retention(
    cat: Catalog,
    policy: RetentionPolicy,
    now: datetime.datetime,
    raw_table: str = "pages",
    t30_table: str = "agg_30m",
    t1d_table: str = "agg_1d",
) -> dict[str, Any]:
    """Expire partitions older than each tier's horizon. ``now`` is an
    explicit argument (no wall-clock reads) so runs are reproducible and
    testable. Returns {table: [dropped partition values]}."""
    targets = _retention_targets(
        cat, policy, now, raw_table, t30_table, t1d_table
    )
    for table, old in targets.items():
        if old:
            col = (
                "month_bucket" if table in (t1d_table, "hist_1d", "dist_1d")
                else "day_bucket"
            )
            cat.expire_partitions(table, col, old)
    return targets


def _retention_targets(
    cat: Catalog,
    policy: RetentionPolicy,
    now: datetime.datetime,
    raw_table: str,
    t30_table: str,
    t1d_table: str,
) -> dict[str, Any]:
    report: dict[str, Any] = {}

    raw_cutoff = _date_str((now - datetime.timedelta(days=policy.raw_keep_days)).date())
    t30_cutoff = _date_str((now - datetime.timedelta(days=policy.t30_keep_days)).date())
    # month cutoff: first month to KEEP
    month_anchor = now.replace(day=1)
    y, m = month_anchor.year, month_anchor.month
    m_total = y * 12 + (m - 1) - policy.t1d_keep_months
    t1d_cutoff = f"{m_total // 12:04d}-{m_total % 12 + 1:02d}"

    for table, col, cutoff in (
        (raw_table, "day_bucket", raw_cutoff),
        (t30_table, "day_bucket", t30_cutoff),
        (t1d_table, "month_bucket", t1d_cutoff),
        ("hist_30m", "day_bucket", t30_cutoff),
        ("hist_1d", "month_bucket", t1d_cutoff),
        ("dist_30m", "day_bucket", t30_cutoff),
        ("dist_1d", "month_bucket", t1d_cutoff),
    ):
        report[table] = [
            v for v in cat.list_partitions(table, col) if v < cutoff
        ]
    return report
