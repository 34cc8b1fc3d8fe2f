"""Tiered retention: downsample old partitions into the coarser tier,
then expire them from the finer tier (north_rule: "tiered retention that
downsamples and expires old partitions").

Policy model (timescale/influx-style continuous-aggregate retention):
the targets are the raw table (``raw_keep_days``, partition
day_bucket) plus every row of ``tiers.TIERS`` that names a horizon, a
``RetentionPolicy`` field; the cutoff's unit and the partition column
come from the row:

    agg_30m, hist_30m, dist_30m : keep ``t30_keep_days``   (day_bucket)
    agg_1d, hist_1d, dist_1d    : keep ``t1d_keep_months`` (month_bucket)
    agg_1mo, blocks_30m         : keep forever (no horizon)

A percentile or cardinality dashboard thus keeps exactly as much
history as an avg dashboard at the same resolution.

Every coarser tier is derived from the finer tier's partials BEFORE
expiry (the cascade runs first, the expiry second; both are snapshots,
so a crashed job resumes idempotently), and a rewrite of a coarser
partition keeps its own rows of the input partitions it does not re-read
(pipeline.py): expiring a fine partition loses nothing it holds.

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
from isp_trace_parser_spark.operators import rollup
from isp_trace_parser_spark.tiers import PARTITIONS, RAW_PARTITION_COL, TIERS


@dataclass
class RetentionPolicy:
    """Days (months) of history kept before the day (month) of ``now``.
    A negative horizon would expire the current day too: rejected."""

    raw_keep_days: int = 90
    t30_keep_days: int = 365
    t1d_keep_months: int = 36

    def __post_init__(self):
        bad = {k: v for k, v in vars(self).items() if v < 0}
        if bad:
            raise ValueError(f"retention horizons must be >= 0, got {bad}")


def retention_plan(
    cat: Catalog,
    policy: RetentionPolicy,
    now: datetime.datetime,
    raw_table: str = "pages",
) -> dict[str, Any]:
    """DRY RUN of :func:`apply_retention`: the exact per-table
    partition lists a retention pass at ``now`` WOULD expire, without
    dropping anything — the operator's pre-flight check before an
    irreversible partition drop (and the input to capacity planning:
    bytes reclaimed = sum of the listed partitions' snapshot sizes).
    Pure metadata: O(partitions) listing, no data scan."""
    return {table: old for table, _col, old in _expired(cat, policy, now, raw_table)}


def apply_retention(
    cat: Catalog,
    policy: RetentionPolicy,
    now: datetime.datetime,
    raw_table: str = "pages",
) -> dict[str, Any]:
    """Expire partitions older than each tier's horizon. ``now`` is an
    explicit argument (no wall-clock reads) so runs are reproducible and
    testable. Returns {table: [dropped partition values]}."""
    expired = _expired(cat, policy, now, raw_table)
    for table, col, old in expired:
        if old:
            cat.expire_partitions(table, col, old)
    return {table: old for table, _col, old in expired}


def _cutoff(now: datetime.datetime, keep: int, col: str) -> str:
    """The first partition value a table partitioned by ``col`` keeps:
    ``keep`` partitions (days or months) before the one ``now`` falls in
    by the calendar (``now`` is an instant, not a bucket label)."""
    enc = PARTITIONS[col]
    return enc.value(rollup.bucket_label(enc.start(enc.value(now)), enc.seconds, -keep))


def _expired(
    cat: Catalog,
    policy: RetentionPolicy,
    now: datetime.datetime,
    raw_table: str,
) -> list[tuple[str, str, list[str]]]:
    """(table, partition column, partitions past its horizon) for the
    raw table, then every tier with a horizon, in ``TIERS`` order."""
    targets = [(raw_table, RAW_PARTITION_COL, "raw_keep_days")] + [
        (t.name, t.partition_col, t.horizon) for t in TIERS if t.horizon
    ]
    out = []
    for table, col, horizon in targets:
        cutoff = _cutoff(now, getattr(policy, horizon), col)
        out.append((table, col, [v for v in cat.list_partitions(table, col) if v < cutoff]))
    return out
