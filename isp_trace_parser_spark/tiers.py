"""The tier table: every stored tier of the rollup engine, declared once.

Three surfaces derive from :data:`TIERS` and keep no tier list of their
own: the pipeline's stage DAG (one stage per row whose family is
enabled, in declaration order), the serving router (the coarsest stored
row of a family whose resolution divides the request, re-aggregated by
the family's :data:`CASCADE` rule) and the retention targets (the raw
table plus every row with a horizon; ``agg_1mo`` and ``blocks_30m``
have none and are kept forever). As in TimescaleDB continuous
aggregates, one declaration defines a tier's refresh, its query
rewrite and its retention.

Partitions follow the engine's one time rule (:data:`PARTITIONS`);
rewrite sets and pruning bounds derive from it (:func:`partition_range`).
"""

from __future__ import annotations

import datetime
from dataclasses import dataclass
from typing import Callable, NamedTuple

from pyspark.sql import Column
from pyspark.sql import functions as F

from isp_trace_parser_spark.operators import rollup

# the raw table's top-level partition column (pipeline.ingest_pages)
RAW_PARTITION_COL = "day_bucket"


class Partition(NamedTuple):
    """A partition column's encoding. A partition is a bucket of its
    own, ``seconds`` wide (None: a calendar month), named by the ISO
    date prefix ``width`` long of its start; it holds the rows whose
    bucket starts in it. ``of`` names a bucket start in Spark."""

    of: Callable[[Column], Column]
    seconds: int | None
    width: int

    def value(self, start: datetime.datetime) -> str:
        return start.date().isoformat()[: self.width]

    def start(self, value: str) -> datetime.datetime:
        return datetime.datetime(int(value[:4]), int(value[5:7]), int(value[8:10] or 1))

    def held(self, value: str) -> tuple[datetime.datetime, datetime.datetime]:
        """The instants ``(lo, hi]`` partition ``value`` spans."""
        lo = self.start(value)
        return lo, rollup.bucket_label(lo, self.seconds, 1)


# partition column -> its encoding
PARTITIONS = {
    "day_bucket": Partition(F.to_date, 86400, 10),
    "month_bucket": Partition(lambda start: F.date_format(start, "yyyy-MM"), None, 7),
}


def partition_range(col: str, seconds: int | None, lo, hi) -> tuple[str | None, str | None]:
    """The first and the last value of partition column ``col`` holding
    the ``seconds``-wide buckets that overlap ``(lo, hi]``; a None bound
    is open."""
    return tuple(s and PARTITIONS[col].value(s) for s in rollup.overlapping(lo, hi, seconds))


@dataclass(frozen=True)
class Tier:
    """One stored tier.

    ``family``: ``agg`` (avg/min/max/sum/count partials), ``hist``
    (histogram counts), ``dist`` (HLL sketches) or ``blocks`` (Gorilla
    blocks of the 30m averages). ``input``: the tier it is built from;
    None is the raw table. ``seconds``: its resolution; None is a
    calendar month (a blocks stage rewrites by its span).
    ``partition_col``: its top-level partition column. ``horizon``: the
    ``RetentionPolicy`` field that bounds its history; None keeps it
    forever."""

    name: str
    family: str
    input: str | None
    seconds: int | None
    partition_col: str
    sort_within: tuple[str, ...]
    horizon: str | None

    @property
    def input_col(self) -> str:
        """The top-level partition column of the table this tier reads."""
        return BY_NAME[self.input].partition_col if self.input else RAW_PARTITION_COL

    def last_input_start(self) -> Column:
        """The start of the last input bucket a row (``bucket_ts``) of
        this tier or of its input holds: the row's input partition, and
        its own partition, are those holding it."""
        return rollup.bucket_start(F.col("bucket_ts"), BY_NAME[self.input].seconds)

    def rewrites(self, changed: list[str]) -> Callable[[str], bool]:
        """Predicate on the output partitions a run rewrites for changed
        input partitions: those holding buckets that overlap one."""
        src = PARTITIONS[self.input_col]
        out = [partition_range(self.partition_col, self.seconds, *src.held(v)) for v in changed]
        return lambda v: any(a <= v <= b for a, b in out)


_KEYS = ("series", "bucket_ts")

# Declaration order is the pipeline's submission and report order; every
# tier follows its input, so within a family the tiers run finest first.
TIERS: tuple[Tier, ...] = (
    Tier("agg_30m", "agg", None, 1800, "day_bucket", _KEYS, "t30_keep_days"),
    Tier("agg_1d", "agg", "agg_30m", 86400, "month_bucket", _KEYS, "t1d_keep_months"),
    Tier("hist_30m", "hist", None, 1800, "day_bucket", (*_KEYS, "bin"), "t30_keep_days"),
    Tier("hist_1d", "hist", "hist_30m", 86400, "month_bucket", (*_KEYS, "bin"), "t1d_keep_months"),
    Tier("dist_30m", "dist", None, 1800, "day_bucket", _KEYS, "t30_keep_days"),
    Tier("dist_1d", "dist", "dist_30m", 86400, "month_bucket", _KEYS, "t1d_keep_months"),
    Tier("agg_1mo", "agg", "agg_1d", None, "month_bucket", _KEYS, None),
    Tier("blocks_30m", "blocks", "agg_30m", 1800, "day_bucket", ("series",), None),
)

BY_NAME = {t.name: t for t in TIERS}

# family -> the rule that re-aggregates a tier to a coarser bucket, a
# whole number of seconds or (None) a calendar month: the pipeline's
# cascade stages and the router's re-aggregation
CASCADE = {
    "agg": rollup.rollup_cascade,
    "hist": rollup.histogram_cascade,
    "dist": rollup.distinct_cascade,
}
