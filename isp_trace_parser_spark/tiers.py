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
"""

from __future__ import annotations

import datetime
from dataclasses import dataclass
from typing import Callable, NamedTuple

from pyspark.sql import Column

from isp_trace_parser_spark.operators import rollup
from isp_trace_parser_spark.plans import partitioning

# the raw table's top-level partition column (pipeline.ingest_pages)
RAW_PARTITION_COL = "day_bucket"


class Partition(NamedTuple):
    """A partition column's encoding: ``of`` is the Spark rule for the
    value that holds an end-labelled bucket, ``width`` the length of its
    values' ISO-date prefix (a day's value starts with its month's)."""

    of: Callable[[Column | str], Column]
    width: int


# partition column -> its encoding
PARTITIONS = {
    "day_bucket": Partition(partitioning.day_bucket, 10),
    "month_bucket": Partition(partitioning.month_bucket, 7),
}


@dataclass(frozen=True)
class Tier:
    """One stored tier.

    ``family``: ``agg`` (avg/min/max/sum/count partials), ``hist``
    (histogram counts), ``dist`` (HLL sketches) or ``blocks`` (Gorilla
    blocks of the 30m averages). ``input``: the tier it is built from;
    None is the raw table. ``seconds``: its resolution; None is a
    calendar month. ``partition_col``: its top-level partition column;
    None is unpartitioned. ``horizon``: the ``RetentionPolicy`` field
    that bounds its history; None keeps it forever."""

    name: str
    family: str
    input: str | None
    seconds: int | None
    partition_col: str | None
    sort_within: tuple[str, ...]
    horizon: str | None

    @property
    def input_col(self) -> str:
        """The top-level partition column of the table this tier reads."""
        return BY_NAME[self.input].partition_col if self.input else RAW_PARTITION_COL

    def partition_bound(self, ts: datetime.datetime | None) -> str | None:
        """The value of this tier's partition column that holds the day
        of ``ts`` (None: an open bound)."""
        return None if ts is None else ts.date().isoformat()[: PARTITIONS[self.partition_col].width]

    def rewrites(self, changed: list[str]) -> tuple[Callable[[str], bool], list[str]]:
        """(a predicate on the input partitions to read, the partitions
        to rewrite) for changed input partitions: each rewrites the one
        that holds its prefix, read from every input sharing it."""
        w = PARTITIONS[self.partition_col].width
        out = sorted({v[:w] for v in changed})
        keep = set(out)
        return (lambda v: v[:w] in keep), out


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
    Tier("agg_1mo", "agg", "agg_1d", None, None, _KEYS, None),
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
