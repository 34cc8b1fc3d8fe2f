"""Structured-Streaming surface for the 30-minute tiers.

The reference is pure batch (SURVEY §2.11); this is the incremental
variant for live crawls: the batch tiers' own rules
(``operators.rollup.agg_rule`` and ``hist_rule``) applied as a
watermarked streaming aggregation over 30-minute windows. Late rows
inside the watermark update their bucket; rows later than the watermark
are dropped (the reference has no late-data semantics to honor — it
assumes complete input).

Batch/stream parity is tested by feeding the same rows through both
paths (tests/test_streaming.py): the streaming result in complete/append
mode must equal the batch tier, column for column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from isp_trace_parser_spark.operators import rollup


def _windowed(
    stream: DataFrame, rule: rollup.Rule, series_col: str, ts_col: str, watermark: str
) -> DataFrame:
    """Apply a family's ``rule`` per (series, 30m tumbling window) under
    ``watermark``, labelled like the batch tier's ``bucket_end``.

    Uses ``F.window``: streaming state requires the built-in window
    column for retention."""
    # watermarks require TIMESTAMP (ltz); UTC session makes the ntz<->ltz
    # casts wall-clock identity, and the label is cast back to the
    # engine-standard ntz below
    keys, aggs = rule
    out = (
        stream.withColumn("_ts_ltz", F.col(ts_col).cast("timestamp_ltz"))
        .withWatermark("_ts_ltz", watermark)
        .groupBy(
            F.col(series_col).alias("series"),
            # shift 1us back so points exactly on a boundary label their
            # own bucket (end-of-interval (start, end]), then take the
            # window END as the label: exactly rollup.bucket_end's rule
            F.window(F.col("_ts_ltz") - F.expr("INTERVAL 1 MICROSECOND"), "30 minutes"),
            *keys,
        )
        .agg(*aggs)
    )
    return out.select(
        "series",
        F.col("window.end").cast("timestamp_ntz").alias("bucket_ts"),
        *[c for c in out.columns if c not in ("series", "window")],
    )


def streaming_rollup_30m(
    stream: DataFrame,
    series_col: str = "url",
    ts_col: str = "warc_ts",
    value_col: str = "value",
    watermark: str = "1 hour",
    sum_cast: str | None = None,
) -> DataFrame:
    """Streaming 30m ``agg`` tier: the columns of
    ``rollup.rollup_raw``; ``sum_cast`` (e.g. ``rollup.DEC``) gives
    exact order-independent sums, so streamed partials hash identically
    to batch/oracle results."""
    return _windowed(stream, rollup.agg_rule(value_col, sum_cast), series_col, ts_col, watermark)


def streaming_histogram_30m(
    stream: DataFrame,
    series_col: str = "url",
    ts_col: str = "warc_ts",
    value_col: str = "value",
    watermark: str = "1 hour",
    bin_width: float = 0.5,
) -> DataFrame:
    """Streaming 30m HISTOGRAM tier: the distribution analog of
    :func:`streaming_rollup_30m`, maintaining the same mergeable
    (series, bucket, bin) -> count sketch the batch
    ``rollup.histogram_tier`` builds — a live crawl keeps percentile
    dashboards current without re-scanning raw data. Counts are exact
    integers, so streamed state equals the batch tier bit-for-bit, and
    the output can be landed into ``hist_30m`` and cascaded/served by
    the same TierStore.percentile path. ``bin_width`` must be > 0.
    """
    return _windowed(stream, rollup.hist_rule(value_col, bin_width), series_col, ts_col, watermark)
