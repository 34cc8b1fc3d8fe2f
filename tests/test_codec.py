"""Gorilla-style block codec: exact round-trip (bit-level), compression
ratio on regular traces, and the Spark encode/decode pipeline."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from isp_trace_parser_spark import synth
from isp_trace_parser_spark.operators import codec
from isp_trace_parser_spark.operators.rollup import rollup_raw


def test_round_trip_regular_series():
    ts = (np.arange(1000, dtype=np.int64) * 1800 + 1704067200) * 1_000_000
    vals = np.sin(np.arange(1000) / 7.0) * 100
    blob = codec.encode_block(ts, vals)
    ts2, vals2 = codec.decode_block(blob)
    assert (ts2 == ts).all()
    assert vals2.view(np.uint64).tolist() == vals.view(np.uint64).tolist()


def test_compression_ratio_on_regular_trace():
    # constant deltas -> dod == 0 -> ts stream ~free; smooth values
    ts = (np.arange(2000, dtype=np.int64) * 1800) * 1_000_000
    vals = np.full(2000, 42.5)
    blob = codec.encode_block(ts, vals)
    ratio = (2000 * 16) / len(blob)
    assert ratio > 100  # constant series compresses to ~header only


def test_single_and_two_point_blocks():
    for n in (1, 2):
        ts = (np.arange(n, dtype=np.int64) * 1800) * 1_000_000
        vals = np.array([1.5, -2.25][:n])
        ts2, vals2 = codec.decode_block(codec.encode_block(ts, vals))
        assert (ts2 == ts).all()
        assert (vals2 == vals).all()


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        # NaN/Inf included: the codec works on raw bit patterns, so
        # every IEEE payload (quiet/signaling NaN, ±Inf, -0.0) must
        # survive bit-exactly
        st.floats(allow_nan=True, allow_infinity=True, width=64),
        min_size=1,
        max_size=200,
    ),
    st.lists(st.integers(min_value=1, max_value=10**7), min_size=0, max_size=199),
)
def test_round_trip_property(values, delta_list):
    n = len(values)
    deltas = np.array((delta_list + [1800] * n)[: n - 1], dtype=np.int64)
    ts = np.concatenate([[0], np.cumsum(deltas)]).astype(np.int64) + 1_700_000_000_000_000
    vals = np.array(values, dtype=np.float64)
    ts2, vals2 = codec.decode_block(codec.encode_block(ts, vals))
    assert (ts2 == ts).all()
    # bit-exact (handles -0.0, NaN payloads, ±Inf)
    assert (vals2.view(np.uint64) == vals.view(np.uint64)).all()


def test_spark_encode_decode_round_trip(spark):
    pages = synth.pages(spark, n_urls=6, n_slots=48 * 5, gap_pct=7)
    t30 = rollup_raw(pages)
    blocks = codec.encode_blocks(t30)
    report = codec.compression_report(blocks).collect()[0]
    assert report["points"] == t30.count()
    # every value changes every step here (worst case for lossless float
    # XOR); repeated-value traces compress far harder (see test below)
    assert report["ratio"] > 1.3

    decoded = codec.decode_blocks(blocks).toPandas()
    orig = (
        t30.selectExpr("series", "bucket_ts as ts", "avg_value as value")
        .toPandas()
        .sort_values(["series", "ts"])
        .reset_index(drop=True)
    )
    dec = decoded.sort_values(["series", "ts"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(dec, orig)


def test_block_points_inverts_encode_blocks(spark):
    """block_points returns the points encode_blocks was given, under
    the names and types of the 30m tier it reads them from."""
    t30 = rollup_raw(synth.pages(spark, n_urls=4, n_slots=48 * 9, gap_pct=7)).select(
        "series", "bucket_ts", "avg_value"
    )
    points = codec.block_points(codec.encode_blocks(t30, block="7 days"))
    assert points.dtypes == t30.dtypes
    assert points.exceptAll(t30).isEmpty() and t30.exceptAll(points).isEmpty()


def test_encode_in_small_arrow_batches(spark):
    """Arrow batches of a few rows split no block: encode_blocks gives
    exactly one row per (series, block_start), and block_points inverts
    it."""
    import pyspark.sql.functions as F

    from isp_trace_parser_spark.operators.rollup import bucket_start

    t30 = rollup_raw(synth.pages(spark, n_urls=3, n_slots=48 * 9, gap_pct=7)).select(
        "series", "bucket_ts", "avg_value"
    )
    starts = t30.select("series", bucket_start(F.col("bucket_ts"), 2 * 86400)).distinct().count()
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        blocks = codec.encode_blocks(t30, block="2 days").localCheckpoint()
        assert blocks.count() == blocks.select("series", "block_start").distinct().count() == starts
        points = codec.block_points(blocks)
        assert points.exceptAll(t30).isEmpty() and t30.exceptAll(points).isEmpty()
    finally:
        spark.conf.set(key, old)


def test_repeated_values_compress_hard():
    # forward-filled / flat-lining traces (the common case after
    # gap-fill) hit the zero-XOR bitmap: ~1 bit/point
    ts = (np.arange(4800, dtype=np.int64) * 1800) * 1_000_000
    vals = np.repeat(np.arange(100, dtype=np.float64), 48)  # changes 1/48 steps
    blob = codec.encode_block(ts, vals)
    assert (4800 * 16) / len(blob) > 15
    ts2, vals2 = codec.decode_block(blob)
    assert (vals2 == vals).all() and (ts2 == ts).all()


def test_block_boundaries_daily(spark):
    pages = synth.pages(spark, n_urls=2, n_slots=48 * 3)
    blocks = codec.encode_blocks(rollup_raw(pages)).toPandas()
    # 3 days x 2 series -> 6 blocks, each 48 points
    assert len(blocks) == 6
    assert (blocks["n_points"] == 48).all()


def test_encode_shuffle_keys_on_series_and_block(spark):
    """The encode shuffle must key on (series, block_start), not series
    alone: a block is grouped on both, and keying on both spreads a hot
    series' history across tasks instead of serializing one executor
    (the hot-domain skew synth.pages models)."""
    import re

    pages = synth.pages(spark, n_urls=2, n_slots=48 * 2)
    blocks = codec.encode_blocks(rollup_raw(pages))
    plan = blocks._jdf.queryExecution().executedPlan().toString()
    assert re.search(
        r"hashpartitioning\(series#\d+, block_start#\d+", plan
    ), plan


def test_encode_survives_non_integer_shuffle_conf(spark, monkeypatch):
    """AQE-managed platforms may hold a non-integer value (e.g. "auto")
    in spark.sql.shuffle.partitions; encode_blocks must not raise on it
    (ADVICE r4)."""
    import datetime

    import pandas as pd

    from pyspark.sql.conf import RuntimeConfig

    rows = pd.DataFrame(
        {
            "series": ["s"] * 4,
            "ts": pd.Series(
                [
                    datetime.datetime(2024, 1, 1)
                    + datetime.timedelta(minutes=30 * i)
                    for i in range(4)
                ],
                dtype="datetime64[us]",
            ),
            "value": [1.0, 2.0, 3.0, 4.0],
        }
    )
    df = spark.createDataFrame(rows)
    orig_get = RuntimeConfig.get

    def auto_conf(self, key, *args, **kwargs):
        if key == "spark.sql.shuffle.partitions":
            return "auto"
        return orig_get(self, key, *args, **kwargs)

    monkeypatch.setattr(RuntimeConfig, "get", auto_conf)
    enc = codec.encode_blocks(df, "series", "ts", "value")
    n = enc.count()
    monkeypatch.undo()
    assert n >= 1
