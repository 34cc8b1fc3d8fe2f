"""Tier-aware serving router: tier selection, re-aggregation parity,
partition pruning."""

from __future__ import annotations

import datetime
import re

import pytest
from pyspark.sql import functions as F

from isp_trace_parser_spark import synth
from isp_trace_parser_spark.operators import codec
from isp_trace_parser_spark.operators.rollup import DEC, rollup_raw
from isp_trace_parser_spark.pipeline import ingest_pages, run_rollup_pipeline
from isp_trace_parser_spark.serving import TierStore, resolution_seconds
from isp_trace_parser_spark.sources.catalog import Catalog


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("serve") / "wh"))
    pages = synth.pages(spark, n_urls=6, n_slots=48 * 6, gap_pct=5).select(
        "url",
        "warc_ts",
        "value",
        # synthetic visitor id: deterministic small-cardinality key for
        # the distinct tiers (sparse-mode exact)
        (F.abs(F.xxhash64("url", "warc_ts")) % 40).cast("string").alias(
            "visitor"
        ),
    )
    ingest_pages(cat, pages)
    run_rollup_pipeline(spark, cat, encode_blocks=False, sum_cast=DEC,
                        histogram_bin_width=0.5, distinct_key="visitor")
    return cat, pages


def test_resolution_parse():
    assert resolution_seconds("30m") == 1800
    assert resolution_seconds("2h") == 7200
    assert resolution_seconds("1d") == 86400
    with pytest.raises(ValueError):
        resolution_seconds("1mo")  # handled as a literal tier, not seconds


def test_serving_matches_raw_rollup(spark, store):
    cat, pages = store
    ts0 = pages.agg(F.min("warc_ts")).first()[0]
    start = ts0.replace(hour=0, minute=0, second=0) + datetime.timedelta(days=1)
    end = start + datetime.timedelta(days=2)
    got = (
        TierStore(cat)
        .series(start=start, end=end, resolution="2h")
        .toPandas()
        .sort_values(["series", "bucket_ts"])
        .reset_index(drop=True)
    )
    want = (
        rollup_raw(
            pages.where(
                (F.col("warc_ts") > F.lit(start)) & (F.col("warc_ts") <= F.lit(end))
            ),
            "url", "warc_ts", "value", 7200, DEC,
        )
        .toPandas()
        .sort_values(["series", "bucket_ts"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    # decimal partials make the comparison exact, not approximate
    for c in ("avg_value", "sum_value", "cnt_value", "min_value", "max_value"):
        assert (got[c] == want[c]).all(), c


def test_serving_exact_tier_passthrough(spark, store):
    cat, pages = store
    got = TierStore(cat).series(resolution="1d")
    # res == tier: served straight from agg_1d, no re-aggregation
    assert got.count() == cat.read("agg_1d").count()


def test_serving_prunes_partitions(spark, store):
    cat, pages = store
    ts0 = pages.agg(F.min("warc_ts")).first()[0]
    start = ts0.replace(hour=0, minute=0, second=0) + datetime.timedelta(days=1)
    end = start + datetime.timedelta(days=1)
    df = TierStore(cat).series(start=start, end=end, resolution="2h")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "day_bucket" in plan
    _assert_files_in_window(df, start, end)


def _assert_files_in_window(df, start, end):
    """Every file the plan scans lies in a day partition of the window."""
    days = {start.date().isoformat(), end.date().isoformat()}
    files = df.inputFiles()
    assert files
    for f in files:
        assert re.search(r"/day_bucket=([^/]+)/", f).group(1) in days, f


def test_serving_rejects_unservable_resolution(spark, store):
    cat, _ = store
    with pytest.raises(ValueError, match="no stored tier"):
        TierStore(cat).series(resolution="45m")


def test_cold_tier_blocks_serving_matches_hot_tier(spark, tmp_path):
    """series_30m_from_blocks (decode the Gorilla cold tier) must return
    exactly the hot 30m tier's points for the same window — bit-equal
    avg values, same rows — with block+partition pruning applied."""
    import datetime

    from isp_trace_parser_spark import synth
    from isp_trace_parser_spark.pipeline import ingest_pages, run_rollup_pipeline
    from isp_trace_parser_spark.serving import TierStore, series_30m_from_blocks
    from isp_trace_parser_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    pages = synth.pages(spark, n_urls=12, n_slots=48 * 14, gap_pct=3).select(
        "url", "warc_ts", "value"
    )
    ingest_pages(cat, pages)
    run_rollup_pipeline(spark, cat, block_size="7 days")

    start = datetime.datetime(2024, 1, 4)
    end = datetime.datetime(2024, 1, 11)
    hot = (
        TierStore(cat)
        .series(start=start, end=end, resolution="30m")
        .select("series", "bucket_ts", "avg_value")
        .toPandas()
        .sort_values(["series", "bucket_ts"])
        .reset_index(drop=True)
    )
    cold = (
        series_30m_from_blocks(cat, start=start, end=end, block_span="7 days")
        .toPandas()
        .sort_values(["series", "bucket_ts"])
        .reset_index(drop=True)
    )
    assert len(hot) > 0
    assert hot.equals(cold)


def test_block_span_parsing():
    """Cold-tier pruning must parse every F.window duration unit
    encode_blocks accepts, and fail loud on anything else — a silent
    1-day fallback drops boundary blocks (ADVICE r3)."""
    from isp_trace_parser_spark.serving import block_span_seconds

    assert block_span_seconds("7 days") == 7 * 86400
    assert block_span_seconds("1 day") == 86400
    assert block_span_seconds("36 hours") == 36 * 3600
    assert block_span_seconds("2 weeks") == 2 * 7 * 86400
    assert block_span_seconds("90 minutes") == 5400
    with pytest.raises(ValueError, match="unsupported block_span"):
        block_span_seconds("1 fortnight")
    with pytest.raises(ValueError, match="unsupported block_span"):
        block_span_seconds("daily")


def test_cold_tier_serving_non_day_span(spark, tmp_path):
    """A '36 hours' block span must prune correctly (back off 2 days on
    the partition bound, 36h on block_start) and still return exactly
    the hot tier's window."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    pages = synth.pages(spark, n_urls=4, n_slots=48 * 6, gap_pct=0).select(
        "url", "warc_ts", "value"
    )
    ingest_pages(cat, pages)
    run_rollup_pipeline(spark, cat, block_size="36 hours")
    from isp_trace_parser_spark.serving import series_30m_from_blocks

    start = datetime.datetime(2024, 1, 2)
    end = datetime.datetime(2024, 1, 5)
    hot = (
        TierStore(cat)
        .series(start=start, end=end, resolution="30m")
        .select("series", "bucket_ts", "avg_value")
        .toPandas()
        .sort_values(["series", "bucket_ts"])
        .reset_index(drop=True)
    )
    cold = (
        series_30m_from_blocks(cat, start=start, end=end,
                               block_span="36 hours")
        .toPandas()
        .sort_values(["series", "bucket_ts"])
        .reset_index(drop=True)
    )
    assert len(hot) > 0 and hot.equals(cold)


def test_percentile_serving_matches_direct_histogram(spark, store):
    """TierStore.percentile routes to the stored hist_30m tier,
    cascades 30m->2h, and must equal the percentile rule applied to a
    DIRECT histogram of raw pages at the serving resolution (counts
    are exact and mergeable — the continuous-aggregate invariant for
    distributions)."""
    from isp_trace_parser_spark.operators.rollup import (
        histogram_percentile,
        histogram_tier,
    )

    cat, pages = store
    ts0 = pages.agg(F.min("warc_ts")).first()[0]
    start = ts0.replace(hour=0, minute=0, second=0) + datetime.timedelta(days=1)
    end = start + datetime.timedelta(days=2)
    got = (
        TierStore(cat)
        .percentile(0.95, start=start, end=end, resolution="2h",
                    bin_width=0.5)
        .toPandas()
        .sort_values(["series", "bucket_ts"])
        .reset_index(drop=True)
    )
    raw_win = pages.where(
        (F.col("warc_ts") > F.lit(start)) & (F.col("warc_ts") <= F.lit(end))
    )
    want = (
        histogram_percentile(
            histogram_tier(raw_win, "url", "warc_ts", "value", 7200, 0.5),
            0.95, bin_width=0.5,
        )
        .toPandas()
        .sort_values(["series", "bucket_ts"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert (got["bin"] == want["bin"]).all()
    assert (got["estimate"] == want["estimate"]).all()


def test_percentile_serving_prunes_partitions(spark, store):
    cat, pages = store
    ts0 = pages.agg(F.min("warc_ts")).first()[0]
    start = ts0.replace(hour=0, minute=0, second=0) + datetime.timedelta(days=1)
    end = start + datetime.timedelta(days=1)
    df = TierStore(cat).percentile(0.95, start=start, end=end,
                                   resolution="2h")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "day_bucket" in plan
    _assert_files_in_window(df, start, end)


def test_window_reads_plan_without_spark_jobs(spark, tmp_path, spark_jobs):
    """Planning a 2-day window over a tier of more than 32 day
    partitions launches no Spark job: the catalog read takes the
    window's files from the snapshot with the recorded schema, so
    nothing lists directories or infers a schema. A full read of the
    same tier still lists its files with a job."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    pages = synth.pages(spark, n_urls=2, n_slots=48 * 40, gap_pct=0).select(
        "url", "warc_ts", "value"
    )
    ingest_pages(cat, pages, n_buckets=1)
    run_rollup_pipeline(spark, cat, encode_blocks=False,
                        histogram_bin_width=0.5)
    assert len(cat.list_partitions("agg_30m", "day_bucket")) > 32
    assert len(cat.list_partitions("hist_30m", "day_bucket")) > 32
    url = pages.first()["url"]

    start = datetime.datetime(2024, 1, 20)
    end = start + datetime.timedelta(days=2)
    store = TierStore(cat)
    with spark_jobs() as jobs:
        series = store.series(url, start=start, end=end, resolution="2h")
        pcts = store.percentiles([0.5, 0.9], start=start, end=end,
                                 resolution="2h")
    assert jobs() == 0
    assert series.count() == 24 and pcts.count() == 2 * 24 * 2

    with spark_jobs() as jobs:
        cat.read("agg_30m")
    assert jobs() >= 1


def test_percentile_daily_routes_to_hist_1d(spark, store):
    """A 1d request reads the COARSER hist_1d tier (month-partitioned),
    not hist_30m — coarsest-dividing-tier routing, same as avg."""
    cat, _ = store
    df = TierStore(cat).percentile(0.5, resolution="1d")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hist_1d" in plan and "hist_30m" not in plan
    assert df.count() > 0


def test_percentile_requires_histogram_tiers(spark, store):
    cat, _ = store

    class NoHist:
        def exists(self, t):
            return False

        def read(self, t):  # pragma: no cover
            raise AssertionError

    with pytest.raises(ValueError, match="histogram tier"):
        TierStore(NoHist()).percentile(0.95, resolution="2h")


def test_distinct_serving_matches_exact(spark, store):
    """TierStore.distinct routes to the sketch tiers and (at sparse-
    mode cardinalities) equals exact count(DISTINCT) computed from raw
    pages at the serving resolution; the 2h request exercises the
    30m->2h sketch-union cascade."""
    from isp_trace_parser_spark.operators.rollup import bucket_end

    cat, pages = store
    ts0 = pages.agg(F.min("warc_ts")).first()[0]
    start = ts0.replace(hour=0, minute=0, second=0) + datetime.timedelta(days=1)
    end = start + datetime.timedelta(days=2)
    got = (
        TierStore(cat)
        .distinct(start=start, end=end, resolution="2h")
        .toPandas()
        .sort_values(["series", "bucket_ts"])
        .reset_index(drop=True)
    )
    want = (
        pages.where(
            (F.col("warc_ts") > F.lit(start)) & (F.col("warc_ts") <= F.lit(end))
        )
        .groupBy(
            F.col("url").alias("series"),
            bucket_end(F.col("warc_ts"), 7200).alias("bucket_ts"),
        )
        .agg(F.countDistinct("visitor").alias("n_exact"))
        .toPandas()
        .sort_values(["series", "bucket_ts"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert (got["n_distinct"].to_numpy() == want["n_exact"].to_numpy()).all()


def test_distinct_serving_daily_routes_to_dist_1d(spark, store):
    cat, _ = store
    df = TierStore(cat).distinct(resolution="1d")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dist_1d" in plan and "dist_30m" not in plan
    assert df.count() > 0


def test_distinct_serving_requires_tiers(spark):
    class NoTier:
        def exists(self, t):
            return False

    with pytest.raises(ValueError, match="distinct tier"):
        TierStore(NoTier()).distinct(resolution="2h")


def test_series_auto_resolution_choice(spark, store):
    """Pixel-budget routing: finest servable resolution fitting
    max_points; metadata-only decision (no scan)."""
    cat, pages = store
    ts0 = pages.agg(F.min("warc_ts")).first()[0]
    start = ts0.replace(hour=0, minute=0, second=0) + datetime.timedelta(days=1)
    end = start + datetime.timedelta(days=2)
    df, res = TierStore(cat).series_auto(start, end, max_points=2000)
    assert res == "30m"
    df2, res2 = TierStore(cat).series_auto(start, end, max_points=50)
    assert res2 == "1h"
    assert df2.count() > 0
    # parity with an explicit-resolution request
    explicit = TierStore(cat).series(start=start, end=end, resolution="1h")
    got = df2.toPandas().sort_values(["series", "bucket_ts"]).reset_index(drop=True)
    want = explicit.toPandas().sort_values(["series", "bucket_ts"]).reset_index(drop=True)
    assert (got["avg_value"] == want["avg_value"]).all()
    # budget of 1 point over a 2-day window: one 2d bucket fits exactly
    _df3, res3 = TierStore(cat).series_auto(start, end, max_points=1)
    assert res3 == "2d"
    # a 100-day window at budget 1 overflows every candidate: the
    # coarsest (28d) still serves rather than erroring
    _df4, res4 = TierStore(cat).series_auto(
        start, start + datetime.timedelta(days=100), max_points=1
    )
    assert res4 == "28d"
    with pytest.raises(ValueError, match="after start"):
        TierStore(cat).series_auto(end, start)


def test_percentiles_multi_q_serving(spark, store):
    """Multi-q serving shares the routed tier read: per-q answers equal
    the single-q route's."""
    cat, pages = store
    ts0 = pages.agg(F.min("warc_ts")).first()[0]
    start = ts0.replace(hour=0, minute=0, second=0) + datetime.timedelta(days=1)
    end = start + datetime.timedelta(days=1)
    multi = (
        TierStore(cat)
        .percentiles([0.5, 0.95], start=start, end=end, resolution="2h")
        .toPandas()
    )
    for q in (0.5, 0.95):
        single = (
            TierStore(cat)
            .percentile(q, start=start, end=end, resolution="2h")
            .toPandas()
            .set_index(["series", "bucket_ts"])["estimate"]
            .sort_index()
        )
        sub = (
            multi[multi["q"] == q]
            .set_index(["series", "bucket_ts"])["estimate"]
            .sort_index()
        )
        assert len(sub) == len(single) > 0
        assert (sub == single).all()


@pytest.mark.parametrize("resolution", ["0m", "0h", "0d"])
def test_series_rejects_zero_resolution(spark, store, resolution):
    """A zero resolution fails at the call, not later inside a Spark
    task (a zero-width bucket divides by zero)."""
    cat, _ = store
    with pytest.raises(ValueError, match="zero"):
        TierStore(cat).series(resolution=resolution)


@pytest.mark.parametrize("q", [1.5, -0.2])
def test_percentiles_reject_q_outside_unit_interval(spark, store, q):
    """Both percentile paths reject a q outside [0, 1] at the call
    rather than returning no rows, null bins or the lowest bin."""
    from isp_trace_parser_spark.operators.rollup import histogram_percentiles

    cat, _ = store
    with pytest.raises(ValueError, match=r"\[0, 1\]"):
        TierStore(cat).percentile(q, resolution="2h")
    with pytest.raises(ValueError, match=r"\[0, 1\]"):
        TierStore(cat).percentiles([0.5, q], resolution="2h")
    with pytest.raises(ValueError, match=r"\[0, 1\]"):
        histogram_percentiles(cat.read("hist_30m"), [q])


@pytest.mark.parametrize("bin_width", [0, -1.0])
def test_percentiles_reject_non_positive_bin_width(spark, store, bin_width):
    """A bin width <= 0 fails at the call: a negative one used to turn
    the midpoint estimates negative, and zero made every estimate 0."""
    cat, _ = store
    with pytest.raises(ValueError, match="bin width"):
        TierStore(cat).percentile(0.95, resolution="2h", bin_width=bin_width)
    with pytest.raises(ValueError, match="bin width"):
        TierStore(cat).percentiles([0.5, 0.95], bin_width=bin_width)


@pytest.fixture(scope="module")
def month_edge(spark, tmp_path_factory):
    """Warehouses over 6 urls x 7 days from 2024-01-28 (across a month
    edge), with histogram tiers and blocks of the given span, built once
    per span."""
    pages = synth.pages(spark, n_urls=6, n_slots=48 * 7, gap_pct=0).select(
        "url", (F.col("warc_ts") + F.expr("INTERVAL 27 DAYS")).alias("warc_ts"), "value"
    )
    built = {}

    def build(block_size):
        if block_size not in built:
            cat = Catalog(spark, str(tmp_path_factory.mktemp("edge") / "wh"))
            ingest_pages(cat, pages, n_buckets=2)
            run_rollup_pipeline(spark, cat, block_size=block_size, histogram_bin_width=0.5)
            built[block_size] = cat
        return built[block_size]

    return build


def _partitions_read(df) -> set[str]:
    files = df.inputFiles()
    assert files
    return {re.search(r"/((day|month)_bucket=[^/]+)/", f).group(1) for f in files}


# the window (Jan 30, Feb 1] ends at midnight, on a month edge
EDGE = datetime.datetime(2024, 1, 30), datetime.datetime(2024, 2, 1)


@pytest.mark.parametrize("query", ["series_30m", "series_1d", "percentiles"])
def test_window_ending_at_midnight_reads_only_its_partitions(spark, month_edge, query):
    """A bucket labelled at midnight belongs to the day (month) before,
    so a window ending at midnight plans no file of the next day's (or
    month's) partition."""
    store = TierStore(month_edge("7 days"))
    start, end = EDGE
    days = {"day_bucket=2024-01-30", "day_bucket=2024-01-31"}
    df, want, rows = {
        "series_30m": (store.series(start=start, end=end), days, 6 * 96),
        "series_1d": (
            store.series(start=start - datetime.timedelta(days=1), end=end, resolution="1d"),
            {"month_bucket=2024-01"},
            6 * 3,
        ),
        "percentiles": (store.percentiles([0.5], start=start, end=end, bin_width=0.5), days, 6 * 96),
    }[query]
    assert _partitions_read(df) == want
    assert df.count() == rows


@pytest.mark.parametrize("block_size", ["7 days", "36 hours"])
def test_cold_window_ending_at_midnight_reads_only_overlapping_blocks(spark, month_edge, block_size):
    """The cold-tier read plans only the files of the partitions holding
    a block that overlaps the window: no partition of a block that ends
    before the window starts, or starts where it ends."""
    from isp_trace_parser_spark.serving import series_30m_from_blocks

    cat = month_edge(block_size)
    start, end = EDGE
    span = codec.block_span_seconds(block_size)
    blocks = cat.read("blocks_30m")
    overlapping = blocks.where(
        (F.col("block_start") < F.lit(end))
        & (F.col("block_start") > F.lit(start - datetime.timedelta(seconds=span)))
    )
    want = {f"day_bucket={r[0]}" for r in overlapping.select("day_bucket").distinct().collect()}
    assert want and want != {f"day_bucket={r[0]}" for r in blocks.select("day_bucket").distinct().collect()}

    df = series_30m_from_blocks(cat, start=start, end=end, block_span=block_size)
    assert _partitions_read(df) == want
    assert df.count() == 6 * 96
