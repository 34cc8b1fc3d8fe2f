"""Catalog + pipeline: partitioned layout, snapshot lineage,
checkpoint/resume skipping, retention expiry."""

from __future__ import annotations

import datetime
import os

import pytest

from isp_trace_parser_spark import synth
from isp_trace_parser_spark.operators import codec, rollup
from isp_trace_parser_spark.operators.retention import RetentionPolicy
from isp_trace_parser_spark.parse import parse_traces
from isp_trace_parser_spark.pipeline import ingest_pages, run_rollup_pipeline
from isp_trace_parser_spark.sources.catalog import Catalog
from isp_trace_parser_spark.tiers import TIERS


@pytest.fixture()
def cat(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "warehouse"))


def test_ingest_layout(spark, cat):
    pages = synth.pages(spark, n_urls=8, n_slots=48 * 3)
    snap = ingest_pages(cat, pages, n_buckets=4)
    assert snap["operation"] == "write:overwrite"
    days = cat.list_partitions("pages", "day_bucket")
    assert days == ["2024-01-01", "2024-01-02", "2024-01-03"]
    # nested url_bucket dirs exist
    p0 = os.path.join(cat.table_path("pages"), "day_bucket=2024-01-01")
    assert any(e.startswith("url_bucket=") for e in os.listdir(p0))
    # read back with partition pruning columns intact
    df = cat.read("pages")
    assert "day_bucket" in df.columns and "url_bucket" in df.columns
    assert df.count() == 8 * 48 * 3


def test_pipeline_tiers_and_resume(spark, cat):
    pages = synth.pages(spark, n_urls=6, n_slots=48 * 35, gap_pct=5)
    ingest_pages(cat, pages, n_buckets=4)

    res1 = run_rollup_pipeline(spark, cat)
    assert res1.stages_run == ["agg_30m", "agg_1d", "agg_1mo", "blocks_30m"]
    ratio = codec.compression_report(cat.read("blocks_30m")).first()["ratio"]
    assert ratio > 1.0

    t30 = cat.read("agg_30m")
    t1d = cat.read("agg_1d")
    t1mo = cat.read("agg_1mo")
    assert t30.count() > t1d.count() > t1mo.count() > 0
    # tier exactness: daily sum == 30m sum
    assert (
        abs(
            t1d.groupBy().sum("sum_value").collect()[0][0]
            - t30.groupBy().sum("sum_value").collect()[0][0]
        )
        < 1e-6
    )

    # resume: identical input watermark -> all stages skipped
    res2 = run_rollup_pipeline(spark, cat)
    assert res2.stages_run == []
    assert res2.stages_skipped == ["agg_30m", "agg_1d", "agg_1mo", "blocks_30m"]

    # snapshots carry lineage: the input-partition fingerprint map
    last = cat.last_snapshot("agg_30m")
    assert last["lineage"]["stage"] == "agg_30m"
    assert last["lineage"]["input_state"]
    assert last["partitions"]  # per-partition bytes/files/sig recorded
    assert all("sig" in m for m in last["partitions"].values())


def test_retention_expires_old_partitions(spark, cat):
    pages = synth.pages(spark, n_urls=4, n_slots=48 * 10)
    ingest_pages(cat, pages, n_buckets=2)
    run_rollup_pipeline(spark, cat, encode_blocks=False)

    days = cat.list_partitions("agg_30m", "day_bucket")
    assert len(days) == 10
    # keep 3 days of raw + 30m as of the day after the data ends
    now = datetime.datetime(2024, 1, 11)
    policy = RetentionPolicy(raw_keep_days=3, t30_keep_days=5, t1d_keep_months=36)
    res = run_rollup_pipeline(spark, cat, policy=policy, now=now, encode_blocks=False)
    rep = res.metrics["retention"]
    assert rep["pages"] == [f"2024-01-0{i}" for i in range(1, 8)]
    assert rep["agg_30m"] == [f"2024-01-0{i}" for i in range(1, 6)]
    assert cat.list_partitions("agg_30m", "day_bucket") == [
        "2024-01-06", "2024-01-07", "2024-01-08", "2024-01-09", "2024-01-10",
    ]
    # coarser tiers still hold the full history (downsample before expire)
    assert cat.read("agg_1d").count() == 4 * 10
    # expiry recorded as a snapshot
    ops = [s["operation"] for s in cat.snapshots("agg_30m")]
    assert "expire" in ops

    # a retention pass must NOT force tier recomputation: re-running the
    # pipeline after expiry skips every stage (regression: expire
    # snapshots used to mask the write watermark, and the rebuild then
    # truncated agg_30m to the surviving raw days)
    res2 = run_rollup_pipeline(spark, cat, encode_blocks=False)
    assert res2.stages_run == []
    assert cat.list_partitions("agg_30m", "day_bucket")[0] == "2024-01-06"


@pytest.mark.parametrize("field", ["raw_keep_days", "t30_keep_days", "t1d_keep_months"])
def test_retention_policy_rejects_negative_horizon(field):
    """A negative horizon would expire the current day's (month's)
    partitions too, irreversibly; zero stays valid."""
    RetentionPolicy(**{field: 0})
    with pytest.raises(ValueError, match=field):
        RetentionPolicy(**{field: -1})


@pytest.mark.parametrize("bin_width", [0, -1.0])
def test_pipeline_rejects_non_positive_bin_width(spark, cat, bin_width):
    """The pipeline rejects a histogram bin width <= 0 instead of storing
    mirrored bins (negative) or failing inside a Spark task (zero), and
    commits no tier of any family first."""
    ingest_pages(cat, synth.pages(spark, n_urls=2, n_slots=48), n_buckets=1)
    with pytest.raises(ValueError, match="bin width"):
        run_rollup_pipeline(spark, cat, histogram_bin_width=bin_width)
    # every family's rule is checked before any stage runs
    assert [t.name for t in TIERS if cat.exists(t.name)] == []


def test_incremental_append_preserves_history(spark, cat):
    import pyspark.sql.functions as F

    # days 1-10 land, tiers built, raw expired down to days 9-10
    pages = synth.pages(spark, n_urls=4, n_slots=48 * 10)
    ingest_pages(cat, pages, n_buckets=2)
    run_rollup_pipeline(spark, cat, encode_blocks=False)
    now = datetime.datetime(2024, 1, 11)
    run_rollup_pipeline(
        spark, cat,
        policy=RetentionPolicy(raw_keep_days=2, t30_keep_days=365),
        now=now, encode_blocks=False,
    )
    assert cat.list_partitions("pages", "day_bucket") == ["2024-01-09", "2024-01-10"]

    # a new crawl increment lands days 11-12 (shift the synth by 10 days)
    inc = synth.pages(spark, n_urls=4, n_slots=48 * 2).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 10 DAYS")
    )
    ingest_pages(cat, inc, n_buckets=2, mode="dynamic")
    res = run_rollup_pipeline(spark, cat, encode_blocks=False)
    assert "agg_30m" in res.stages_run

    # 30m tier: full 12 days retained — incremental recompute touched
    # only day >= the previous watermark's day, not the expired history
    days = cat.list_partitions("agg_30m", "day_bucket")
    assert days == [f"2024-01-{d:02d}" for d in range(1, 13)]
    t30 = cat.read("agg_30m")
    assert t30.count() == 4 * 48 * 12
    # daily tier covers all 12 days too
    assert cat.read("agg_1d").count() == 4 * 12


def test_retention_plan_is_dry_run(spark, tmp_path):
    """retention_plan reports exactly what apply_retention would drop,
    and drops nothing itself."""
    import datetime

    from isp_trace_parser_spark import synth
    from isp_trace_parser_spark.operators.retention import (
        RetentionPolicy,
        apply_retention,
        retention_plan,
    )
    from isp_trace_parser_spark.pipeline import (
        ingest_pages,
        run_rollup_pipeline,
    )
    from isp_trace_parser_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    pages = synth.pages(spark, n_urls=4, n_slots=48 * 10, gap_pct=0).select(
        "url", "warc_ts", "value"
    )
    ingest_pages(cat, pages)
    run_rollup_pipeline(spark, cat, encode_blocks=False)
    now = pages.agg({"warc_ts": "max"}).collect()[0][0]
    policy = RetentionPolicy(raw_keep_days=3, t30_keep_days=6)
    plan = retention_plan(cat, policy, now)
    n_raw_before = len(cat.list_partitions("pages", "day_bucket"))
    assert len(plan["pages"]) > 0  # something would expire
    # dry run dropped nothing
    assert len(cat.list_partitions("pages", "day_bucket")) == n_raw_before
    # the real pass drops exactly the planned set
    dropped = apply_retention(cat, policy, now)
    assert dropped == plan
    assert len(cat.list_partitions("pages", "day_bucket")) == (
        n_raw_before - len(plan["pages"])
    )


def test_manifest_read_matches_directory_scan(spark, cat):
    """Catalog.read plans from the snapshot's file list and recorded
    schema; on every table of a pipeline-built warehouse and on a
    parsed traces table it returns the directory scan's schema and
    rows."""
    pages = synth.pages(spark, n_urls=4, n_slots=48 * 9, gap_pct=5)
    ingest_pages(cat, pages, n_buckets=2)
    run_rollup_pipeline(spark, cat, histogram_bin_width=0.5)
    csv_dir = os.path.join(os.path.dirname(__file__), "fixtures", "aemo_csv")
    mapping = {
        "REZ_N1_Solar": {"entity": "N1", "entity_type": "zone",
                         "resource_type": "solar", "parent": "NSW"},
        "SNOWSTH1": {"entity": "Snowtown S2", "entity_type": "project",
                     "resource_type": "wind", "parent": "S5"},
        "SNOWNTH1": {"entity": "Snowtown S2", "entity_type": "project",
                     "resource_type": "wind", "parent": "S5"},
    }
    parse_traces(spark, csv_dir, cat, "traces", mapping)

    tables = sorted(t for t in os.listdir(cat.warehouse) if cat.exists(t))
    assert tables == ["agg_1d", "agg_1mo", "agg_30m", "blocks_30m",
                      "hist_1d", "hist_30m", "pages", "traces"]
    for t in tables:
        path = cat.table_path(t)
        got = cat.read(t)
        want = spark.read.option("basePath", path).parquet(path)
        assert got.schema == want.schema, t
        assert got.exceptAll(want).isEmpty(), t
        assert want.exceptAll(got).isEmpty(), t


def _tables_equal(a, b) -> bool:
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def _days(spark, first: int, n: int, n_urls: int = 4):
    """``n_urls`` urls x ``n`` days of pages from day ``first`` of
    January 2024 (day 32 is Feb 1), with a visitor key for the distinct
    tiers. Day ``d`` holds the points of raw partition ``d``, the same
    in every frame."""
    import pyspark.sql.functions as F

    pages = synth.pages(spark, n_urls=n_urls, n_slots=48 * (first - 1 + n))
    start = datetime.datetime(2024, 1, 1) + datetime.timedelta(days=first - 1)
    return pages.where(F.col("warc_ts") > F.lit(start)).select(
        "url", "warc_ts", "value",
        (F.abs(F.xxhash64("url", "warc_ts")) % 5).cast("string").alias("visitor"),
    )


def _fresh(spark, tmp_path, pages, **kw) -> Catalog:
    """A warehouse built from ``pages`` in one run of the pipeline."""
    fresh = Catalog(spark, str(tmp_path / "fresh"))
    ingest_pages(fresh, pages, n_buckets=2)
    run_rollup_pipeline(spark, fresh, **kw)
    return fresh


# every family, with exact partial sums: double sums differ by ulps
# between any two summation orders
EVERY_FAMILY = dict(sum_cast=rollup.DEC, histogram_bin_width=0.5, distinct_key="visitor")


def test_rewritten_month_keeps_the_days_expired_from_its_input(spark, cat, tmp_path):
    """A day landed after its month's first days expired from the 30m
    tiers rewrites the month partition of each 1d tier from that day's
    30m rows and the partition's own rows, so no expired day is lost."""
    import pyspark.sql.functions as F

    kw = dict(EVERY_FAMILY, encode_blocks=False, now=datetime.datetime(2024, 1, 11),
              policy=RetentionPolicy(raw_keep_days=3, t30_keep_days=5))
    ingest_pages(cat, _days(spark, 1, 10), n_buckets=2)
    run_rollup_pipeline(spark, cat, **kw)
    ingest_pages(cat, _days(spark, 11, 1), n_buckets=2, mode="dynamic")
    run_rollup_pipeline(spark, cat, **kw)

    assert cat.read("agg_1d").count() == 4 * 11
    assert cat.read("hist_1d").agg(F.sum("cnt")).first()[0] == 4 * 48 * 11
    fresh = _fresh(spark, tmp_path, _days(spark, 1, 11), **kw)
    for t in ("agg_1d", "hist_1d", "dist_1d", "agg_1mo"):
        assert _tables_equal(cat.read(t), fresh.read(t)), t


def test_rewritten_block_keeps_the_days_expired_from_its_input(spark, cat, tmp_path):
    """A day landed into a 7-day block whose first day expired from
    agg_30m re-encodes the block from its own points and the new day's,
    so the cold tier, the expired day's only copy, keeps it."""
    kw = dict(now=datetime.datetime(2024, 1, 13), policy=RetentionPolicy(t30_keep_days=1))
    ingest_pages(cat, _days(spark, 1, 12), n_buckets=2)
    run_rollup_pipeline(spark, cat, **kw)
    # the block from 2024-01-11 holds days 11 to 17; day 11 is expired
    assert cat.list_partitions("agg_30m", "day_bucket")[0] == "2024-01-12"
    ingest_pages(cat, _days(spark, 13, 1), n_buckets=2, mode="dynamic")
    run_rollup_pipeline(spark, cat, **kw)

    assert codec.block_points(cat.read("blocks_30m")).count() == 4 * 48 * 13
    fresh = _fresh(spark, tmp_path, _days(spark, 1, 13), **kw)
    assert _tables_equal(cat.read("blocks_30m"), fresh.read("blocks_30m"))


def test_month_tier_keeps_the_months_expired_from_its_input(spark, cat, tmp_path):
    """agg_1mo is kept forever: a landed day rewrites only its month,
    not the months that already expired from agg_1d."""
    kw = dict(sum_cast=rollup.DEC, encode_blocks=False, now=datetime.datetime(2024, 4, 9),
              policy=RetentionPolicy(t1d_keep_months=1))
    ingest_pages(cat, _days(spark, 1, 99), n_buckets=2)
    run_rollup_pipeline(spark, cat, **kw)
    ingest_pages(cat, _days(spark, 100, 1), n_buckets=2, mode="dynamic")
    run_rollup_pipeline(spark, cat, **kw)

    months = cat.read("agg_1mo").select("bucket_ts").distinct().orderBy("bucket_ts")
    assert [r[0].month for r in months.collect()] == [2, 3, 4, 5]
    fresh = _fresh(spark, tmp_path, _days(spark, 1, 100), **kw)
    assert _tables_equal(cat.read("agg_1mo"), fresh.read("agg_1mo"))


def test_fully_expired_tier_takes_a_new_month(spark, cat, tmp_path):
    """A rewrite adds back a tier's own rows only from partitions its
    last snapshot still lists: a tier whose every partition expired
    (no data file left to read) takes the next month's rows."""
    kw = dict(sum_cast=rollup.DEC, encode_blocks=False, now=datetime.datetime(2024, 2, 1),
              policy=RetentionPolicy(t1d_keep_months=0))
    ingest_pages(cat, _days(spark, 1, 31), n_buckets=2)
    run_rollup_pipeline(spark, cat, **kw)
    assert cat.list_partitions("agg_1d", "month_bucket") == []
    ingest_pages(cat, _days(spark, 32, 1), n_buckets=2, mode="dynamic")
    assert "agg_1d" in run_rollup_pipeline(spark, cat, **kw).stages_run

    fresh = _fresh(spark, tmp_path, _days(spark, 1, 32), **kw)
    for t in ("agg_1d", "agg_1mo"):
        assert _tables_equal(cat.read(t), fresh.read(t)), t


def test_rewrite_leaves_an_expired_partition_unwritten(spark, cat):
    """A late rewrite of a day whose 1d month retention has expired
    leaves that month unwritten: agg_1d stays without it, and agg_1mo
    keeps the row it built from the whole month. The row is stale (one
    rewritten day's new min and max cannot be folded into it), but not
    truncated to the rewritten day."""
    import pyspark.sql.functions as F

    kw = dict(sum_cast=rollup.DEC, encode_blocks=False, now=datetime.datetime(2024, 2, 1),
              policy=RetentionPolicy(t1d_keep_months=0))
    ingest_pages(cat, _days(spark, 1, 31), n_buckets=2)
    run_rollup_pipeline(spark, cat, **kw)
    before = sorted(cat.read("agg_1mo").collect())
    assert sum(r["cnt_value"] for r in before) == 4 * 48 * 31

    day = _days(spark, 30, 1).withColumn("value", F.col("value") * 2)
    ingest_pages(cat, day, n_buckets=2, mode="dynamic")
    run_rollup_pipeline(spark, cat, **kw)

    assert cat.list_partitions("agg_1d", "month_bucket") == []
    assert sorted(cat.read("agg_1mo").collect()) == before


def _fingerprint(cat, table: str) -> tuple:
    """Order-free content fingerprint of a table: row count plus a sum
    and an xor of per-row hashes over every column."""
    import pyspark.sql.functions as F

    df = cat.read(table)
    h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
    return tuple(df.agg(F.count(F.lit(1)), F.sum(F.pmod(h, F.lit(2**31))), F.bit_xor(h)).first())


def test_history_equals_a_fresh_build(spark, cat, tmp_path, monkeypatch):
    """Fifteen days landed in steps across the Feb 1 2024 month and
    7-day block edge, a failed stage and its re-run, and a late rewrite
    of a retained day, with short horizons applied at every step: every
    tier ends equal to a fresh build of the same pages under the same
    policy and ``now``."""
    import pyspark.sql.functions as F

    from isp_trace_parser_spark.tiers import CASCADE

    policy = RetentionPolicy(raw_keep_days=2, t30_keep_days=3, t1d_keep_months=1)

    def run(day: int):
        """Run to the midnight after January day ``day``."""
        now = datetime.datetime(2024, 1, 1) + datetime.timedelta(days=day)
        return run_rollup_pipeline(spark, cat, policy=policy, now=now, **EVERY_FAMILY)

    def land(pages, day: int):
        ingest_pages(cat, pages, n_buckets=2, mode="dynamic")
        run(day)

    def broken(*a, **kw):
        raise RuntimeError("cascade failed")

    land(_days(spark, 22, 7), 28)
    land(_days(spark, 29, 2), 30)
    ingest_pages(cat, _days(spark, 31, 2), n_buckets=2, mode="dynamic")
    with monkeypatch.context() as m:
        m.setitem(CASCADE, "agg", broken)
        with pytest.raises(RuntimeError, match="cascade failed"):
            run(32)
    assert run(32).stages_run == ["agg_1d", "agg_1mo", "retention"]
    land(_days(spark, 33, 1), 33)
    # a late rewrite of Feb 1, still held by every table with a horizon
    rewrite = _days(spark, 32, 1).withColumn("value", F.col("value") * 2)
    land(rewrite, 33)
    land(_days(spark, 34, 3), 36)

    pages = _days(spark, 22, 10).unionByName(rewrite).unionByName(_days(spark, 33, 4))
    fresh = _fresh(spark, tmp_path, pages, policy=policy,
                   now=datetime.datetime(2024, 2, 6), **EVERY_FAMILY)
    assert [t.name for t in TIERS if _fingerprint(cat, t.name) != _fingerprint(fresh, t.name)] == []


@pytest.mark.parametrize("block_size", ["1 week", "2 days", "36 hours", "12 hours"])
def test_landed_day_reencodes_whole_blocks(spark, cat, block_size):
    """A day landed inside a block re-encodes every block overlapping it
    and commits the partitions of their start days, so blocks_30m stays
    readable and decodes to exactly the agg_30m points. A 36-hour block
    can start on the day before the landed day and another on the day
    itself; two 12-hour blocks start on the landed day."""
    import pyspark.sql.functions as F

    pages = synth.pages(spark, n_urls=3, n_slots=48 * 12)
    ingest_pages(cat, pages, n_buckets=2)
    run_rollup_pipeline(spark, cat, block_size=block_size)

    # 2024-01-13: mid-block for 7-day blocks (they start on 2024-01-11),
    # the second day of a 2-day block (2024-01-12 .. 2024-01-13)
    inc = synth.pages(spark, n_urls=3, n_slots=48).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 12 DAYS")
    )
    ingest_pages(cat, inc, n_buckets=2, mode="dynamic")
    res = run_rollup_pipeline(spark, cat, block_size=block_size)
    assert "blocks_30m" in res.stages_run

    points = codec.decode_blocks(cat.read("blocks_30m").drop("day_bucket"))
    want = cat.read("agg_30m").select(
        "series", F.col("bucket_ts").alias("ts"), F.col("avg_value").alias("value")
    )
    assert want.count() == 3 * 48 * 13
    assert _tables_equal(points, want)


def test_relanded_day_keeps_the_next_days_buckets(spark, cat, tmp_path):
    """A point in the first second after midnight lies in the next day's
    raw partition, as its 30m bucket does: re-landing a day as stored
    rewrites only that day's buckets, so the 30m tiers of the next day
    stay equal to a fresh build."""
    import pyspark.sql.functions as F

    pages = synth.pages(spark, n_urls=1, n_slots=48 * 3).select("url", "warc_ts", "value")
    point = pages.limit(1).select(
        "url",
        F.lit("2024-01-03 00:00:00.5").cast("timestamp_ntz").alias("warc_ts"),
        F.lit(0.25).alias("value"),
    )
    raw = pages.unionByName(point).withColumn("visitor", F.col("url"))
    kw = dict(encode_blocks=False, histogram_bin_width=0.5, distinct_key="visitor")
    ingest_pages(cat, raw, n_buckets=1)
    run_rollup_pipeline(spark, cat, **kw)

    day = cat.read("pages").where(F.col("day_bucket") == F.lit("2024-01-02").cast("date"))
    ingest_pages(cat, day.select(*raw.columns).localCheckpoint(), n_buckets=1, mode="dynamic")
    assert "agg_30m" in run_rollup_pipeline(spark, cat, **kw).stages_run

    fresh = Catalog(spark, str(tmp_path / "fresh"))
    ingest_pages(fresh, raw, n_buckets=1)
    run_rollup_pipeline(spark, fresh, **kw)
    assert cat.read("agg_30m").where(F.col("day_bucket") == "2024-01-03").count() == 48
    for t in ("agg_30m", "hist_30m", "dist_30m"):
        assert _tables_equal(cat.read(t), fresh.read(t)), t


def test_recorded_state_stops_at_the_last_stage_record(spark, cat, monkeypatch):
    """The input state a stage recorded is read back from the end of the
    log: the same answer as a full parse, without parsing the log."""
    from isp_trace_parser_spark.pipeline import _recorded_state

    cat.write(spark.range(4), "t")
    for i in range(12):
        cat.commit_snapshot("t", "write", lineage={"input_state": {"d": str(i)}})
        cat.commit_snapshot("t", "expire", lineage={})
    full = next(
        s["lineage"]["input_state"]
        for s in reversed(cat.snapshots("t"))
        if "input_state" in s["lineage"]
    )
    assert full == {"d": "11"}

    def no_full_parse(*a, **kw):
        raise AssertionError("snapshots() parses the whole log")

    monkeypatch.setattr(Catalog, "snapshots", no_full_parse)
    assert _recorded_state(cat, "t") == full
    assert _recorded_state(cat, "missing") == {}


def test_pipeline_jobs_join_the_callers_job_group(spark, cat, spark_jobs):
    """Stages run on pool threads, yet every job the pipeline launches
    carries the caller's job group."""
    pages = synth.pages(spark, n_urls=4, n_slots=48 * 4)
    ingest_pages(cat, pages, n_buckets=2)
    store = spark.sparkContext._jsc.sc().statusStore()

    def job_ids() -> set[int]:
        jobs = store.jobsList(None)  # a Scala Seq
        return {jobs.apply(i).jobId() for i in range(jobs.size())}

    before = job_ids()
    with spark_jobs() as jobs:
        run_rollup_pipeline(spark, cat, histogram_bin_width=0.5)
    launched = job_ids() - before
    assert launched
    assert jobs() == len(launched)


def test_failed_stage_keeps_independent_commits_and_resumes(spark, tmp_path, monkeypatch):
    """A stage that raises stops only its dependents: the other stages
    commit, the error reaches the caller, and a clean re-run builds only
    the failed stage and converges to a fresh build."""
    pages = synth.pages(spark, n_urls=4, n_slots=48 * 9, gap_pct=5)
    cat = Catalog(spark, str(tmp_path / "wh"))
    ingest_pages(cat, pages, n_buckets=2)

    def broken(*a, **kw):
        raise RuntimeError("encode failed")

    with monkeypatch.context() as m:
        m.setattr(codec, "encode_blocks", broken)
        with pytest.raises(RuntimeError, match="encode failed"):
            run_rollup_pipeline(spark, cat, histogram_bin_width=0.5)
    tables = ["agg_30m", "agg_1d", "agg_1mo", "hist_30m", "hist_1d"]
    assert [t for t in tables if cat.exists(t)] == tables
    assert not cat.exists("blocks_30m")

    res = run_rollup_pipeline(spark, cat, histogram_bin_width=0.5)
    assert res.stages_run == ["blocks_30m"]
    assert res.stages_skipped == ["agg_30m", "agg_1d", "hist_30m", "hist_1d", "agg_1mo"]

    fresh = Catalog(spark, str(tmp_path / "fresh"))
    ingest_pages(fresh, pages, n_buckets=2)
    run_rollup_pipeline(spark, fresh, histogram_bin_width=0.5)
    for t in tables + ["blocks_30m"]:
        assert _tables_equal(cat.read(t), fresh.read(t)), t


def _write_plans(monkeypatch) -> dict[str, str]:
    """The executed plan of each table's next write, by table name."""
    from pyspark.sql.readwriter import DataFrameWriter

    plans: dict[str, str] = {}
    orig = DataFrameWriter.parquet

    def parquet(self, path, *a, **kw):
        # the writer's target is a staging dir inside the table dir
        plans[os.path.basename(os.path.dirname(path))] = (
            self._df._jdf.queryExecution().executedPlan().toString()
        )
        return orig(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    return plans


def test_raw_tier_writes_pay_one_exchange(spark, cat, monkeypatch):
    """agg_30m and hist_30m shuffle once: the exchange that clusters the
    aggregation also distributes the partitioned write, and each day
    still holds at most one file per write salt."""
    from isp_trace_parser_spark.plans.partitioning import write_salt_buckets

    plans = _write_plans(monkeypatch)
    pages = synth.pages(spark, n_urls=16, n_slots=48 * 3)
    ingest_pages(cat, pages, n_buckets=2)
    run_rollup_pipeline(spark, cat, histogram_bin_width=0.5)

    for t in ("agg_30m", "hist_30m"):
        assert plans[t].count("Exchange") == 1, plans[t]
        parts = cat.last_snapshot(t)["partitions"]
        assert len(parts) == 3
        assert all(m["files"] <= write_salt_buckets(spark) for m in parts.values())


def test_blocks_write_pays_one_exchange(spark, cat, monkeypatch):
    """blocks_30m is keyed on its write's key as a raw tier is: the
    exchange that groups each block's points also distributes the
    partitioned write, which does not shuffle again."""
    plans = _write_plans(monkeypatch)
    shuffled: dict[str, bool] = {}
    orig = Catalog.write

    def write(self, df, name, *a, **kw):
        shuffled[name] = kw.get("repartition", True)
        return orig(self, df, name, *a, **kw)

    monkeypatch.setattr(Catalog, "write", write)
    ingest_pages(cat, synth.pages(spark, n_urls=16, n_slots=48 * 9), n_buckets=2)
    run_rollup_pipeline(spark, cat)

    assert shuffled["blocks_30m"] is False
    assert plans["blocks_30m"].count("Exchange") == 1, plans["blocks_30m"]
    assert codec.block_points(cat.read("blocks_30m")).count() == 16 * 48 * 9


def test_rewritten_month_tier_keeps_its_log(spark, cat):
    """agg_1mo is partitioned by month: a run that changes one month of
    its input rewrites that month's partition only, and the rewrite
    keeps the table's snapshot log."""
    import pyspark.sql.functions as F

    ingest_pages(cat, _days(spark, 1, 40), n_buckets=2)
    run_rollup_pipeline(spark, cat, encode_blocks=False)
    before = cat.last_snapshot("agg_1mo")["partitions"]
    # day 2024-01-01 lands again with other values
    day = _days(spark, 1, 1).withColumn("value", F.col("value") * 2)
    ingest_pages(cat, day, n_buckets=2, mode="dynamic")
    res = run_rollup_pipeline(spark, cat, encode_blocks=False)
    assert "agg_1mo" in res.stages_run
    assert len(cat.snapshots("agg_1mo")) == 2
    after = cat.last_snapshot("agg_1mo")["partitions"]
    assert sorted(after) == ["month_bucket=2024-01", "month_bucket=2024-02"]
    assert after["month_bucket=2024-02"] == before["month_bucket=2024-02"]
    assert after["month_bucket=2024-01"] != before["month_bucket=2024-01"]


def test_every_declared_tier_reaches_each_derived_surface(spark, cat):
    """The stage DAG, the retention targets and the kept-forever tiers
    all follow tiers.TIERS: a run with every family on builds each row
    in declaration order, the retention plan covers the raw table plus
    every row with a horizon, and the rows without one keep every
    partition under a zero-day, zero-month policy."""
    import pyspark.sql.functions as F

    from isp_trace_parser_spark.operators.retention import retention_plan
    from isp_trace_parser_spark.tiers import TIERS

    pages = synth.pages(spark, n_urls=3, n_slots=48 * 3).withColumn(
        "visitor", (F.abs(F.xxhash64("url", "warc_ts")) % 5).cast("string")
    )
    ingest_pages(cat, pages, n_buckets=2)
    res = run_rollup_pipeline(
        spark, cat, histogram_bin_width=0.5, distinct_key="visitor"
    )
    assert res.stages_run == [t.name for t in TIERS]

    now = datetime.datetime(2024, 2, 1)
    zero = RetentionPolicy(raw_keep_days=0, t30_keep_days=0, t1d_keep_months=0)
    plan = retention_plan(cat, zero, now)
    assert list(plan) == ["pages"] + [t.name for t in TIERS if t.horizon]
    assert all(plan.values())  # the zero policy expires every retained table

    forever = [t.name for t in TIERS if t.horizon is None]
    assert forever == ["agg_1mo", "blocks_30m"]
    before = {t: cat.read(t).count() for t in forever}
    res = run_rollup_pipeline(spark, cat, policy=zero, now=now,
                              histogram_bin_width=0.5, distinct_key="visitor")
    assert not set(forever) & set(res.metrics["retention"])
    assert {t: cat.read(t).count() for t in forever} == before
