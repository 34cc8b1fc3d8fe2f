"""Streaming 30m tier == batch 30m tier on the same rows."""

from __future__ import annotations

import pandas as pd
import pytest

from isp_trace_parser_spark import synth
from isp_trace_parser_spark.operators.rollup import DEC, rollup_raw
from isp_trace_parser_spark.streaming.rollup_stream import streaming_rollup_30m


@pytest.mark.parametrize("sum_cast", [None, DEC], ids=["double", "decimal"])
def test_stream_matches_batch(spark, tmp_path, sum_cast):
    """Every column of the streamed 30m tier equals the batch tier's,
    with double and with exact decimal partial sums."""
    pdf = synth.pages_pandas(n_urls=4, n_slots=48 * 2, gap_pct=10)[
        ["url", "warc_ts", "value"]
    ]
    src = str(tmp_path / "stream_src")
    spark.createDataFrame(pdf).repartition(4).write.parquet(src)

    batch = (
        rollup_raw(spark.read.parquet(src), sum_cast=sum_cast)
        .toPandas()
        .sort_values(["series", "bucket_ts"])
        .reset_index(drop=True)
    )

    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    agg = streaming_rollup_30m(stream, sum_cast=sum_cast)
    name = f"t30_stream_{'decimal' if sum_cast else 'double'}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.sql(f"select * from {name}")
        .toPandas()
        .sort_values(["series", "bucket_ts"])
        .reset_index(drop=True)
    )
    assert len(got) == len(batch) > 0
    pd.testing.assert_frame_equal(got, batch, check_exact=True)


@pytest.mark.parametrize("bin_width", [0, -1.0])
def test_streaming_histogram_rejects_non_positive_bin_width(spark, bin_width):
    from isp_trace_parser_spark.streaming.rollup_stream import streaming_histogram_30m

    stream = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="bin width"):
        streaming_histogram_30m(stream, "value", "timestamp", "value", bin_width=bin_width)


def test_streaming_exact_dedup_first_arrival_wins(spark, tmp_path):
    """Streamed dedup emits exactly one row per distinct text (the
    batch distinct-key count) and drops in-horizon re-crawls."""
    from isp_trace_parser_spark.streaming.dedup_stream import (
        streaming_exact_dedup,
    )

    ts = pd.date_range("2024-01-01", periods=12, freq="1min")
    pdf = pd.DataFrame(
        {
            "doc_id": range(12),
            "warc_ts": ts.astype("datetime64[us]"),
            # 4 distinct texts, each crawled 3 times inside the horizon
            "text": [f"doc body {i % 4}" for i in range(12)],
        }
    )
    src = str(tmp_path / "dedup_src")
    spark.createDataFrame(pdf).repartition(3).write.parquet(src)

    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    out = streaming_exact_dedup(stream, watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from dedup_stream").toPandas()
    assert len(got) == 4
    assert sorted(got["text"]) == sorted(f"doc body {i}" for i in range(4))
    # the streamed key columns must equal the batch operator's key
    from isp_trace_parser_spark.operators import dedup

    batch = dedup.exact_dedup(spark.read.parquet(src)).toPandas()
    assert set(got["content_hash"]) == set(batch["content_hash"])
    assert set(got["content_hash2"]) == set(batch["content_hash2"])


def test_streaming_sessionize_boundary_semantics(spark, tmp_path):
    """Native session windows: an event EXACTLY gap after the previous
    one MERGES into the same session (touching intervals merge — the
    same >-gap rule as the batch sessionizer), and the two-sentinel
    flush emits every real session before availableNow terminates."""
    import datetime
    import time

    from pyspark.sql import functions as F

    from isp_trace_parser_spark.streaming.sessionize_stream import (
        streaming_sessionize,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    t0 = pd.Timestamp("2024-01-01 00:00:00")
    rows = pd.DataFrame(
        {
            "user_id": [1, 1, 1, 2],
            "ts": [
                t0,
                t0 + pd.Timedelta(minutes=10),
                t0 + pd.Timedelta(minutes=40),  # exactly 30m after prev
                t0 + pd.Timedelta(minutes=5),
            ],
            "value": [1.0, 2.0, 4.0, 8.0],
        }
    )
    src = str(tmp_path / "sess_src")
    df = spark.createDataFrame(rows)
    df.coalesce(1).write.mode("overwrite").parquet(src)
    mx = rows["ts"].max().to_pydatetime()
    for i, d in enumerate((1, 2)):
        sent = spark.createDataFrame(
            [(-1 - i, mx + datetime.timedelta(days=d), 0.0)], df.schema
        )
        time.sleep(1.1)
        sent.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_sessionize(stream)
        .writeStream.format("memory")
        .queryName("sess_boundary")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("sess_boundary")
        .where("user_id >= 0")
        .toPandas()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )
    assert len(got) == 2  # exact-gap event merges: one session per user
    u1 = got[got["user_id"] == 1]
    assert list(u1["n_events"]) == [3]
    assert u1.iloc[0]["session_start"] == t0
    # session end = last event + gap (40min event merged in)
    assert u1.iloc[0]["session_end"] == t0 + pd.Timedelta(minutes=70)
    assert float(u1.iloc[0]["sum_value"]) == 7.0
    u2 = got[got["user_id"] == 2]
    assert list(u2["n_events"]) == [1]


def test_streaming_ingest_lands_through_catalog(spark, tmp_path):
    """foreachBatch ingest: streamed pages land via Catalog.write with
    per-epoch snapshot lineage; readback equals the source and a replayed
    epoch is skipped (idempotent restart)."""
    from isp_trace_parser_spark.sources.catalog import Catalog
    from isp_trace_parser_spark.streaming.ingest_stream import (
        streaming_ingest,
    )
    from isp_trace_parser_spark import synth

    src_dir = str(tmp_path / "src")
    pages = synth.pages(spark, n_urls=10, n_slots=96, gap_pct=0).select(
        "url", "warc_ts", "value"
    )
    pages.repartition(3).write.parquet(src_dir)

    cat = Catalog(spark, str(tmp_path / "wh"))
    stream = spark.readStream.schema(
        spark.read.parquet(src_dir).schema
    ).option("maxFilesPerTrigger", "1").parquet(src_dir)
    q = streaming_ingest(
        stream, cat, checkpoint_dir=str(tmp_path / "ck"),
        query_name="ingest_test",
    )
    q.awaitTermination(180)

    back = cat.read("pages")
    assert back.count() == pages.count()
    # one snapshot per non-empty micro-batch, each with an epoch id
    epochs = [
        s["lineage"]["epoch_id"]
        for s in cat.snapshots("pages")
        if s["lineage"].get("stage") == "streaming_ingest"
    ]
    assert len(epochs) >= 2 and len(set(epochs)) == len(epochs)
    # partition layout identical to batch ingest
    assert set(back.columns) >= {"url", "warc_ts", "value", "day_bucket",
                                 "url_bucket"}

    # replaying an already-committed epoch must be a no-op
    from isp_trace_parser_spark.streaming import ingest_stream

    before = cat.read("pages").count()
    batch0 = spark.read.parquet(src_dir)
    # simulate the restart replay foreachBatch would perform
    committed = ingest_stream._committed_epochs(
        cat, "pages", str(tmp_path / "ck")
    )
    replay_epoch = max(committed)
    if replay_epoch in committed:
        pass  # streaming_ingest's _land skips it; emulate via public path
    q2 = streaming_ingest(
        spark.readStream.schema(batch0.schema)
        .option("maxFilesPerTrigger", "1").parquet(src_dir),
        cat,
        checkpoint_dir=str(tmp_path / "ck"),  # SAME checkpoint: no new data
        query_name="ingest_test_replay",
    )
    q2.awaitTermination(120)
    assert cat.read("pages").count() == before


def test_streaming_ingest_new_checkpoint_does_not_skip_epochs(spark, tmp_path):
    """Epoch ids are per-checkpoint and restart at 0, so the idempotence
    check must be scoped to the checkpoint: a SECOND query (fresh
    checkpoint dir) landing into a table that already holds committed
    epochs must land its micro-batches, not skip them as 'already
    committed' (ADVICE r3, medium)."""
    from isp_trace_parser_spark.sources.catalog import Catalog
    from isp_trace_parser_spark.streaming.ingest_stream import (
        streaming_ingest,
    )
    from isp_trace_parser_spark import synth

    src_dir = str(tmp_path / "src")
    pages = synth.pages(spark, n_urls=4, n_slots=48, gap_pct=0).select(
        "url", "warc_ts", "value"
    )
    pages.repartition(2).write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema

    cat = Catalog(spark, str(tmp_path / "wh"))
    q1 = streaming_ingest(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src_dir),
        cat, checkpoint_dir=str(tmp_path / "ck1"),
    )
    q1.awaitTermination(120)
    n = pages.count()
    assert cat.read("pages").count() == n

    # a different stream (new checkpoint) over the same source: its
    # epochs also start at 0 but belong to a different scope, so they
    # MUST land (the table doubles — correct: this is new work, not a
    # replay of q1's)
    q2 = streaming_ingest(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src_dir),
        cat, checkpoint_dir=str(tmp_path / "ck2"),
    )
    q2.awaitTermination(120)
    assert cat.read("pages").count() == 2 * n


def test_epoch_scope_normalized_and_legacy_rows(tmp_path):
    """Textually different spellings of the same checkpoint dir must key
    the same committed-epoch set (trailing slash, ./ components,
    relative vs absolute), and pre-upgrade snapshots that recorded no
    epoch_scope still suppress replays — but only until any scoped
    commit exists, so a NEW checkpoint's epoch 0 is never swallowed by
    a legacy row (ADVICE r4, low)."""
    import os

    from isp_trace_parser_spark.streaming import ingest_stream

    ck = str(tmp_path / "ck")
    norm = ingest_stream._norm_scope
    assert norm(ck + "/") == norm(ck)
    assert norm(ck + "/./") == norm(ck)
    cwd = os.getcwd()
    try:
        os.chdir(tmp_path)
        assert norm("ck") == norm(ck)
    finally:
        os.chdir(cwd)
    # URI-style scopes: scheme preserved, trailing slash dropped
    assert norm("hdfs://nn/ck/") == "hdfs://nn/ck"

    class FakeCat:
        def __init__(self, lineages):
            self._l = lineages

        def snapshots(self, table):
            return [{"lineage": ln} for ln in self._l]

    # pre-upgrade table: all epoch rows unscoped -> they belong to the
    # single legacy checkpoint and a resume must skip them — reported
    # in the LEGACY set so the caller can warn loudly (ADVICE r5: the
    # new-checkpoint-over-pre-upgrade-table path silently drops epochs)
    legacy = FakeCat([{"epoch_id": 0}, {"epoch_id": 1}])
    assert ingest_stream._committed_epochs(legacy, "t", norm(ck)) == (
        set(), {0, 1})
    # once any scoped commit exists, unscoped rows are ignored
    mixed = FakeCat(
        [{"epoch_id": 0}, {"epoch_id": 1, "epoch_scope": norm(ck)}]
    )
    assert ingest_stream._committed_epochs(mixed, "t", norm(ck)) == (
        {1}, set())
    # and a differently-spelled recorded scope still matches
    spelled = FakeCat([{"epoch_id": 2, "epoch_scope": ck + "/"}])
    assert ingest_stream._committed_epochs(spelled, "t", norm(ck)) == (
        {2}, set())


def test_streaming_histogram_lands_and_serves_percentiles(spark, tmp_path):
    """Full live-dashboard loop: a stream maintains the 30m histogram
    tier, foreachBatch lands it into the catalog as hist_30m
    (day-partitioned, same layout the batch pipeline writes), and
    TierStore.percentile serves p95 from it — equal to the percentile
    rule applied to a direct batch histogram of the same rows."""
    from pyspark.sql import functions as F

    from isp_trace_parser_spark import synth
    from isp_trace_parser_spark.operators.rollup import (
        histogram_percentile,
        histogram_tier,
    )
    from isp_trace_parser_spark.serving import TierStore
    from isp_trace_parser_spark.sources.catalog import Catalog
    from isp_trace_parser_spark.streaming.rollup_stream import (
        streaming_histogram_30m,
    )

    src_dir = str(tmp_path / "src")
    pages = synth.pages(spark, n_urls=5, n_slots=48 * 2, gap_pct=0).select(
        "url", "warc_ts", "value"
    )
    pages.repartition(2).write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema

    cat = Catalog(spark, str(tmp_path / "wh"))
    agg = streaming_histogram_30m(
        spark.readStream.schema(schema).parquet(src_dir),
        bin_width=0.5,
    )

    def _land(batch_df, epoch_id):
        out = batch_df.withColumn(
            "day_bucket",
            F.to_date(F.col("bucket_ts") - F.expr("INTERVAL 1 SECOND")),
        )
        cat.write(
            out, "hist_30m",
            partition_by=["day_bucket"],
            sort_within=["series", "bucket_ts", "bin"],
            mode="append" if cat.exists("hist_30m") else "overwrite",
            lineage={"stage": "streaming_hist", "epoch_id": epoch_id},
        )

    q = (
        agg.writeStream.foreachBatch(_land)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # the landed bins are the batch tier's, count for count
    key = ["series", "bucket_ts", "bin"]
    landed = cat.read("hist_30m").drop("day_bucket").toPandas()
    direct = histogram_tier(pages, bin_width=0.5).toPandas()
    assert len(landed) == len(direct) > 0
    pd.testing.assert_frame_equal(
        landed.sort_values(key).reset_index(drop=True),
        direct.sort_values(key).reset_index(drop=True),
        check_exact=True,
    )

    got = (
        TierStore(cat)
        .percentile(0.95, resolution="1d", bin_width=0.5)
        .toPandas()
        .sort_values(["series", "bucket_ts"])
        .reset_index(drop=True)
    )
    want = (
        histogram_percentile(
            histogram_tier(pages, bucket_seconds=86400, bin_width=0.5),
            0.95, bin_width=0.5,
        )
        .toPandas()
        .sort_values(["series", "bucket_ts"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert (got["estimate"] == want["estimate"]).all()
