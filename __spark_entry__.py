"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises an operator family from SURVEY.md §2
(and the training-data-pipeline extensions) over the driver's testdata
tables; ``oracle_sql()`` holds the DuckDB-equivalent SQL. Float outputs
are rounded identically on both sides (sums: 2dp, everything else: 4dp)
so the value-hash compare is robust to summation-order differences
between engines. Column names/aliases match exactly.

Timestamp convention: engine-wide TIMESTAMP_NTZ (naive micros — the
reference's ``Datetime[us]``); ``_prep`` pins the session to UTC so
ntz<->ltz casts are wall-clock identity regardless of the driver's
session defaults. Oracle SQL builds bucket timestamps with DuckDB's
``make_timestamp(micros)`` (timezone-free) for the same reason.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from isp_trace_parser_spark.operators.rollup import (
    DEC,
    bucket_end,
    rollup_cascade,
    rollup_raw,
)
from isp_trace_parser_spark.plans.partitioning import day_bucket

SEC_30M = 1800
SEC_1D = 86400

# DuckDB end-of-interval bucket (exact integer micros math, tz-free)
def _bucket_sql(col: str, seconds: int) -> str:
    b = seconds * 1_000_000
    return f"make_timestamp(((epoch_us({col}) + {b - 1}) // {b}) * {b})"


def _q(col, scale: int):
    """Deterministic quantization used on BOTH engines: floor(x*10^n+0.5)
    / 10^n in plain IEEE double ops. Engine-native round() differs at
    representation boundaries (Spark rounds via exact BigDecimal, DuckDB
    via float multiply), so identical inputs can round differently;
    identical FP expressions cannot."""
    c = F.col(col) if isinstance(col, str) else col
    s = float(10**scale)
    return F.floor(c * s + F.lit(0.5)) / s


def _rewrite_rounds(sql: str) -> str:
    """Rewrite every round(expr, n) in oracle SQL into the same
    floor-based quantization as :func:`_q` (balanced-paren scan)."""
    out = []
    i = 0
    while True:
        j = sql.find("round(", i)
        if j < 0:
            out.append(sql[i:])
            break
        out.append(sql[i:j])
        k = j + len("round(")
        depth = 1
        while depth:
            depth += sql[k] == "("
            depth -= sql[k] == ")"
            k += 1
        inner = sql[j + 6 : k - 1]
        expr, _, n = inner.rpartition(",")
        scale = 10 ** int(n.strip())
        out.append(f"(floor(({expr}) * {scale}.0 + 0.5) / {scale}.0)")
        i = k
    return "".join(out)


def _prep(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _series_part(df: DataFrame, *cols) -> DataFrame:
    """Project the query's columns and hash-partition on the FIRST one
    (the series key) before a per-series groupBy/window chain.

    HashPartitioning(series) satisfies the clustered distribution of
    every downstream groupBy (series, bucket) AND per-series window, so
    the whole chain runs on ONE exchange; Spark also elides operators'
    own redundant ``repartition(series)``. Measured 2x on the
    high-cardinality (per-user) tier builds where map-side partial
    aggregation combines nothing (~1 row/group) and the extra exchange
    was pure cost — see OPTIMIZATION_r06.md. Results are bit-identical:
    grouping is exact and the tiers' decimal partial sums are
    summation-order independent. Not used for low-cardinality series
    (event_type) where map-side combine does the heavy lifting."""
    out = df.select(*cols)
    return out.repartition(F.col(out.columns[0]))


def _round_aggs(df: DataFrame) -> DataFrame:
    # engine tiers carry exact decimal sums (rollup.DEC); surface them as
    # rounded doubles so both engines hash identical values
    return df.select(
        "series",
        "bucket_ts",
        _q("avg_value", 4).alias("avg_value"),
        _q("min_value", 4).alias("min_value"),
        _q("max_value", 4).alias("max_value"),
        _q(F.col("sum_value").cast("double"), 2).alias("sum_value"),
        F.col("cnt_value"),
    )


# decimal partial sums (exact, order-independent) mirror rollup.DEC;
# avg derived as sum/count so both engines divide identical numbers
_AGG_SQL = """round(CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) / count(value), 4) AS avg_value,
       round(min(value), 4) AS min_value,
       round(max(value), 4) AS max_value,
       round(CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE), 2) AS sum_value,
       count(value) AS cnt_value"""


# ----------------------------------------------- shared warehouse fixtures
# The driver runs all contract rows in one process; per-row warehouse
# rebuilds made the 8 pipeline-lifecycle rows dominate its correctness
# budget (each built the same ingest + 3-tier cascade from scratch).
# Rows that only READ a fully-pipelined warehouse share one
# module-cached build per sf_dir; rows that MUTATE state clone it —
# a file copy is ~2 orders of magnitude cheaper than recomputing the
# cascade at sf0.01, and the clone exercises exactly the resume-from-
# checkpoint path the north rule demands (the pipeline rerun sees the
# clone's snapshots as its own prior run).
ENTRY_BUCKETS = 8  # url-bucket fan-out — layout-only, results identical

_FIXTURES: dict[tuple[str, str], str] = {}


def _event_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table in the north rule's pages shape
    (url, warc_ts, value)."""
    return _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("url"),
        F.col("ts").alias("warc_ts"),
        "value",
    )


def _pipelined_wh(spark: SparkSession, sf_dir: str) -> str:
    """One shared events-as-pages warehouse per (process, sf_dir):
    catalog ingest (day_bucket x url_bucket, sorted) + the full rollup
    pipeline — 30m/1d/1mo tiers with exact decimal partials and weekly
    Gorilla blocks. Read-only consumers use it in place; mutating rows
    go through :func:`_clone_pipelined`."""
    key = ("pipelined", sf_dir)
    if key not in _FIXTURES:
        import tempfile

        from isp_trace_parser_spark.pipeline import (
            ingest_pages,
            run_rollup_pipeline,
        )
        from isp_trace_parser_spark.sources.catalog import Catalog

        base = tempfile.mkdtemp(prefix="entry_wh_") + "/wh"
        cat = Catalog(spark, base)
        ingest_pages(
            cat, _event_pages(spark, sf_dir), n_buckets=ENTRY_BUCKETS
        )
        run_rollup_pipeline(
            spark, cat, sum_cast=DEC, block_size="7 days",
            histogram_bin_width=0.5,
        )
        _FIXTURES[key] = base
    return _FIXTURES[key]


def _distinct_wh(spark: SparkSession, sf_dir: str) -> str:
    """Small cardinality-tier warehouse per (process, sf_dir): events
    land as (url=event_type, warc_ts, value, visitor=user_id) and the
    pipeline maintains dist_30m/dist_1d HLL tiers over ``visitor``.
    Separate from _pipelined_wh so the shared fixture's raw schema (and
    every row pinned against it) stays untouched."""
    key = ("distinct", sf_dir)
    if key not in _FIXTURES:
        import tempfile

        from isp_trace_parser_spark.pipeline import (
            ingest_pages,
            run_rollup_pipeline,
        )
        from isp_trace_parser_spark.sources.catalog import Catalog

        base = tempfile.mkdtemp(prefix="entry_dwh_") + "/wh"
        cat = Catalog(spark, base)
        pages = _t(spark, sf_dir, "events").select(
            F.col("event_type").alias("url"),
            F.col("ts").alias("warc_ts"),
            "value",
            F.col("user_id").cast("string").alias("visitor"),
        )
        ingest_pages(cat, pages, n_buckets=4)
        run_rollup_pipeline(
            spark, cat, encode_blocks=False, distinct_key="visitor",
        )
        _FIXTURES[key] = base
    return _FIXTURES[key]


def _clone_pipelined(spark: SparkSession, sf_dir: str, prefix: str) -> str:
    """Private mutable copy of the pipelined warehouse (snapshot log
    and data files are all relative paths, so a copy IS a valid
    catalog)."""
    import shutil
    import tempfile

    dst = tempfile.mkdtemp(prefix=prefix) + "/wh"
    shutil.copytree(_pipelined_wh(spark, sf_dir), dst)
    return dst


# --------------------------------------------------------------- tiers
def q_rollup_30m(spark, sf_dir):
    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    return _round_aggs(rollup_raw(ev, "event_type", "ts", "value", SEC_30M, DEC))


def q_rollup_1d(spark, sf_dir):
    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    t30 = rollup_raw(ev, "event_type", "ts", "value", SEC_30M, DEC)
    return _round_aggs(rollup_cascade(t30, SEC_1D))


def q_rollup_1mo(spark, sf_dir):
    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    t30 = rollup_raw(ev, "event_type", "ts", "value", SEC_30M, DEC)
    t1d = rollup_cascade(t30, SEC_1D)
    return _round_aggs(rollup_cascade(t1d, None))


def q_mean_merge_union(spark, sf_dir):
    # U1 + A1: union of two traces of one entity, mean per timestamp
    # (reference trace_restructure_helper_functions.py:32-37)
    _prep(spark)
    from isp_trace_parser_spark.operators.rollup import mean_merge

    ev = _t(spark, sf_dir, "events").select(F.col("ts").alias("datetime"), "value")
    doubled = ev.select("datetime", (F.col("value") * 2).alias("value"))
    merged = mean_merge([ev, doubled], ts_col="datetime", value_col="value")
    return merged.select("datetime", _q("value", 4).alias("value"))


def q_two_phase_avg(spark, sf_dir):
    # skew-proof salted partial agg == plain agg (plans/partitioning.py)
    _prep(spark)
    from isp_trace_parser_spark.plans.partitioning import two_phase_avg

    ev = _t(spark, sf_dir, "events")
    out = two_phase_avg(ev, ["event_type"], "value", n_salts=8)
    return out.select(
        "event_type",
        _q("avg_value", 4).alias("avg_value"),
        F.col("cnt_value"),
    )


# ------------------------------------------------------------ query api
def q_window_fy(spark, sf_dir):
    # P2/P3/P4/O2: FY window (half-open), list filter -> auto column
    _prep(spark)
    from isp_trace_parser_spark import api

    ev = _t(spark, sf_dir, "events")
    out = api.query_single_reference_year(
        ev, 2024, 2024, None,
        filters={"event_type": ["click", "view"]},
        year_type="fy", ts_col="ts",
    )
    return out.select("ts", _q("value", 4).alias("value"), "event_type")


def q_window_calendar_scalar(spark, sf_dir):
    _prep(spark)
    from isp_trace_parser_spark import api

    ev = _t(spark, sf_dir, "events")
    out = api.query_single_reference_year(
        ev, 2024, 2024, None, filters={"event_type": "purchase"},
        year_type="calendar", ts_col="ts",
    )
    return out.select("ts", _q("value", 4).alias("value"))


def q_multi_window_union(spark, sf_dir):
    # U2: per-window sub-plans concatenated in mapping order
    _prep(spark)
    ev = _t(spark, sf_dir, "events").select(
        "ts", _q("value", 4).alias("value"), "event_type"
    )
    w1 = ev.where(
        (F.col("ts") > F.lit("2024-03-01 00:00:00")) & (F.col("ts") <= F.lit("2024-05-01 00:00:00"))
    )
    w2 = ev.where(
        (F.col("ts") > F.lit("2024-01-01 00:00:00")) & (F.col("ts") <= F.lit("2024-03-01 00:00:00"))
    )
    return w1.unionByName(w2)


# --------------------------------------------------------- restructure
def q_unpivot_lineitem(spark, sf_dir):
    # R1: wide -> long via stack(), no UDF
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "stack(4, 'quantity', l_quantity, 'extendedprice', l_extendedprice,"
            " 'discount', l_discount, 'tax', l_tax) as (measure, value)"
        ),
    ).select("l_orderkey", "l_linenumber", "measure", _q("value", 4).alias("value"))


def q_pivot_events_wide(spark, sf_dir):
    # R4: long -> wide pivot
    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(
            (F.sum(F.col("value").cast("decimal(20,4)")).cast("double") / F.count("value"))
        )
    )
    return wide.select(
        "user_id", *[_q(F.col(t), 4).alias(t) for t in types]
    )


def q_distinct_event_types(spark, sf_dir):
    # A2: DISTINCT partition-value enumeration
    _prep(spark)
    return _t(spark, sf_dir, "events").select("event_type").distinct()


# ---------------------------------------------------------------- joins
def q_region_revenue(spark, sf_dir):
    # J1: broadcast dim joins (dims are tiny -> broadcast hash join)
    _prep(spark)
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    j = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return j.groupBy(F.col("r_name").alias("region")).agg(
        _q(F.sum(F.col("o_totalprice").cast("decimal(20,4)")).cast("double"), 2).alias("revenue"),
        F.count("*").alias("n_orders"),
    )


def q_part_semi_join(spark, sf_dir):
    # J3: left-semi restriction to entities present in the fact table
    _prep(spark)
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").where(F.year("l_shipdate") == 2000)
    return p.join(li, p.p_partkey == li.l_partkey, "left_semi").select(
        "p_partkey", "p_name"
    )


def q_event_type_display(spark, sf_dir):
    # J4: tiny literal mapping as a map lookup (scenario rename analog,
    # reference demand_traces.py:137 + mappings/2024/demand.yaml)
    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    mapping = {
        "click": "Click Through", "view": "Page View", "purchase": "Purchase",
        "signup": "Sign Up", "error": "Error Event",
    }
    m = F.create_map(*[F.lit(x) for kv in mapping.items() for x in kv])
    return ev.groupBy(
        F.coalesce(m[F.col("event_type")], F.col("event_type")).alias("display_name")
    ).agg(F.count("*").alias("n"))


def q_tpch_q1(spark, sf_dir):
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _q(F.sum(F.col("l_quantity").cast("decimal(20,4)")).cast("double"), 2).alias("sum_qty"),
            _q(F.sum(F.col("l_extendedprice").cast("decimal(20,4)")).cast("double"), 2).alias("sum_base_price"),
            _q(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(20,6)")
                ).cast("double"),
                2,
            ).alias("sum_disc_price"),
            _q(
                F.sum(F.col("l_quantity").cast("decimal(20,4)")).cast("double") / F.count("*"), 4
            ).alias("avg_qty"),
            _q(
                F.sum(F.col("l_extendedprice").cast("decimal(20,4)")).cast("double") / F.count("*"), 4
            ).alias("avg_price"),
            _q(
                F.sum(F.col("l_discount").cast("decimal(20,4)")).cast("double") / F.count("*"), 4
            ).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# -------------------------------------------------------------- windows
def q_percentiles(spark, sf_dir):
    # exact interpolated percentiles (Spark percentile == DuckDB
    # quantile_cont, both type-R7 interpolation)
    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        _q(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        _q(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
        F.count("*").alias("n"),
    )


def q_rollup_grouping_sets(spark, sf_dir):
    # ROLLUP grouping sets over lineitem (subtotals + grand total)
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            _q(F.sum(F.col("l_quantity").cast("decimal(20,4)")).cast("double"), 2).alias("sum_qty"),
            F.count("*").alias("n"),
        )
    )


def q_lag_delta(spark, sf_dir):
    # §2.6: lag window (delta encoding preview)
    _prep(spark)
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        _q(F.col("value") - F.lag("value").over(w), 4).alias("delta"),
    )


def q_sessionize(spark, sf_dir):
    # session windows: a >30min silence starts a new session (lag +
    # cumulative sum — the standard JVM-side sessionization)
    _prep(spark)
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts").cast("timestamp_ltz")) - F.unix_micros(
        F.lag("ts").over(w).cast("timestamp_ltz")
    )
    new_sess = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    sess = ev.withColumn(
        "session_id", F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        _q(F.sum(F.col("value").cast("decimal(20,4)")).cast("double"), 2).alias("sum_value"),
    )


def q_gapfill_30m(spark, sf_dir):
    # densify + forward-fill (north_rule gap-fill)
    _prep(spark)
    from isp_trace_parser_spark.operators.gapfill import gap_fill

    ev = _t(spark, sf_dir, "events")
    t30 = _series_part(
        ev,
        F.col("user_id").alias("series"),
        bucket_end(F.col("ts"), SEC_30M).alias("bucket_ts"),
        F.col("value"),
    ).groupBy("series", "bucket_ts").agg(
        (F.sum(F.col("value").cast("decimal(20,4)")).cast("double") / F.count("value")).alias("value")
    )
    filled = gap_fill(t30, interval_seconds=SEC_30M)
    return filled.select(
        "series", "bucket_ts", _q("value", 4).alias("value"), "is_filled"
    )


def q_codec_roundtrip(spark, sf_dir):
    # Gorilla codec is lossless bit-exact: decode(encode(tier)) must equal
    # the tier, so the SQL oracle is the plain 30m rollup itself.
    _prep(spark)
    from isp_trace_parser_spark.operators import codec

    ev = _t(spark, sf_dir, "events")
    t30 = _series_part(
        ev,
        F.col("user_id").cast("string").alias("series"),
        bucket_end(F.col("ts"), SEC_30M).alias("bucket_ts"),
        F.col("value"),
    ).groupBy("series", "bucket_ts").agg(
        (F.sum(F.col("value").cast("decimal(20,4)")).cast("double") / F.count("value")).alias("avg_value")
    )
    # 30-day blocks: events are sparse per (user, day), so daily blocks
    # would be 1-2 points each — block span must match point density.
    blocks = codec.encode_blocks(t30, "series", "bucket_ts", "avg_value", block="30 days")
    out = codec.decode_blocks(blocks)
    return out.select(
        "series", F.col("ts").alias("bucket_ts"), _q("value", 4).alias("value")
    )


# ----------------------------------------------------------------- dedup
def q_asof_join(spark, sf_dir):
    # most recent purchase at-or-before each view, per user — composed
    # union+window as-of join (operators/asof.py); oracle is DuckDB's
    # native ASOF LEFT JOIN
    _prep(spark)
    from isp_trace_parser_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    views = ev.where("event_type = 'view'").select(
        F.col("user_id").alias("series"), "ts", F.col("value").alias("lv")
    )
    purchases = ev.where("event_type = 'purchase'").select(
        F.col("user_id").alias("series"), "ts", F.col("value").alias("pv")
    )
    out = asof_join(views, purchases, on="series", right_values=["pv"])
    return out.select(
        "series", "ts", _q("lv", 4).alias("lv"),
        F.col("ts_right"), _q("pv_right", 4).alias("pv_right"),
    )


def q_dedup_exact(spark, sf_dir):
    _prep(spark)
    from isp_trace_parser_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs).select("keep_id", "dup_count")


def q_jaccard_pairs(spark, sf_dir):
    _prep(spark)
    from isp_trace_parser_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    # df-cap = 80% of the corpus: exercises the skew guard (drops
    # corpus-wide tokens before the self-join; the synth vocabulary is
    # tiny and zipfian, so a harsher cap would empty the token sets)
    # with the oracle applying the identical rule
    out = ngram_jaccard_pairs(docs, threshold=0.6, max_doc_freq=400)
    return out.select("d1", "d2", _q("jaccard", 4).alias("jaccard"))


def q_minhash_lsh(spark, sf_dir):
    _prep(spark)
    from isp_trace_parser_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    out = minhash_lsh_pairs(docs, num_perm=128, bands=16, threshold=0.7)
    return out.select("d1", "d2", _q("est_jaccard", 4).alias("est_jaccard"))


def q_simhash(spark, sf_dir):
    _prep(spark)
    from isp_trace_parser_spark.operators.dedup import simhash

    docs = _t(spark, sf_dir, "documents")
    return simhash(docs)


# ------------------------------------------------------------ similarity
def _query_vec(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]


def q_cosine_topk(spark, sf_dir):
    _prep(spark)
    from isp_trace_parser_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    out = brute_force_topk(emb, _query_vec(spark, sf_dir), k=10)
    return out.select("vec_id", _q("cosine_sim", 4).alias("cosine_sim"))


def q_ann_lsh_topk(spark, sf_dir):
    _prep(spark)
    from isp_trace_parser_spark.operators.similarity import lsh_bucketed_topk

    emb = _t(spark, sf_dir, "embeddings")
    out = lsh_bucketed_topk(
        emb, _query_vec(spark, sf_dir), k=10, bits=6, multiprobe_hamming=2
    )
    return out.select("vec_id", _q("cosine_sim", 4).alias("cosine_sim"))


def q_ann_ivf_topk(spark, sf_dir):
    """IVF cell assignment + nprobe cell probing + exact cosine top-k
    inside the probed cells — the DISTRIBUTED parts of the IVF path —
    with fixed deterministic centroids (the embeddings of vec_id 0..7)
    so a DuckDB oracle can reproduce cell assignment and probing
    exactly. The kmeans-style training (train_centroids_sample) remains
    pytest-covered: its xxhash64-ordered sample + numpy Lloyd rounds are
    not engine-portable SQL, and ivf_topk takes centroids as a
    parameter by design."""
    _prep(spark)
    import numpy as np

    from isp_trace_parser_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    cents = np.array(
        emb.where("vec_id < 8").orderBy("vec_id").toPandas()["embedding"].tolist(),
        dtype=np.float64,
    )
    out = ivf_topk(emb, _query_vec(spark, sf_dir), cents, k=10, nprobe=3)
    return out.select("vec_id", _q("cosine_sim", 4).alias("cosine_sim"))


def q_embedding_near_dups(spark, sf_dir):
    _prep(spark)
    from isp_trace_parser_spark.operators.similarity import embedding_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    # default bits=8: same-bucket self-join carries ~n^2/256 candidate
    # pairs (bits=4 would be n^2/16 — a scale flaw, VERDICT r1)
    out = embedding_near_dup_pairs(emb, threshold=0.35, bits=8)
    return out.select("d1", "d2", _q("cosine_sim", 4).alias("cosine_sim"))


# ------------------------------------------------------------------ text
def q_text_stats(spark, sf_dir):
    _prep(spark)
    from isp_trace_parser_spark.functions import text as T

    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        T.whitespace_token_count(t).alias("n_tokens_ws"),
        T.bpe_ish_token_count(t).alias("n_tokens_bpe"),
        F.length(t).alias("n_chars_c"),
        _q(T.punct_ratio(t), 4).alias("punct_ratio"),
        _q(T.stopword_ratio(t), 4).alias("stopword_ratio"),
    )


def q_quality_score(spark, sf_dir):
    _prep(spark)
    from isp_trace_parser_spark.functions.text import quality_score

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", _q(quality_score(F.col("text")), 4).alias("quality"))


def q_lang_id(spark, sf_dir):
    _prep(spark)
    from isp_trace_parser_spark.functions.extract import language_id

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", language_id(F.col("text")).alias("lang_pred"))


def q_doc_fingerprints(spark, sf_dir):
    _prep(spark)
    from isp_trace_parser_spark.functions.text import polynomial_fingerprint

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", polynomial_fingerprint(F.col("text")).alias("fingerprint"))


# ------------------------------------------------------------ multimodal
def q_frame_sample_plan(spark, sf_dir):
    _prep(spark)
    from isp_trace_parser_spark.functions.multimodal import (
        frame_sample_plan,
        synth_media,
    )

    media = synth_media(spark, n=128)
    return frame_sample_plan(media, every_ms=1000)


def q_media_features(spark, sf_dir):
    _prep(spark)
    from isp_trace_parser_spark.functions.multimodal import (
        extract_features,
        synth_media,
    )

    media = synth_media(spark, n=128)
    out = extract_features(media)
    return out.select("media_id", "kind", "n_bytes", F.size("feature").alias("dim"))


# ----------------------------------------------- parse + sink (direct
# oracle rows for SURVEY §2 S1/S2/P5/P6/R2/R3/O1 and S5/S6/S7/O3 — the
# operators round 1 verified only via pytest)
_AEMO_FIXTURE_DIR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "tests", "fixtures", "aemo_csv"
)
_AEMO_LABELS = ",".join(f'"{i:02d}"' for i in range(1, 49))
_AEMO_MAPPING = {
    "REZ_N1_Solar": {"entity": "N1", "entity_type": "zone",
                     "resource_type": "solar", "parent": "NSW"},
    "SNOWSTH1": {"entity": "Snowtown S2", "entity_type": "project",
                 "resource_type": "wind", "parent": "S5"},
    "SNOWNTH1": {"entity": "Snowtown S2", "entity_type": "project",
                 "resource_type": "wind", "parent": "S5"},
}


def q_parse_csv_to_long(spark, sf_dir):
    """Whole parse pipeline vs a DuckDB read_csv oracle: recursive CSV
    discovery (S1), declared schema (S2), filename->metadata decode
    (P6), broadcast mapping join (J1), wide->long stack (R1/R2),
    timestamp assembly (R3), multi-file mean-merge (A1), sorted egress
    (O1). Two reference years in the fixture exercise P5-style metadata
    partitioning of the scan."""
    _prep(spark)
    from isp_trace_parser_spark.parse import parse_traces_df

    out = parse_traces_df(spark, _AEMO_FIXTURE_DIR, _AEMO_MAPPING)
    return out.select(
        "datetime", _q("value", 6).alias("value"), "entity", "entity_type",
        "resource_type", "parent", "reference_year",
    ).orderBy("entity", "reference_year", "datetime")


def q_partitioned_sink_roundtrip(spark, sf_dir):
    """Partitioned sorted sink + dynamic overwrite + retention expiry +
    readback (S5/S6/S7/O3) vs a pure SELECT oracle: what survives the
    write/overwrite/expire cycle must equal the source rows at/after the
    retention cutoff (3rd distinct day), bit-for-bit."""
    _prep(spark)
    import tempfile

    from isp_trace_parser_spark.sources.catalog import Catalog

    cat = Catalog(spark, tempfile.mkdtemp(prefix="sink_rt_"))
    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    cat.write(ev, "ev", partition_by=["day"], sort_within=["user_id", "ts"])
    days = sorted(cat.list_partitions("ev", "day"))
    # dynamic overwrite of the newest day (same rows) must leave every
    # other partition untouched
    cat.write(
        ev.where(F.col("day") == days[-1]), "ev",
        partition_by=["day"], sort_within=["user_id", "ts"], mode="dynamic",
    )
    cutoff = days[min(2, len(days) - 1)]
    cat.expire_partitions("ev", "day", [d for d in days if d < cutoff])
    back = cat.read("ev")
    return back.select(
        "user_id", "event_id", "ts", _q("value", 4).alias("value"), "day"
    )


_LEGACY_V1_DIR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "tests", "fixtures",
    "legacy_v1", "solar",
)


def q_legacy_v1_read(spark, sf_dir):
    """v1 parsed-tree migration reader vs a DuckDB filename-decode
    oracle: both Project/<entity>/ and the deeper Area/<zone>/<tech>/
    layouts (reference example_parsed_data), with capitalized
    Datetime/Value normalization and path-metadata columns."""
    _prep(spark)
    from isp_trace_parser_spark.sources.legacy_v1 import read_legacy_v1

    out = read_legacy_v1(spark, _LEGACY_V1_DIR)
    return out.select(
        "datetime", _q("value", 6).alias("value"), "entity", "entity_type",
        "resource_type", "reference_year",
    )


def q_streaming_rollup_30m(spark, sf_dir):
    """Structured-Streaming 30m tier vs the SAME DuckDB oracle as the
    batch tier: a watermarked streaming aggregation over the events
    table (availableNow trigger, memory sink) must produce the batch
    result exactly — decimal partial sums make the streamed
    accumulation order-independent, so even the value hash matches."""
    _prep(spark)
    import tempfile
    import uuid

    from isp_trace_parser_spark.streaming.rollup_stream import (
        streaming_rollup_30m,
    )

    # FileStreamSource needs a DIRECTORY source; events.parquet is a
    # single file, so stream the parent dir with a glob filter
    path = f"{sf_dir}/events.parquet"
    stream = (
        spark.readStream.schema(spark.read.parquet(path).schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    agg = streaming_rollup_30m(
        stream, series_col="event_type", ts_col="ts", sum_cast=DEC
    )
    qname = f"stream30m_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck30m_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return _round_aggs(spark.table(qname))


def q_streaming_histogram_30m(spark, sf_dir):
    """Streaming 30m HISTOGRAM tier (streaming/rollup_stream.py): the
    mergeable (series, bucket, bin) count sketch maintained by a
    watermarked streaming aggregation must equal the batch
    histogram_tier — counts are exact integers, so even the value hash
    matches the direct-histogram oracle. This is the live-crawl path
    that keeps TierStore.percentile dashboards current."""
    _prep(spark)
    import tempfile
    import uuid

    from isp_trace_parser_spark.streaming.rollup_stream import (
        streaming_histogram_30m,
    )

    path = f"{sf_dir}/events.parquet"
    stream = (
        spark.readStream.schema(spark.read.parquet(path).schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    agg = streaming_histogram_30m(
        stream, series_col="event_type", ts_col="ts", bin_width=0.5
    )
    qname = f"streamhist_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckhist_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(qname)


def q_dedup_clusters(spark, sf_dir):
    """Connected components (iterative min-label propagation with
    localCheckpoint lineage truncation) over the df-capped jaccard pair
    graph, vs a DuckDB WITH RECURSIVE transitive-closure oracle —
    cluster_id = min doc id reachable through near-dup edges."""
    _prep(spark)
    from isp_trace_parser_spark.operators.dedup import (
        dedup_clusters,
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.6, max_doc_freq=400)
    return dedup_clusters(pairs)


def q_parse_csv_filtered(spark, sf_dir):
    """P5 directly: the parse pipeline with a metadata pre-filter
    ({resource_type: wind}) — Catalyst folds the broadcast-joined dim
    predicate into the scan side; oracle applies the same WHERE."""
    _prep(spark)
    from isp_trace_parser_spark.parse import parse_traces_df

    out = parse_traces_df(
        spark, _AEMO_FIXTURE_DIR, _AEMO_MAPPING,
        filters={"resource_type": "wind"},
    )
    return out.select(
        "datetime", _q("value", 6).alias("value"), "entity", "entity_type",
        "resource_type", "parent", "reference_year",
    )


def q_topk_per_group(spark, sf_dir):
    """§2.7 depth: top-3 documents per predicted language by quality
    score — rank window over a derived grouping, deterministic
    tie-break on doc_id. The per-group window shuffles once on the
    group key; no global sort."""
    _prep(spark)
    from pyspark.sql import Window

    from isp_trace_parser_spark.functions.extract import language_id
    from isp_trace_parser_spark.functions.text import quality_score

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        language_id(F.col("text")).alias("lang_pred"),
        _q(quality_score(F.col("text")), 4).alias("quality"),
    )
    w = Window.partitionBy("lang_pred").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("lang_pred", "rk", "doc_id", "quality")
    )


def q_optimise_relayout(spark, sf_dir):
    """Storage re-layout (reference optimise_parquet.py:21-95) as one
    declarative write: events re-partitioned by event_type with rows
    ts-sorted inside each partition, then read back — the readback must
    equal the source exactly (relayout loses nothing, adds nothing)."""
    _prep(spark)
    import tempfile

    from isp_trace_parser_spark.operators.optimise import (
        partition_traces_by_columns,
    )

    out_dir = tempfile.mkdtemp(prefix="optim_") + "/events_by_type"
    partition_traces_by_columns(
        spark, f"{sf_dir}/events.parquet", out_dir,
        partition_cols=["event_type"], sort_by=["ts", "event_id"],
    )
    back = spark.read.option("basePath", out_dir).parquet(out_dir)
    return back.select(
        "user_id", "event_id", "ts", _q("value", 4).alias("value"),
        "event_type",
    )


def q_value_histogram(spark, sf_dir):
    """Exact equi-width histogram per event_type (integer bin math — no
    float boundary ambiguity): two-key groupBy, map-side partials."""
    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    bin_col = F.floor(F.col("value") / F.lit(10.0)).cast("int")
    return (
        ev.groupBy("event_type", bin_col.alias("bin"))
        .agg(F.count("*").alias("n"))
    )


def q_streaming_gapfill_30m(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState
    forward-fill) vs the SAME DuckDB oracle as the batch gap-fill: the
    streamed per-series grid emission must reproduce the batch
    densify+ffill exactly (state = last emitted slot + last value)."""
    _prep(spark)
    import tempfile
    import uuid

    from isp_trace_parser_spark.streaming.stateful_ffill import (
        stateful_gap_fill_stream,
    )

    ev = _t(spark, sf_dir, "events")
    # the stateful op keys state on a string series (url at scale);
    # cast the int user_id on BOTH sides (oracle mirrors with VARCHAR)
    t30 = ev.groupBy(
        F.col("user_id").cast("string").alias("series"),
        bucket_end(F.col("ts"), SEC_30M).alias("bucket_ts"),
    ).agg(
        (F.sum(F.col("value").cast("decimal(20,4)")).cast("double")
         / F.count("value")).alias("value")
    )
    src = tempfile.mkdtemp(prefix="ffill_src_")
    t30.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    qname = f"ffill_{uuid.uuid4().hex[:8]}"
    q = (
        stateful_gap_fill_stream(stream)
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckff_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(qname).select(
        "series", "bucket_ts", _q("value", 4).alias("value"), "is_filled"
    )


def q_asof_join_forward(spark, sf_dir):
    """Forward as-of: EARLIEST purchase at-or-after each view — the
    reversed-scan variant of the union+window plan; oracle is DuckDB's
    native ASOF LEFT JOIN with the <= comparison."""
    _prep(spark)
    from isp_trace_parser_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    views = ev.where("event_type = 'view'").select(
        F.col("user_id").alias("series"), "ts", F.col("value").alias("lv")
    )
    purchases = ev.where("event_type = 'purchase'").select(
        F.col("user_id").alias("series"), "ts", F.col("value").alias("pv")
    )
    out = asof_join(
        views, purchases, on="series", right_values=["pv"],
        direction="forward",
    )
    return out.select(
        "series", "ts", _q("lv", 4).alias("lv"),
        F.col("ts_right"), _q("pv_right", 4).alias("pv_right"),
    )


def q_asof_join_nearest(spark, sf_dir):
    """Nearest as-of: min(|gap|) of the backward/forward matches, tie ->
    backward — composed from both directional passes on one shared
    exchange; oracle is two DuckDB ASOF joins recombined with the same
    row_number pairing and least-absolute-delta CASE."""
    _prep(spark)
    from isp_trace_parser_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    views = ev.where("event_type = 'view'").select(
        F.col("user_id").alias("series"), "ts", F.col("value").alias("lv")
    )
    purchases = ev.where("event_type = 'purchase'").select(
        F.col("user_id").alias("series"), "ts", F.col("value").alias("pv")
    )
    out = asof_join(
        views, purchases, on="series", right_values=["pv"],
        direction="nearest",
    )
    return out.select(
        "series", "ts", _q("lv", 4).alias("lv"),
        F.col("ts_right"), _q("pv_right", 4).alias("pv_right"),
    )


_DEMAND_FIXTURE_DIR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "tests", "fixtures",
    "demand_csv",
)
# RE2 form of parse_demand._DEMAND_RE for the DuckDB oracle
# (interpolated as a VALUE, so braces stay literal)
_DEMAND_RE_SQL = (
    r"^([A-Z0-9]+)_RefYear_(\d{4})_([A-Z_]+?)_(POE\d+)_"
    r"(OPSO_MODELLING(?:_PVLITE)?|PV_TOT)\.csv$"
)


def _demand_parse_sql(fixture_dir: str) -> str:
    """DuckDB oracle for the demand parse pipeline over any fixture
    dir: filename decode (same regex), scenario display rename,
    wide->long unpivot, half-hour label -> datetime."""
    return rf"""
            WITH raw AS (
              SELECT *, parse_filename(filename) AS fname
              FROM read_csv('{fixture_dir}/*.csv', header=true,
                            filename=true)
            ),
            dec AS (
              SELECT *,
                regexp_extract(fname, '{_DEMAND_RE_SQL}', 1) AS subregion,
                CAST(regexp_extract(fname, '{_DEMAND_RE_SQL}', 2) AS INTEGER)
                  AS reference_year,
                regexp_extract(fname, '{_DEMAND_RE_SQL}', 3) AS scenario_raw,
                regexp_extract(fname, '{_DEMAND_RE_SQL}', 4) AS poe,
                regexp_extract(fname, '{_DEMAND_RE_SQL}', 5) AS demand_type
              FROM raw
            ),
            disp(scenario_raw, scenario) AS (VALUES
              ('STEP_CHANGE', 'Step Change'),
              ('PROGRESSIVE_CHANGE', 'Progressive Change'),
              ('HYDROGEN_EXPORT', 'Green Energy Exports')),
            j AS (SELECT dec.*, disp.scenario FROM dec
                  JOIN disp USING (scenario_raw)),
            up AS (
              SELECT Year, Month, Day, subregion, reference_year, scenario,
                     poe, demand_type, label, value
              FROM j UNPIVOT (value FOR label IN ({_AEMO_LABELS}))
            )
            SELECT make_timestamp(Year, Month, Day, 0, 0, 0)
                     + to_minutes(30 * CAST(label AS INTEGER)) AS datetime,
                   round(value, 6) AS value, subregion, reference_year,
                   scenario, poe, demand_type
            FROM up"""


def _demand_cross_dir() -> str:
    """Deterministic fixture covering the FULL demand vocabulary: one
    CSV per (subregion x scenario x poe x demand_type) of the bundled
    2024 mapping — the exact cross the reference expands in
    demand_trace_metadata.py:30-53 (_expand_lookup) — each with one
    day of 48 half-hourly values derived from the config index (no
    RNG: both engines read the same bytes)."""
    key = ("demand_cross", "")
    if key not in _FIXTURES:
        import tempfile

        from isp_trace_parser_spark.mappings import _bundle

        b = _bundle("2024")
        subs = sorted(b["topography"]["subregions"])
        dv = b["demand"]
        d = tempfile.mkdtemp(prefix="demand_cross_")
        hdr = "Year,Month,Day," + ",".join(
            f"{c:02d}" for c in range(1, 49)
        )
        i = 0
        for sub in subs:
            for scen in sorted(dv["scenarios"]):
                for poe in dv["poe_levels"]:
                    for dt in dv["demand_types"]:
                        i += 1
                        vals = ",".join(
                            f"{((i * 7 + c * 13) % 997) / 997:.6f}"
                            for c in range(48)
                        )
                        fn = f"{sub}_RefYear_2011_{scen}_{poe}_{dt}.csv"
                        with open(os.path.join(d, fn), "w") as fh:
                            fh.write(f"{hdr}\n2011,6,29,{vals}\n")
        _FIXTURES[key] = d
    return _FIXTURES[key]


def _lsh_bucket_sql(bits: int, vec_expr: str = "embedding::DOUBLE[]") -> str:
    """Random-hyperplane bucket id as DuckDB SQL with the seeded plane
    constants inlined (deterministic: numpy default_rng(42), dim 64 —
    same planes the Spark operator builds)."""
    from isp_trace_parser_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(64, bits, 42)
    return " + ".join(
        "(CASE WHEN list_dot_product({}, [{}]) > 0 "
        "THEN {} ELSE 0 END)".format(
            vec_expr, ", ".join(repr(float(x)) for x in plane), 1 << i
        )
        for i, plane in enumerate(planes)
    )


def _near_dup_oracle_sql() -> str:
    bucket = _lsh_bucket_sql(8)
    return f"""
        WITH b AS (SELECT vec_id, embedding, {bucket} AS bkt
                   FROM embeddings)
        SELECT x.vec_id AS d1, y.vec_id AS d2,
               round(list_cosine_similarity(x.embedding::DOUBLE[],
                                            y.embedding::DOUBLE[]), 4)
                 AS cosine_sim
        FROM b x JOIN b y ON x.bkt = y.bkt AND x.vec_id < y.vec_id
        WHERE list_cosine_similarity(x.embedding::DOUBLE[],
                                     y.embedding::DOUBLE[]) >= 0.35"""


def _ann_lsh_oracle_sql() -> str:
    """ann_lsh_topk: qbucket and the hamming<=2 multiprobe set are
    reproduced in SQL (probing qbucket plus every 1- and 2-bit flip ==
    all buckets within hamming 2), then exact cosine top-k inside the
    probed candidates — same plan the Spark operator runs."""
    return f"""
        WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings
                   WHERE vec_id = 0),
        qb AS (SELECT {_lsh_bucket_sql(6, 'qe')} AS qbkt FROM q),
        b AS (SELECT vec_id, embedding, {_lsh_bucket_sql(6)} AS bkt
              FROM embeddings),
        cand AS (SELECT b.vec_id, b.embedding FROM b, qb
                 WHERE bit_count(xor(b.bkt, qb.qbkt)) <= 2)
        SELECT vec_id,
               round(list_cosine_similarity(embedding::DOUBLE[], qe), 4)
                 AS cosine_sim
        FROM cand, q
        ORDER BY list_cosine_similarity(embedding::DOUBLE[], qe) DESC,
                 vec_id ASC
        LIMIT 10"""


def _simhash_oracle_sql() -> str:
    """simhash: per-token hash = first 15 hex digits of md5 (60 bits,
    same as the operator since round 3); 60 SUM-CASE bit votes + sign
    reassembly. Bits 60-63 are structurally zero on both engines."""
    votes = ",\n                   ".join(
        f"sum(CASE WHEN (th >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(60)
    )
    fp = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(60)
    )
    return f"""
        WITH toks AS (
          SELECT doc_id,
                 unnest(string_split_regex(lower(text), '\\s+')) AS tok
          FROM documents
        ),
        h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS th
              FROM toks WHERE tok <> ''),
        v AS (SELECT doc_id, {votes}
              FROM h GROUP BY doc_id)
        SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM v"""


def _minhash_oracle_sql() -> str:
    """minhash_lsh_pairs: the signature math is portable arithmetic —
    byte-packed 3-byte shingles (corpus is ASCII, so unicode(char) ==
    utf-8 byte; asserted upstream by the operator's numpy path being
    byte-based), 128 universal hashes (a*h+b) mod 2^64 mod (2^61-1)
    with the seeded a/b constants inlined, min per doc. Candidates join
    on band-slice EQUALITY (16 bands x 8 rows) — equivalent to the
    operator's xxhash64 bucket equi-join modulo astronomically-rare
    bucket collisions — then estimated Jaccard = matching positions /
    128 with the same >= 0.7 cut."""
    from isp_trace_parser_spark.operators.dedup import _minhash_params

    a, b, p = _minhash_params(128, 42)
    wrap = 1 << 64
    sig_cols = ",\n                ".join(
        f"CAST(min((({int(a[i])}::HUGEINT * h + {int(b[i])}) % {wrap})"
        f" % {p}) AS BIGINT) AS s{i}"
        for i in range(128)
    )
    bands = "\n             OR ".join(
        "(" + " AND ".join(f"x.s{bd * 8 + r} = y.s{bd * 8 + r}" for r in range(8)) + ")"
        for bd in range(16)
    )
    # chunked into 16 parenthesized sub-sums: a flat 128-term '+' chain
    # left-associates 128 levels deep and trips DuckDB's binder
    # recursion limit
    matches = " + ".join(
        "("
        + " + ".join(
            f"(CASE WHEN x.s{i} = y.s{i} THEN 1 ELSE 0 END)"
            for i in range(c * 8, c * 8 + 8)
        )
        + ")"
        for c in range(16)
    )
    return f"""
        WITH sh AS (
          SELECT DISTINCT doc_id,
                 65536 * unicode(substring(text, CAST(i AS INTEGER), 1))
                 + 256 * unicode(substring(text, CAST(i AS INTEGER) + 1, 1))
                 + unicode(substring(text, CAST(i AS INTEGER) + 2, 1)) AS h
          FROM (SELECT doc_id, text, unnest(range(1, length(text) - 1)) AS i
                FROM documents)
        ),
        sig AS (SELECT doc_id,
                {sig_cols}
                FROM sh GROUP BY doc_id),
        est AS (
          SELECT x.doc_id AS d1, y.doc_id AS d2,
                 ({matches}) / 128.0 AS ej
          FROM sig x JOIN sig y ON x.doc_id < y.doc_id
          WHERE {bands}
        )
        SELECT d1, d2, round(ej, 4) AS est_jaccard
        FROM est WHERE ej >= 0.7"""


def q_parse_demand_csv(spark, sf_dir):
    """J2 end-to-end: the demand parse pipeline (composite filename
    decode, scenario display rename, wide->long restructure) vs a DuckDB
    read_csv oracle — closes the last §2 operator verified only by
    pytest (VERDICT r2 #9)."""
    _prep(spark)
    from isp_trace_parser_spark.parse_demand import parse_demand_df

    out = parse_demand_df(
        spark, _DEMAND_FIXTURE_DIR, subregions=["CNSW", "VIC"]
    )
    return out.select(
        "datetime", _q("value", 6).alias("value"), "subregion",
        "reference_year", "scenario", "poe", "demand_type",
    )


def q_gap_report(spark, sf_dir):
    """Per-series missing-stretch inventory over the 30m grid (the
    operational complement of gap-fill: where to backfill, retention
    auditing). One lag window + filter — cost O(present rows), not
    O(grid); no spine, no join. Oracle mirrors the lag arithmetic."""
    _prep(spark)
    from isp_trace_parser_spark.operators.timeseries import gap_report

    ev = _t(spark, sf_dir, "events")
    t30 = _series_part(
        ev,
        F.col("user_id").alias("series"),
        bucket_end(F.col("ts"), SEC_30M).alias("bucket_ts"),
    ).groupBy("series", "bucket_ts").agg(F.count(F.lit(1)).alias("n"))
    return gap_report(t30, "series", "bucket_ts", SEC_30M)


def q_crawl_schedule(spark, sf_dir):
    """Politeness-aware fetch plan over the documents frontier: sticky
    domain->worker assignment (portable md5 hash) + per-domain fetch
    spacing from one row_number window on the domain key. The plan the
    fetch tier executes at crawl scale; deterministic, so the oracle
    recomputes it exactly."""
    _prep(spark)
    import datetime

    from isp_trace_parser_spark.functions.web import crawl_schedule

    docs = _t(spark, sf_dir, "documents")
    return crawl_schedule(
        docs,
        "source",
        "doc_id",
        start=datetime.datetime(2024, 2, 1),
        delay_seconds=5,
        n_workers=16,
    )


def q_ewma(spark, sf_dir):
    """EWMA smoothing of the 30m tier — the inherently-sequential
    per-series recurrence no window frame expresses, run through the
    engine's documented escape hatch (mapInPandas over series-sorted
    partitions with cross-batch state carry; operators/timeseries.ewma).
    This row runs the opt-in ``exact_shape=True`` oracle-parity path:
    the float recurrence shape (0.1*x + 0.9*s) is literal-identical to
    the oracle's recursive CTE, and the tier values feeding it are
    bit-identical (exact decimal partials), so smoothed doubles match
    bit-for-bit. Production default is the vectorized pandas-C ewm path
    (operators/timeseries.ewma docstring)."""
    _prep(spark)
    from isp_trace_parser_spark.operators.timeseries import ewma

    ev = _t(spark, sf_dir, "events")
    t30 = _series_part(
        ev,
        F.col("user_id").alias("series"),
        bucket_end(F.col("ts"), SEC_30M).alias("bucket_ts"),
        F.col("value"),
    ).groupBy("series", "bucket_ts").agg(
        (
            F.sum(F.col("value").cast("decimal(20,4)")).cast("double")
            / F.count("value")
        ).alias("value")
    )
    out = ewma(t30, "series", "bucket_ts", "value", "bucket_ts",
               alpha=0.1, exact_shape=True)
    return out.select(
        "series", "bucket_ts", _q("value", 4).alias("value"),
        _q("ewma", 4).alias("ewma"),
    )


def q_histogram_rollup(spark, sf_dir):
    """Mergeable histogram cascade: build the 30m per-series histogram
    tier, SUM it up to 1d (histogram_cascade), and the result must
    equal a direct 1d histogram of raw events — the continuous-
    aggregate invariant for distribution sketches (counts are exact and
    order-independent, so tier merging loses nothing). The oracle IS
    the direct build."""
    _prep(spark)
    from isp_trace_parser_spark.operators.rollup import (
        histogram_cascade,
        histogram_tier,
    )

    ev = _series_part(
        _t(spark, sf_dir, "events"),
        F.col("user_id").alias("url"), F.col("ts").alias("warc_ts"),
        F.col("value"),
    )
    t30 = histogram_tier(ev, bucket_seconds=SEC_30M, bin_width=0.5)
    return histogram_cascade(t30, SEC_1D)


def q_histogram_p95(spark, sf_dir):
    """p95 per (series, day) served FROM the histogram tier (the
    cascaded 1d bins) — never raw rows: smallest bin whose cumulative
    count reaches ceil(0.95 * total), midpoint estimate. Exact integer
    window math; single-exchange plan (window clustering reused by the
    final groupBy). Oracle mirrors the cumulative rule on a direct 1d
    histogram."""
    _prep(spark)
    from isp_trace_parser_spark.operators.rollup import (
        histogram_cascade,
        histogram_percentile,
        histogram_tier,
    )

    ev = _series_part(
        _t(spark, sf_dir, "events"),
        F.col("user_id").alias("url"), F.col("ts").alias("warc_ts"),
        F.col("value"),
    )
    t30 = histogram_tier(ev, bucket_seconds=SEC_30M, bin_width=0.5)
    t1d = histogram_cascade(t30, SEC_1D)
    return histogram_percentile(t1d, 0.95, bin_width=0.5)


def q_parse_demand_cross(spark, sf_dir):
    """J2 over the FULL demand vocabulary: all 198 combinations of
    (11 subregions x 3 scenarios x 2 POE levels x 3 demand types) from
    the bundled 2024 mapping — the exact cross the reference expands in
    demand_trace_metadata.py:30-53 — parsed in ONE scan: composite
    filename decode, scenario display rename, listing validation, and
    wide->long restructure over every vocabulary cell (VERDICT r3 #8:
    the original row covered a 2-subregion grid)."""
    _prep(spark)
    from isp_trace_parser_spark.mappings import _bundle
    from isp_trace_parser_spark.parse_demand import parse_demand_df

    subs = sorted(_bundle("2024")["topography"]["subregions"])
    out = parse_demand_df(spark, _demand_cross_dir(), subregions=subs)
    return out.select(
        "datetime", _q("value", 6).alias("value"), "subregion",
        "reference_year", "scenario", "poe", "demand_type",
    )


def q_api_projection_policy(spark, sf_dir):
    """S9/P2 edge: query_single_reference_year with select_columns=None
    and a mixed filter (multi-value + scalar) — the AUTO projection
    policy (reference get_data.py:92-104) must yield exactly
    [ts, value, <multi-valued filter cols>]; the result is returned
    without re-selecting, so the driver's schema compare pins the
    policy itself (VERDICT r2 #10)."""
    _prep(spark)
    from isp_trace_parser_spark import api

    ev = _t(spark, sf_dir, "events")
    out = api.query_single_reference_year(
        ev, 2024, 2024, None,
        filters={"event_type": ["click", "view", "purchase"], "user_id": 7},
        year_type="fy", ts_col="ts",
    )
    # round in place — the column SET is the policy's output
    return out.withColumn("value", _q("value", 4))


def q_json_props_rollup(spark, sf_dir):
    """WARC-style JSON metadata extraction: from_json parses the props
    column ONCE into a typed struct (whole-stage codegen — no per-field
    re-parse, no Python), then a per-type rollup of the extracted
    field. The standard crawl-annotation pattern at 100 TB."""
    _prep(spark)
    from isp_trace_parser_spark.functions.extract import json_metadata

    ev = _t(spark, sf_dir, "events")
    k = json_metadata(F.col("props"), "k INT")["k"]
    return ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.sum("k").alias("sum_k"),
        _q(F.avg("k"), 4).alias("avg_k"),
        F.count("k").alias("n_k"),
    )


def q_source_quality_report(spark, sf_dir):
    """Per-source corpus profile (the per-domain quality report every
    crawl pipeline runs before sampling): doc counts, mean quality,
    token totals, size extremes — one map-side-combined groupBy.
    Per-doc quality is quantized to 4dp BEFORE the mean on both engines
    so the averaged values are bit-identical inputs."""
    _prep(spark)
    from isp_trace_parser_spark.functions.text import (
        quality_score,
        whitespace_token_count,
    )

    docs = _t(spark, sf_dir, "documents")
    per = docs.select(
        "source",
        "n_chars",
        _q(quality_score(F.col("text")), 4).alias("q"),
        whitespace_token_count(F.col("text")).alias("nt"),
    )
    return per.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        _q(F.avg("q"), 4).alias("avg_quality"),
        F.sum("nt").alias("total_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


def q_streaming_sessionize(spark, sf_dir):
    """Native session-window streaming aggregation (engine-managed
    state + watermark eviction) vs a DuckDB lag/cumsum oracle with the
    same >=-gap semantics. Append-mode flush on a finite source: two
    far-future SENTINEL rows arrive as later microbatches
    (maxFilesPerTrigger=1), advancing the watermark past every real
    session so all of them emit before availableNow terminates; the
    sentinel users are filtered from the result."""
    _prep(spark)
    import datetime
    import tempfile
    import time
    import uuid

    from isp_trace_parser_spark.streaming.sessionize_stream import (
        streaming_sessionize,
    )

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    max_ts = ev.agg(F.max("ts")).first()[0]
    src = tempfile.mkdtemp(prefix="sess_src_")
    # ONE file => all real events land in microbatch 1, before any
    # watermark exists. A multi-file write + maxFilesPerTrigger=1 would
    # let batch 1's hash-shard (spanning the full time range) advance
    # the watermark and silently late-drop the remaining shards.
    ev.coalesce(1).write.mode("overwrite").parquet(src)
    for i, d in enumerate((1, 2)):
        sent = spark.createDataFrame(
            [(-1 - i, max_ts + datetime.timedelta(days=d), 0.0)], ev.schema
        )
        time.sleep(1.1)  # later mtime => later microbatch
        sent.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    qname = f"sess_{uuid.uuid4().hex[:8]}"
    # stateful micro-batches pay per-state-store overhead x shuffle
    # partitions x batches; at this row's data size 8 stores suffice
    # (the operator itself takes the session default — this is a
    # harness-scale knob, restored after the query drains)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            streaming_sessionize(stream)
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="cksess_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.table(qname).where("user_id >= 0").select(
        "user_id", "session_start", "session_end", "n_events",
        _q(F.col("sum_value").cast("double"), 2).alias("sum_value"),
    )


def q_interval_join_windows(spark, sf_dir):
    """Range/interval join at scale: views matched into the +-15min
    window around each same-user purchase. A naive theta-join plans as
    BroadcastNestedLoopJoin (O(n*m)); interval_join buckets time,
    explodes intervals to covered cells and equi-joins on (key, cell) —
    a co-partitioned shuffle join (plan pinned by
    tests/test_interval_join.py). Oracle is the naive BETWEEN join."""
    _prep(spark)
    from isp_trace_parser_spark.operators.interval import interval_join

    ev = _t(spark, sf_dir, "events")
    views = ev.where("event_type = 'view'").select(
        F.col("user_id").alias("series"), "ts", F.col("value").alias("lv")
    )
    windows = ev.where("event_type = 'purchase'").select(
        F.col("user_id").alias("series"),
        (F.col("ts") - F.expr("INTERVAL 15 MINUTES")).alias("start"),
        (F.col("ts") + F.expr("INTERVAL 15 MINUTES")).alias("end"),
        F.col("ts").alias("purchase_ts"),
    )
    out = interval_join(views, windows, bucket_seconds=900)
    return out.select(
        "series", "ts", _q("lv", 4).alias("lv"), "purchase_ts"
    )


def q_rolling_mean_1h(spark, sf_dir):
    """Trailing time-RANGE window (the ops-dashboard moving average):
    per-user mean/count over [ts - 1h, ts], a rangeBetween frame on
    event-time micros — one shuffle on the partition key, linear frame
    scan per partition (no self-join). Oracle is DuckDB's RANGE BETWEEN
    INTERVAL frame; both engines include frame peers and the exact
    t-1h boundary row."""
    _prep(spark)
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp_ltz")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "user_id",
        "ts",
        _q(F.avg("value").over(w), 4).alias("rolling_avg_1h"),
        F.count("*").over(w).alias("n_in_window"),
    )


def q_tier_serving_2h(spark, sf_dir):
    """Continuous-aggregate SELECT path end-to-end: land events through
    the real catalog pipeline (ingest -> 30m/1d/1mo tiers with exact
    decimal partials), then answer a 2-day window at 2h resolution via
    the TierStore router — which reads the 30m TIER (never the raw
    table), prunes day partitions, and re-aggregates partials. Oracle
    aggregates the raw events directly: tier-served points must equal
    raw-aggregated points exactly. Reads the shared pipelined
    warehouse (built once per process — see _pipelined_wh)."""
    _prep(spark)
    import datetime

    from isp_trace_parser_spark.serving import TierStore
    from isp_trace_parser_spark.sources.catalog import Catalog

    cat = Catalog(spark, _pipelined_wh(spark, sf_dir))
    out = TierStore(cat).series(
        start=datetime.datetime(2024, 1, 2),
        end=datetime.datetime(2024, 1, 4),
        resolution="2h",
    )
    return _round_aggs(out)


def q_tier_serving_p95(spark, sf_dir):
    """Percentile serving through the TierStore router (VERDICT r4 #5):
    the pipeline maintains mergeable histogram tiers (hist_30m/hist_1d,
    pipeline histogram_bin_width=0.5) alongside the avg tiers;
    TierStore.percentile answers "p95 per series at 2h over a 2-day
    window" by routing to the coarsest stored histogram tier dividing
    the request (here hist_30m), pruning day partitions, count-sum
    cascading 30m->2h, and applying the deterministic
    smallest-bin-reaching-ceil(q*total) midpoint rule. Counts are
    exact, so tier-served percentiles equal a direct histogram of raw
    events at the serving resolution — which is what the oracle
    computes."""
    _prep(spark)
    import datetime

    from isp_trace_parser_spark.serving import TierStore
    from isp_trace_parser_spark.sources.catalog import Catalog

    cat = Catalog(spark, _pipelined_wh(spark, sf_dir))
    return TierStore(cat).percentile(
        0.95,
        start=datetime.datetime(2024, 1, 2),
        end=datetime.datetime(2024, 1, 4),
        resolution="2h",
        bin_width=0.5,
    )


def q_tiered_retention(spark, sf_dir):
    """Tiered retention end-to-end (north_rule: "tiered retention that
    downsamples and expires old partitions"): land events-as-pages, run
    the 30m/1d/1mo continuous-aggregate cascade, then expire raw day
    partitions older than 5 days and 30m day partitions older than 15
    days as of a FIXED now (2024-01-31; no wall-clock reads — runs are
    reproducible). Result: one summary row per tier AFTER expiry. The
    oracle recomputes each tier's post-expiry contents from raw events
    in SQL, which pins both halves of the rule: coarse tiers retain the
    full history the fine tiers have expired (agg_1d/agg_1mo still
    cover all 1000*sf points), and expiry is partition-granular (the
    surviving raw/30m rows are exactly the rows at/after each cutoff —
    no rewrite, no partial-day loss). Clones the shared pipelined
    warehouse, then reruns the pipeline with the policy — the rollup
    stages resume-skip (snapshot diff finds no new input) and only the
    retention pass runs, which is exactly the crash-resume semantics
    the north rule requires: a retention pass never forces
    recomputation."""
    _prep(spark)
    import datetime

    from isp_trace_parser_spark.operators.retention import RetentionPolicy
    from isp_trace_parser_spark.pipeline import run_rollup_pipeline
    from isp_trace_parser_spark.sources.catalog import Catalog

    cat = Catalog(spark, _clone_pipelined(spark, sf_dir, "retain_wh_"))
    run_rollup_pipeline(
        spark,
        cat,
        encode_blocks=False,
        sum_cast=DEC,
        policy=RetentionPolicy(
            raw_keep_days=5, t30_keep_days=15, t1d_keep_months=0
        ),
        now=datetime.datetime(2024, 1, 31),
    )

    def tier_summary(name, table, ts_col, points_col=None):
        df = cat.read(table)
        n_points = (
            F.sum(points_col).alias("n_points")
            if points_col
            else F.count("value").alias("n_points")
        )
        sum_col = "sum_value" if points_col else "value"
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            n_points,
            _q(F.sum(F.col(sum_col).cast(DEC)).cast("double"), 2).alias(
                "sum_value"
            ),
            F.min(ts_col).alias("min_ts"),
            F.max(ts_col).alias("max_ts"),
        ).select(F.lit(name).alias("tier"), "*")

    return (
        tier_summary("raw", "pages", "warc_ts")
        .unionAll(tier_summary("agg_30m", "agg_30m", "bucket_ts", "cnt_value"))
        .unionAll(tier_summary("agg_1d", "agg_1d", "bucket_ts", "cnt_value"))
        .unionAll(tier_summary("agg_1mo", "agg_1mo", "bucket_ts", "cnt_value"))
    )


def q_streaming_dedup(spark, sf_dir):
    """Streaming exact dedup for live-crawl ingest
    (streaming/dedup_stream.py) vs a batch DISTINCT oracle: documents
    stream in with a deterministic event time plus an in-horizon
    re-crawl of every 5th doc (+10 min); dropDuplicatesWithinWatermark
    keeps the FIRST arrival per 128-bit content key, so the appended
    output is exactly one row per distinct text. Only content-derived
    columns are returned (md5 + length recomputed from the text), so
    the value hash is identical no matter which replica wins the race —
    duplicate doc_ids at larger SFs carry different stored lang/n_chars
    and would otherwise be winner-dependent."""
    _prep(spark)
    import tempfile
    import uuid

    from isp_trace_parser_spark.streaming.dedup_stream import (
        streaming_exact_dedup,
    )

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    # deterministic synthetic crawl time: 2024-01-01 + doc_id seconds
    base = stream.withColumn(
        "crawl_ts",
        F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id")).cast(
            "timestamp_ntz"
        ),
    )
    recrawl = base.where(F.col("doc_id") % 5 == 0).withColumn(
        "crawl_ts", F.col("crawl_ts") + F.expr("INTERVAL 10 MINUTES")
    )
    deduped = streaming_exact_dedup(
        base.unionByName(recrawl),
        text_col="text",
        ts_col="crawl_ts",
        watermark="1 hour",
    )
    qname = f"streamdedup_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckdd_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(qname).select(
        F.md5(F.col("text").cast("binary")).alias("content_md5"),
        F.length("text").cast("long").alias("text_len"),
    )


def q_domain_stats(spark, sf_dir):
    """Per-registered-domain corpus stats over messy crawl URLs
    (functions/web.py — pure Catalyst regexp/string exprs, no UDF).
    URLs are built deterministically from documents with real-world
    noise: mixed-case scheme/host, userinfo, explicit :443 port, query
    strings, fragments. The engine must canonicalize (lowercase, strip
    userinfo/port/fragment, keep query), extract the registered domain,
    and aggregate — the measurement side of the hot-domain-skew loop
    (plans/partitioning.salted). Oracle reparses identically in DuckDB
    SQL (RE2 regexps)."""
    _prep(spark)
    from isp_trace_parser_spark.functions import web

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.concat(
        F.when(d % 2 == 0, F.lit("HTTPS")).otherwise(F.lit("https")),
        F.lit("://"),
        F.when(d % 11 == 0, F.lit("bot:pw@")).otherwise(F.lit("")),
        F.lit("WWW."),
        F.col("source"),
        F.lit(".COM"),
        F.when(d % 3 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/Articles/"),
        (d % 7).cast("string"),
        F.lit("/doc-"),
        d.cast("string"),
        F.when(d % 4 == 0, F.concat(F.lit("?ref="), F.col("lang"))).otherwise(
            F.lit("")
        ),
        F.when(d % 5 == 0, F.lit("#top")).otherwise(F.lit("")),
    )
    parsed = web.with_url_parts(docs.withColumn("url", url))
    return parsed.groupBy(F.col("url_domain").alias("domain")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("url_normalized").alias("n_urls"),
        F.max("url_depth").cast("long").alias("max_depth"),
        _q(
            F.sum(F.length("text").cast(DEC)).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("mean_len"),
    )


def q_outlink_stats(spark, sf_dir):
    """HTML outlink extraction -> per-target-domain link graph stats:
    regexp_extract_all over deterministic per-doc HTML (1-2 anchors,
    mixed-case schemes/hosts), canonicalized with functions/web.py's
    host/domain expressions, aggregated per linked registered domain.
    All JVM-side (regexp_extract_all + explode; no UDF). Oracle
    rebuilds the HTML and reparses with DuckDB regexp_extract_all +
    unnest."""
    _prep(spark)
    from isp_trace_parser_spark.functions import web

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    html = F.concat(
        F.lit('<html><body><p>'),
        F.col("text"),
        F.lit('</p><a href="https://'),
        F.col("source"),
        F.lit(".COM/next/"),
        (d + 1).cast("string"),
        F.lit('">n</a>'),
        F.when(
            d % 3 == 0,
            F.concat(
                F.lit('<a class="x" href="HTTP://Partner-'),
                (d % 13).cast("string"),
                F.lit('.org/ref">p</a>'),
            ),
        ).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    links = (
        docs.withColumn("html", html)
        .select(
            "doc_id",
            F.explode(
                F.regexp_extract_all("html", F.lit(r'href="([^"]+)"'), 1)
            ).alias("link"),
        )
    )
    return links.groupBy(
        web.registered_domain(F.col("link")).alias("link_domain")
    ).agg(
        F.count(F.lit(1)).alias("n_links"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


def q_compact_roundtrip(spark, sf_dir):
    """Small-file compaction roundtrip: land events across 4 appends
    (accreting small files per day partition), run the partition-scoped
    compact (Iceberg rewrite_data_files analog — victims chosen from
    snapshot metrics, rewritten through a staging dir, one manifest
    commit), then read back. Compaction must be a pure physical re-layout:
    the readback equals a plain SELECT of the source, bit-for-bit."""
    _prep(spark)
    import tempfile

    from isp_trace_parser_spark.sources.catalog import Catalog

    cat = Catalog(spark, tempfile.mkdtemp(prefix="compact_rt_"))
    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    for i in range(4):
        cat.write(
            ev.where(F.pmod(F.col("event_id"), F.lit(4)) == i),
            "ev",
            partition_by=["day"],
            sort_within=["user_id", "ts"],
            mode="overwrite" if i == 0 else "append",
        )
    # 10,000 rows x 64 B
    cat.compact("ev", sort_within=["user_id", "ts"], target_file_bytes=640_000)
    back = cat.read("ev")
    return back.select(
        "user_id", "event_id", "ts", _q("value", 4).alias("value"), "day"
    )


def q_time_weighted_avg(spark, sf_dir):
    """Time-weighted average per (series, 30m bucket) for irregular
    samples (operators/timeseries.py — TimescaleDB time_weight analog):
    LOCF hold clipped to the bucket end, exact decimal x micros
    arithmetic so the weighted sums are order- and engine-independent.
    Oracle mirrors the lead-window + weighted-sum in DuckDB SQL."""
    _prep(spark)
    from isp_trace_parser_spark.operators.timeseries import (
        time_weighted_avg,
    )

    ev = _t(spark, sf_dir, "events")
    out = time_weighted_avg(
        ev, "event_type", "ts", "value", "event_id", 1800, sum_cast=DEC
    )
    return out.select(
        "series", "bucket_ts", _q("twa_value", 4).alias("twa_value"),
        "n_samples",
    )


def q_twa_raw_sparse(spark, sf_dir):
    """TWA over RAW, SPARSE irregular series (VERDICT r4 #6): keyed by
    user_id, a user's inter-sample gap routinely exceeds the 30m
    bucket, so the LOCF hold is clipped at the bucket END on most
    samples (the end-of-period convention; reference
    isp_trace_parser/trace_formatter.py:12-15) and single-sample
    buckets exercise the hold-from-sample-to-boundary path — the
    boundary behavior the dense event_type row never triggers (its
    next sample is seconds away). Exact decimal x micros weighting,
    oracle mirrors the lead-window + clip in DuckDB."""
    _prep(spark)
    from isp_trace_parser_spark.operators.timeseries import (
        time_weighted_avg,
    )

    ev = _t(spark, sf_dir, "events")
    out = time_weighted_avg(
        ev.select(
            F.col("user_id").cast("string").alias("u"),
            "ts", "value", "event_id",
        ),
        "u", "ts", "value", "event_id", 1800, sum_cast=DEC,
    )
    return out.select(
        "series", "bucket_ts", _q("twa_value", 4).alias("twa_value"),
        "n_samples",
    )


def q_m4_downsample(spark, sf_dir):
    """M4 visualization downsampling (Jugel et al., VLDB 2014): per
    (series, 30m pixel bucket) the min/max/first/last values — a single
    map-side-combinable aggregation (first/last ride on min/max of a
    (time, tiebreak, value) struct). Oracle uses row_number windows."""
    _prep(spark)
    from isp_trace_parser_spark.operators.timeseries import m4_downsample

    ev = _t(spark, sf_dir, "events")
    out = m4_downsample(ev, "event_type", "ts", "value", "event_id", 1800)
    return out.select(
        "series",
        "bucket_ts",
        _q("min_value", 4).alias("min_value"),
        _q("max_value", 4).alias("max_value"),
        _q("first_value", 4).alias("first_value"),
        _q("last_value", 4).alias("last_value"),
    )


def q_counter_rate(spark, sf_dir):
    """PromQL-style counter increase per (series, 30m bucket): positive
    deltas summed, a value drop treated as a counter reset contributing
    the post-reset value. Exact decimal lag/delta arithmetic; oracle is
    the same lag window + CASE in DuckDB."""
    _prep(spark)
    from isp_trace_parser_spark.operators.timeseries import counter_rate

    ev = _t(spark, sf_dir, "events")
    out = counter_rate(
        ev, "event_type", "ts", "value", "event_id", 1800, sum_cast=DEC
    )
    return out.select(
        "series",
        "bucket_ts",
        _q(F.col("increase").cast("double"), 4).alias("increase"),
        "n_samples",
    )


def q_gapfill_interpolate(spark, sf_dir):
    """Densify + LINEAR interpolation between observations (TimescaleDB
    interpolate analog; complements the ffill gap-fill): missing 30m
    slots get v0 + (v1-v0)*(t-t0)/(t1-t0), boundary gaps stay NULL.
    The oracle mirrors the prev/next IGNORE NULLS windows and the exact
    arithmetic shape so interpolated doubles match bit-for-bit."""
    _prep(spark)
    from isp_trace_parser_spark.operators.gapfill import interpolate_gaps

    ev = _t(spark, sf_dir, "events")
    t30 = _series_part(
        ev,
        F.col("user_id").alias("series"),
        bucket_end(F.col("ts"), SEC_30M).alias("bucket_ts"),
        F.col("value"),
    ).groupBy("series", "bucket_ts").agg(
        (
            F.sum(F.col("value").cast("decimal(20,4)")).cast("double")
            / F.count("value")
        ).alias("value")
    )
    out = interpolate_gaps(t30, interval_seconds=SEC_30M)
    return out.select(
        "series", "bucket_ts", _q("value", 4).alias("value"), "is_filled"
    )


def q_snapshot_lineage(spark, sf_dir):
    """Snapshot checkpoint metadata is CORRECT, not just present
    (north_rule: "resumable from checkpoint with per-partition
    lineage"): after a full pipeline run, each tier's last snapshot
    must name exactly the partition directories its data implies (days
    under the end-of-period convention; months for the daily tier) and
    record the right upstream table in its lineage. The oracle derives
    the expected partition inventory straight from raw events. Reading
    the snapshot records is O(partitions) driver-side metadata — the
    same records the incremental scheduler diffs. Reads the shared
    pipelined warehouse (built once per process)."""
    _prep(spark)
    from isp_trace_parser_spark.sources.catalog import Catalog

    cat = Catalog(spark, _pipelined_wh(spark, sf_dir))
    rows = []
    for t in ("pages", "agg_30m", "agg_1d"):
        snap = cat.last_snapshot(t)
        per_top: dict[str, int] = {}
        for rel, m in snap["partitions"].items():
            top = rel.split("/", 1)[0]
            per_top[top] = per_top.get(top, 0) + m["rows"]
        inp = snap.get("lineage", {}).get("input_table")
        rows.extend((t, p, per_top[p], inp) for p in sorted(per_top))
    return spark.createDataFrame(
        rows,
        "table_name string, partition_dir string, n_rows long, "
        "input_table string",
    )


def q_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling (functions/sampling.py):
    downsample the corpus per language with a hash-keyed keep decision
    — reproducible across cluster sizes/retries, monotone in the rate,
    one pure-column filter. The contract row supplies an
    engine-portable bucket (multiplicative hash of doc_id) so DuckDB
    applies the identical keep rule; the engine's default xxhash64
    bucket is pinned by tests/test_sampling.py."""
    _prep(spark)
    from isp_trace_parser_spark.functions.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    bucket = F.pmod(F.col("doc_id") * F.lit(2654435761), F.lit(1_000_000))
    out = stratified_sample(
        docs,
        "lang",
        {"en": 0.5, "de": 0.25},
        ["doc_id"],
        default_rate=0.75,
        bucket=bucket,
    )
    return out.select("doc_id", "lang", "source")


def q_export_shards(spark, sf_dir):
    """Deterministic export sharding (functions/sampling.export_shards):
    every document gets a stable (shard, shard_pos) address — hash
    shard + dense position in a total per-shard order — so re-running
    the export on any cluster size yields byte-identical shard files.
    Portable multiplicative-hash bucket for the oracle; the xxhash64
    default plus layout-invariance is pinned in tests/test_sampling.py."""
    _prep(spark)
    from isp_trace_parser_spark.functions.sampling import export_shards

    docs = _t(spark, sf_dir, "documents")
    bucket = F.pmod(F.col("doc_id") * F.lit(2654435761), F.lit(1_000_000))
    out = export_shards(
        docs, 8, ["doc_id"], ["doc_id"], bucket=bucket
    )
    return out.select(
        "doc_id", "lang", F.col("shard").cast("long").alias("shard"),
        F.col("shard_pos").cast("long").alias("shard_pos"),
    )


def q_pii_redaction(spark, sf_dir):
    """PII scrubbing for training-data curation (functions/text.py):
    deterministic PII-laced text (emails always, phones on doc_id%3,
    IPs on doc_id%4) is counted and redacted with typed placeholders —
    one codegen projection, no UDF. The oracle rebuilds the same text
    and applies the identical RE2-compatible patterns; the md5 of the
    redacted text pins byte-identical scrubbing."""
    _prep(spark)
    from isp_trace_parser_spark.functions.text import with_pii_redaction

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    laced = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" Contact user"),
            d.cast("string"),
            F.lit("@mail-"),
            F.col("source"),
            F.lit(".com"),
            F.when(
                d % 3 == 0,
                F.concat(
                    F.lit(" call +1415"),
                    F.lpad((d % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                d % 4 == 0,
                F.concat(
                    F.lit(" from 10.0."),
                    (d % 256).cast("string"),
                    F.lit("."),
                    (d % 100).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ),
    )
    out = with_pii_redaction(laced)
    return out.select(
        "doc_id",
        F.col("n_emails").cast("long").alias("n_emails"),
        F.col("n_phones").cast("long").alias("n_phones"),
        F.col("n_ips").cast("long").alias("n_ips"),
        F.md5(F.col("redacted_text").cast("binary")).alias("redacted_md5"),
        F.length("redacted_text").cast("long").alias("redacted_len"),
    )


def q_skew_report(spark, sf_dir):
    """Shuffle-skew diagnosis (plans/partitioning.skew_report): top-10
    hottest keys with row share and the salt factor that would level
    each against a 32-task average — the measurement side of the
    salting/two-phase-agg loop. Deterministic (count desc, key asc)
    tie-break in both engines."""
    _prep(spark)
    from isp_trace_parser_spark.plans.partitioning import skew_report

    ev = _t(spark, sf_dir, "events")
    out = skew_report(ev, ["user_id"], parallelism=32, top_k=10)
    return out.select(
        "user_id", "key_rows", _q("row_share", 6).alias("row_share"),
        "suggested_salts",
    )


def q_incremental_rollup(spark, sf_dir):
    """Snapshot-diff incremental recompute == full recompute
    (north_rule: resumable/incremental pipeline): land days before
    2024-01-20, run the pipeline, land the remaining days as a dynamic
    increment, run the pipeline AGAIN — the second run recomputes only
    the appended partitions (pinned by tests/test_pipeline.py), and the
    final 30m tier must equal a single-shot rollup of ALL events, which
    is exactly what the oracle computes. Any stale partial, missed
    partition, or double-count in the incremental path breaks the
    hash."""
    _prep(spark)
    import tempfile

    from isp_trace_parser_spark.pipeline import (
        ingest_pages,
        run_rollup_pipeline,
    )
    from isp_trace_parser_spark.sources.catalog import Catalog

    pages = _event_pages(spark, sf_dir)
    cut = day_bucket("warc_ts")
    cat = Catalog(spark, tempfile.mkdtemp(prefix="incr_wh_") + "/wh")
    ingest_pages(
        cat,
        pages.where(cut < F.lit("2024-01-20")),
        n_buckets=ENTRY_BUCKETS,
    )
    run_rollup_pipeline(spark, cat, encode_blocks=False, sum_cast=DEC)
    ingest_pages(
        cat,
        pages.where(cut >= F.lit("2024-01-20")),
        mode="dynamic",
        n_buckets=ENTRY_BUCKETS,
    )
    run_rollup_pipeline(spark, cat, encode_blocks=False, sum_cast=DEC)
    return _round_aggs(cat.read("agg_30m").drop("day_bucket"))


def q_late_rewrite_rollup(spark, sf_dir):
    """Late REWRITE of an old day is detected and recomputed (not just
    appends — a high-watermark scheduler would miss it): run the full
    pipeline, then dynamic-overwrite day 2024-01-10 with doubled
    values and rerun. The per-partition file fingerprints flag the
    rewritten day, the pipeline recomputes exactly its buckets, and the
    final 30m tier must hash-match an oracle whose 01-10 values are
    doubled at the source. Starts from a CLONE of the shared pipelined
    warehouse (the clone's snapshots are the prior run's checkpoints),
    so only the rewrite + incremental recompute run here."""
    _prep(spark)
    from isp_trace_parser_spark.pipeline import (
        ingest_pages,
        run_rollup_pipeline,
    )
    from isp_trace_parser_spark.sources.catalog import Catalog

    pages = _event_pages(spark, sf_dir)
    day = day_bucket("warc_ts")
    cat = Catalog(spark, _clone_pipelined(spark, sf_dir, "rewrite_wh_"))
    rewritten = pages.where(day == F.lit("2024-01-10")).withColumn(
        "value", F.col("value") * 2
    )
    ingest_pages(cat, rewritten, mode="dynamic", n_buckets=ENTRY_BUCKETS)
    run_rollup_pipeline(spark, cat, encode_blocks=False, sum_cast=DEC)
    return _round_aggs(cat.read("agg_30m").drop("day_bucket"))


def q_tier_serving_3d(spark, sf_dir):
    """Tier SELECTION correctness: a 3-day resolution must be served
    from the DAILY tier (coarsest stored tier dividing it — never the
    30m tier, never raw), sliced to the window with partition pruning,
    then re-aggregated from exact partials. Day-aligned window bounds
    make tier-bucket slicing equal raw-ts slicing, so the oracle is a
    direct 3d rollup of raw events in the window. Reads the shared
    pipelined warehouse (built once per process)."""
    _prep(spark)
    import datetime

    from isp_trace_parser_spark.serving import TierStore
    from isp_trace_parser_spark.sources.catalog import Catalog

    cat = Catalog(spark, _pipelined_wh(spark, sf_dir))
    out = TierStore(cat).series(
        start=datetime.datetime(2024, 1, 3),
        end=datetime.datetime(2024, 1, 27),
        resolution="3d",
    )
    return _round_aggs(out)


def q_codec_range_decode(spark, sf_dir):
    """Range read from Gorilla blocks with BLOCK PRUNING: encode the
    30m tier into weekly blocks, keep only blocks overlapping a
    two-week window (the block_start predicate a partition-pruned scan
    would push down), decode, and slice to the window. Must equal a
    direct 30m rollup of the window — pinning both losslessness and
    that pruning drops no needed block."""
    _prep(spark)
    from isp_trace_parser_spark.operators import codec

    ev = _t(spark, sf_dir, "events")
    t30 = _series_part(
        ev,
        F.col("user_id").cast("string").alias("series"),
        bucket_end(F.col("ts"), SEC_30M).alias("bucket_ts"),
        F.col("value"),
    ).groupBy("series", "bucket_ts").agg(
        (
            F.sum(F.col("value").cast("decimal(20,4)")).cast("double")
            / F.count("value")
        ).alias("avg_value")
    )
    blocks = codec.encode_blocks(
        t30, "series", "bucket_ts", "avg_value", block="7 days"
    )
    start, end = "2024-01-08 00:00:00", "2024-01-22 00:00:00"
    pruned = blocks.where(
        (F.col("block_start") < F.lit(end).cast("timestamp_ntz"))
        & (
            F.col("block_start") + F.expr("INTERVAL 7 DAYS")
            > F.lit(start).cast("timestamp_ntz")
        )
    )
    out = codec.decode_blocks(pruned).where(
        (F.col("ts") > F.lit(start).cast("timestamp_ntz"))
        & (F.col("ts") <= F.lit(end).cast("timestamp_ntz"))
    )
    return out.select(
        "series", F.col("ts").alias("bucket_ts"), _q("value", 4).alias("value")
    )


def q_time_travel_read(spark, sf_dir):
    """Snapshot time travel (Iceberg VERSION AS OF analog): land even
    event_ids, snapshot, append the odd ones — then read the first
    snapshot's file manifest. The result must equal a SELECT of only
    the first tranche even though the live table holds everything;
    manifest-based reads never see files a snapshot didn't commit."""
    _prep(spark)
    import tempfile

    from isp_trace_parser_spark.sources.catalog import Catalog

    cat = Catalog(spark, tempfile.mkdtemp(prefix="tt_wh_"))
    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    s1 = cat.write(
        ev.where(F.pmod(F.col("event_id"), F.lit(2)) == 0),
        "ev",
        partition_by=["day"],
        sort_within=["user_id", "ts"],
    )
    cat.write(
        ev.where(F.pmod(F.col("event_id"), F.lit(2)) == 1),
        "ev",
        partition_by=["day"],
        sort_within=["user_id", "ts"],
        mode="append",
    )
    back = cat.read("ev", snapshot_id=s1["snapshot_id"])
    return back.select(
        "user_id", "event_id", "ts", _q("value", 4).alias("value"), "day"
    )


def q_streaming_ingest_rollup(spark, sf_dir):
    """Live-crawl landing path end-to-end: events stream in through
    foreachBatch -> Catalog.write (per-epoch snapshot lineage,
    idempotent on replay — streaming/ingest_stream.py), then the BATCH
    snapshot-diff pipeline rolls the streamed table up. The 30m tier
    must hash-match a direct SQL rollup: streamed days are
    indistinguishable from batch-landed days."""
    _prep(spark)
    import tempfile

    from isp_trace_parser_spark.pipeline import run_rollup_pipeline
    from isp_trace_parser_spark.sources.catalog import Catalog
    from isp_trace_parser_spark.streaming.ingest_stream import (
        streaming_ingest,
    )

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .select(
            F.col("user_id").cast("string").alias("url"),
            F.col("ts").alias("warc_ts"),
            "value",
        )
    )
    base = tempfile.mkdtemp(prefix="sting_wh_")
    cat = Catalog(spark, base + "/wh")
    q = streaming_ingest(
        stream, cat, n_buckets=ENTRY_BUCKETS, checkpoint_dir=base + "/ck"
    )
    q.awaitTermination(300)
    run_rollup_pipeline(spark, cat, encode_blocks=False, sum_cast=DEC)
    return _round_aggs(cat.read("agg_30m").drop("day_bucket"))


def q_repetition_filters(spark, sf_dir):
    """Gopher/C4-style repetition curation rules (functions/text.py):
    top-bigram fraction and duplicate-sentence fraction as pure array
    expressions (no explode, no shuffle — the whole filter is a
    projection over the scan). Every 6th doc is laced with a full
    self-repeat so both signals fire. Oracle recomputes with DuckDB
    list lambdas."""
    _prep(spark)
    from isp_trace_parser_spark.functions.text import (
        _tokens,
        dup_sentence_fraction,
        top_bigram_fraction,
    )

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    laced = docs.withColumn(
        "text",
        F.when(
            d % 6 == 0, F.concat(F.col("text"), F.lit(". "), F.col("text"))
        ).otherwise(F.col("text")),
    )
    t = F.col("text")
    bigram_frac = top_bigram_fraction(t)
    dup_frac = dup_sentence_fraction(t)
    return laced.select(
        "doc_id",
        F.size(_tokens(t)).cast("long").alias("n_tokens"),
        _q(bigram_frac, 6).alias("top_bigram_frac"),
        _q(dup_frac, 6).alias("dup_sent_frac"),
        ((bigram_frac <= 0.2) & (dup_frac <= 0.3)).alias("keep"),
    )


def q_chunk_documents(spark, sf_dir):
    """Fixed-token training-window chunking with overlap
    (functions/text.chunk_documents): chunk i covers tokens
    [i*30, i*30+40); last chunk short; short docs yield one chunk.
    Emitted via inline (generator — no shuffle, chunks stream out of
    the scan). md5 of each chunk text pins byte-identical chunking
    against the DuckDB list-slice oracle."""
    _prep(spark)
    from isp_trace_parser_spark.functions.text import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    out = chunk_documents(docs, chunk_tokens=40, overlap=10)
    return out.select(
        "doc_id",
        "chunk_id",
        "chunk_n_tokens",
        F.md5(F.col("chunk_text").cast("binary")).alias("chunk_md5"),
    )


def q_rollback_read(spark, sf_dir):
    """Rollback-to-snapshot (Iceberg rollback analog): append a bad
    tranche (odd event_ids), roll the table back to the first snapshot,
    and the LIVE directory read — not a manifest read — must equal the
    first tranche: rollback physically restored the table state."""
    _prep(spark)
    import tempfile

    from isp_trace_parser_spark.sources.catalog import Catalog

    cat = Catalog(spark, tempfile.mkdtemp(prefix="rb_wh_"))
    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    s1 = cat.write(
        ev.where(F.pmod(F.col("event_id"), F.lit(2)) == 0),
        "ev",
        partition_by=["day"],
        sort_within=["user_id", "ts"],
    )
    cat.write(
        ev.where(F.pmod(F.col("event_id"), F.lit(2)) == 1),
        "ev",
        partition_by=["day"],
        sort_within=["user_id", "ts"],
        mode="append",
    )
    cat.rollback("ev", s1["snapshot_id"])
    return cat.read("ev").select(
        "user_id", "event_id", "ts", _q("value", 4).alias("value"), "day"
    )


def q_curation_pipeline(spark, sf_dir):
    """The whole training-data curation flow composed end-to-end:
    exact dedup (min-doc_id canonical) -> min-length filter ->
    deterministic stratified sampling (portable bucket) -> training-
    window chunking -> per-language corpus summary. Pins that the
    operators COMPOSE — each piece is separately oracle-backed, this
    row hashes the composition against one CTE-chain oracle."""
    _prep(spark)
    from isp_trace_parser_spark.functions.sampling import stratified_sample
    from isp_trace_parser_spark.functions.text import _tokens, chunk_documents

    docs = _t(spark, sf_dir, "documents")
    canonical = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    deduped = docs.join(canonical, ["doc_id", "text"], "inner")
    toked = deduped.withColumn("n", F.size(_tokens(F.col("text"))))
    filt = toked.where(F.col("n") >= 20)
    bucket = F.pmod(F.col("doc_id") * F.lit(2654435761), F.lit(1_000_000))
    sampled = stratified_sample(
        filt, "lang", {"en": 0.5}, ["doc_id"], default_rate=0.75,
        bucket=bucket,
    )
    chunks = chunk_documents(
        sampled, chunk_tokens=40, overlap=10, id_cols=["doc_id", "lang"]
    )
    per_lang_chunks = chunks.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_chunks"),
    )
    per_lang_tokens = sampled.groupBy("lang").agg(
        F.sum("n").cast("long").alias("n_tokens")
    )
    return per_lang_chunks.join(per_lang_tokens, "lang")


def q_curation_pipeline_v2(spark, sf_dir):
    """Round-5 curation capstone: exact dedup -> benchmark
    DECONTAMINATION (contamination_report vs the held-out doc_id%17
    subset, frac < 0.5 kept) -> min-length filter -> GPT-style
    sequence PACKING (pack_sequences, shard = doc_id%4, seq_len 256)
    -> per-shard export summary (docs, tokens, packs). Pins that the
    round-5 training-data operators COMPOSE with the round-3 ones;
    each piece is separately oracle-backed, this row hashes the whole
    chain against one CTE oracle."""
    _prep(spark)
    from isp_trace_parser_spark.functions.sampling import pack_sequences
    from isp_trace_parser_spark.functions.text import _tokens
    from isp_trace_parser_spark.operators.dedup import (
        contamination_report,
    )

    docs = _t(spark, sf_dir, "documents")
    canonical = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    deduped = docs.join(canonical, ["doc_id", "text"], "inner")
    corpus = deduped.where(F.col("doc_id") % 17 != 0)
    bench = docs.where(F.col("doc_id") % 17 == 0)
    cr = contamination_report(corpus, bench, n=8)
    clean = corpus.join(
        cr.where(F.col("contamination_frac") < 0.5).select("doc_id"),
        "doc_id",
    )
    toked = clean.select(
        "doc_id",
        (F.col("doc_id") % 4).alias("shard"),
        F.size(_tokens(F.col("text"))).alias("n_tok"),
    ).where(F.col("n_tok") >= 20)
    packed = pack_sequences(toked, "doc_id", "n_tok", 256, "shard",
                            ["doc_id"])
    return packed.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        (F.max("end_pack") + F.lit(1)).alias("n_packs"),
    )


def q_cold_tier_serving(spark, sf_dir):
    """Cold-tier serving end-to-end: the full pipeline (including the
    Gorilla block stage) lands events-as-pages, then the window is
    served by DECODING the compressed blocks (partition + block_start
    pruning; serving.series_30m_from_blocks) — the read path that
    survives after retention expires the hot agg tables. Must equal a
    direct 30m SQL rollup of the window. Reads the shared pipelined
    warehouse (built once per process — its block stage uses the same
    7-day span)."""
    _prep(spark)
    import datetime

    from isp_trace_parser_spark.serving import series_30m_from_blocks
    from isp_trace_parser_spark.sources.catalog import Catalog

    cat = Catalog(spark, _pipelined_wh(spark, sf_dir))
    out = series_30m_from_blocks(
        cat,
        start=datetime.datetime(2024, 1, 8),
        end=datetime.datetime(2024, 1, 22),
        block_span="7 days",
    )
    return out.select(
        "series", "bucket_ts", _q("avg_value", 4).alias("value")
    )


def q_tier_serving_distinct(spark, sf_dir):
    """Cardinality serving through the TierStore router: the pipeline
    maintains HLL sketch tiers (dist_30m/dist_1d over visitor ids —
    see _distinct_wh) and TierStore.distinct answers "distinct
    visitors per series at 2h over a week" by routing to dist_30m,
    pruning day partitions and UNIONING sketches up to 2h (lossless —
    identical to sketching raw). At the contract cardinalities the
    sketches are sparse-mode exact, so the estimate equals the
    oracle's exact count(DISTINCT)."""
    _prep(spark)
    import datetime

    from isp_trace_parser_spark.serving import TierStore
    from isp_trace_parser_spark.sources.catalog import Catalog

    cat = Catalog(spark, _distinct_wh(spark, sf_dir))
    return TierStore(cat).distinct(
        start=datetime.datetime(2024, 1, 2),
        end=datetime.datetime(2024, 1, 9),
        resolution="2h",
    )


def q_tier_serving_auto(spark, sf_dir):
    """Pixel-budget auto-resolution serving (TierStore.series_auto):
    a 2-day window with max_points=50 can't fit 96 half-hours, so the
    router picks 1h (48 points) — the finest servable resolution under
    budget — and serves it through the normal tier path (30m tier +
    pruning + partial cascade). The choice is pure metadata
    arithmetic; the oracle aggregates raw events at the predictable
    1h resolution."""
    _prep(spark)
    import datetime

    from isp_trace_parser_spark.serving import TierStore
    from isp_trace_parser_spark.sources.catalog import Catalog

    cat = Catalog(spark, _pipelined_wh(spark, sf_dir))
    out, res = TierStore(cat).series_auto(
        start=datetime.datetime(2024, 1, 2),
        end=datetime.datetime(2024, 1, 4),
        max_points=50,
    )
    assert res == "1h", res
    return _round_aggs(out)


def q_cold_tier_p95(spark, sf_dir):
    """Percentile serving from the COLD tier: after retention expires
    the hot histogram tables, p95 dashboards decode the surviving
    Gorilla blocks (partition + block_start pruned), histogram the
    decoded 30m points at the serving resolution and apply the same
    deterministic ceil(q*total) midpoint rule. The codec round-trip is
    bit-lossless and the stored tier values are exact-decimal doubles,
    so binning (floor(v/0.5)) is engine-identical — the oracle
    recomputes the 30m points from raw events in SQL and histograms
    them directly."""
    _prep(spark)
    import datetime

    from isp_trace_parser_spark.operators.rollup import (
        histogram_percentile,
        histogram_tier,
    )
    from isp_trace_parser_spark.serving import series_30m_from_blocks
    from isp_trace_parser_spark.sources.catalog import Catalog

    cat = Catalog(spark, _pipelined_wh(spark, sf_dir))
    pts = series_30m_from_blocks(
        cat,
        start=datetime.datetime(2024, 1, 8),
        end=datetime.datetime(2024, 1, 22),
        block_span="7 days",
    )
    hist = histogram_tier(pts, "series", "bucket_ts", "avg_value",
                          SEC_1D, 0.5)
    return histogram_percentile(hist, 0.95, bin_width=0.5)


def q_distinct_rollup_1d(spark, sf_dir):
    """Mergeable distinct-count tier (rollup.distinct_tier): per
    (event_type, 30m bucket) an HLL sketch of user_id, UNIONED up to
    1d (sketch union is lossless — identical to sketching raw) and
    read out as estimated cardinality. DISTINCT cannot be re-summed
    through tiers, which is why the tier stores sketches; at the
    contract cardinalities (hundreds of keys per cell, lgk=14) the
    Datasketches HLL is still in exact sparse mode, so the estimate
    EQUALS the oracle's exact count(DISTINCT) — pinned here; beyond
    promotion it degrades to the documented ~1.6% error."""
    _prep(spark)
    from isp_trace_parser_spark.operators.rollup import (
        distinct_cascade,
        distinct_estimate,
        distinct_tier,
    )

    ev = _t(spark, sf_dir, "events")
    t30 = distinct_tier(ev, "event_type", "ts", "user_id", SEC_30M, 14)
    return distinct_estimate(distinct_cascade(t30, SEC_1D))


def q_zscore_anomalies(spark, sf_dir):
    """Trailing-window z-score anomaly detection over the raw event
    stream (operators/timeseries.zscore_anomalies): each point scored
    against the 48 PRIOR points of its series, |z| >= 2 flagged. The
    baseline comes from exact decimal(18,4) sum/sum-of-squares frame
    aggregates with a fixed double-arithmetic shape on top, so scores
    are bit-identical across engines and threshold-boundary rows never
    flip — the property the oracle hash requires."""
    _prep(spark)
    from isp_trace_parser_spark.operators.timeseries import (
        zscore_anomalies,
    )

    ev = _t(spark, sf_dir, "events")
    out = zscore_anomalies(
        ev, "event_type", "ts", "value", "event_id",
        lookback=48, threshold=2.0, sum_cast="decimal(18,4)",
    )
    return out.select(
        "series", "ts", _q("value", 4).alias("value"),
        _q("baseline_mean", 4).alias("baseline_mean"),
        _q("baseline_std", 4).alias("baseline_std"),
        _q("zscore", 4).alias("zscore"),
    )


def q_histogram_multi_q(spark, sf_dir):
    """p50/p95/p99 per (series, day) in ONE pass over the histogram
    tier (rollup.histogram_percentiles): the three quantiles share the
    cumulative window and the (series, bucket) grouping — conditional
    min aggregates, not three re-runs. Same deterministic
    ceil(q*total) rule per q; oracle is the per-q rule UNION ALL'd."""
    _prep(spark)
    from isp_trace_parser_spark.operators.rollup import (
        histogram_cascade,
        histogram_percentiles,
        histogram_tier,
    )

    ev = _series_part(
        _t(spark, sf_dir, "events"), F.col("user_id"), F.col("ts"),
        F.col("value"),
    )
    t30 = histogram_tier(ev, "user_id", "ts", "value", SEC_30M, 0.5)
    t1d = histogram_cascade(t30, SEC_1D)
    out = histogram_percentiles(t1d, [0.5, 0.95, 0.99], bin_width=0.5)
    return out.select(
        F.col("series").cast("long").alias("series"),
        "bucket_ts", "q", "bin", "estimate",
    )


def q_pack_manifest(spark, sf_dir):
    """GPT-style sequence-packing manifest (sampling.pack_sequences):
    per document, its token offset in the shard's concatenated stream
    and the packs it starts/ends in under concat-then-split at
    seq_len=512 — per-shard windows so the running sum never becomes a
    global single-partition window. Pure integer div/mod; the oracle
    is the same window arithmetic in SQL."""
    _prep(spark)
    from isp_trace_parser_spark.functions.sampling import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        (F.col("doc_id") % 8).alias("shard"),
        F.size(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("n_tok"),
    )
    return pack_sequences(base, "doc_id", "n_tok", 512, "shard",
                          ["doc_id"])


def q_pack_read_plan(spark, sf_dir):
    """Loader-side inverse of the packing manifest
    (sampling.pack_read_plan): per (shard, pack), the exact half-open
    token slice of each contributing document — what a trainer reads
    to materialize pack k without scanning the shard. Shuffle-free
    projection of the manifest (sequence-explode + integer min/max);
    oracle is the same arithmetic via a range comprehension."""
    _prep(spark)
    from isp_trace_parser_spark.functions.sampling import (
        pack_read_plan,
        pack_sequences,
    )

    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        (F.col("doc_id") % 8).alias("shard"),
        F.size(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("n_tok"),
    )
    manifest = pack_sequences(base, "doc_id", "n_tok", 512, "shard",
                              ["doc_id"])
    return pack_read_plan(manifest, 512)


def q_contamination_report(spark, sf_dir):
    """Benchmark decontamination (dedup.contamination_report): every
    17th document plays the held-out benchmark; the rest of the corpus
    is scanned for 8-word shingle overlap. Per doc: distinct shingle
    count, contaminated count, benchmark docs hit, contaminated
    fraction — zero-overlap docs included so a downstream threshold
    filter sees the whole corpus. The join key is a 16-hex md5 prefix
    (slim + engine-portable); the oracle joins raw shingles."""
    _prep(spark)
    from isp_trace_parser_spark.operators.dedup import (
        contamination_report,
    )

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 17 != 0)
    bench = docs.where(F.col("doc_id") % 17 == 0)
    out = contamination_report(corpus, bench, n=8)
    return out.select(
        "doc_id", "n_shingles", "n_contaminated", "n_bench_docs",
        _q("contamination_frac", 4).alias("contamination_frac"),
    )


def q_seasonal_profile(spark, sf_dir):
    """Weekly seasonality fingerprint (timeseries.seasonal_profile):
    mean value and sample count per (event_type, ISO weekday,
    hour-of-day) — a pure 7x24-cell reduction (map-side combined, no
    window/UDF; output size independent of input size). Exact decimal
    partials make the mean engine-identical."""
    _prep(spark)
    from isp_trace_parser_spark.operators.timeseries import (
        seasonal_profile,
    )

    ev = _t(spark, sf_dir, "events")
    out = seasonal_profile(ev, "event_type", "ts", "value", DEC)
    return out.select(
        "series", "weekday", "hour",
        _q("avg_value", 4).alias("avg_value"), "n_samples",
    )


# ------------------------------------------------------------- contract
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the tier cascade (30m -> 1d) over sf0.001 events."""
    _prep(spark)
    return q_rollup_1d(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Registry order is the driver's sampling order: it verifies the FIRST
    # 50 entries. Standing rotation rule (VERDICT r5 #1): slot the rows
    # with NO driver green ever first, then rows whose implementation
    # changed this round (r6: the dedup/text/timeseries rewrites, the
    # exchange-shared tier builds, and every consumer of the pipeline-
    # built warehouse, whose agg_30m/codec stages changed), then the rows
    # whose newest driver green is OLDEST (the r3/r4-only block) to fill.
    return {
        "pack_read_plan": q_pack_read_plan,
        "minhash_lsh_pairs": q_minhash_lsh,
        "ngram_jaccard_pairs": q_jaccard_pairs,
        "dedup_clusters": q_dedup_clusters,
        "contamination_report": q_contamination_report,
        "curation_pipeline": q_curation_pipeline,
        "curation_pipeline_v2": q_curation_pipeline_v2,
        "repetition_filters": q_repetition_filters,
        "chunk_documents": q_chunk_documents,
        "zscore_anomalies": q_zscore_anomalies,
        "ewma_smooth": q_ewma,
        "gap_report": q_gap_report,
        "gapfill_30m": q_gapfill_30m,
        "gapfill_interpolate": q_gapfill_interpolate,
        "gorilla_codec_roundtrip": q_codec_roundtrip,
        "codec_range_decode": q_codec_range_decode,
        "histogram_rollup": q_histogram_rollup,
        "histogram_p95": q_histogram_p95,
        "histogram_multi_q": q_histogram_multi_q,
        "incremental_rollup": q_incremental_rollup,
        "late_rewrite_rollup": q_late_rewrite_rollup,
        "tiered_retention": q_tiered_retention,
        "tier_serving_2h": q_tier_serving_2h,
        "tier_serving_p95": q_tier_serving_p95,
        "tier_serving_3d": q_tier_serving_3d,
        "tier_serving_auto": q_tier_serving_auto,
        "tier_serving_distinct": q_tier_serving_distinct,
        "cold_tier_p95": q_cold_tier_p95,
        "cold_tier_serving": q_cold_tier_serving,
        "snapshot_lineage": q_snapshot_lineage,
        "time_travel_read": q_time_travel_read,
        "rollback_read": q_rollback_read,
        "streaming_ingest_rollup": q_streaming_ingest_rollup,
        "rollup_30m": q_rollup_30m,
        "rollup_1d": q_rollup_1d,
        "rollup_1mo": q_rollup_1mo,
        "mean_merge_union": q_mean_merge_union,
        "two_phase_avg_salted": q_two_phase_avg,
        "window_fy": q_window_fy,
        "window_calendar_scalar": q_window_calendar_scalar,
        "multi_window_union": q_multi_window_union,
        "unpivot_lineitem": q_unpivot_lineitem,
        "pivot_events_wide": q_pivot_events_wide,
        "distinct_event_types": q_distinct_event_types,
        "region_revenue_broadcast": q_region_revenue,
        "part_semi_join": q_part_semi_join,
        "event_type_display_map": q_event_type_display,
        "tpch_q1_pricing_summary": q_tpch_q1,
        "percentiles_by_type": q_percentiles,
        "rollup_grouping_sets": q_rollup_grouping_sets,
        "crawl_schedule": q_crawl_schedule,
        "api_projection_policy": q_api_projection_policy,
        "json_props_rollup": q_json_props_rollup,
        "source_quality_report": q_source_quality_report,
        "streaming_sessionize": q_streaming_sessionize,
        "interval_join_windows": q_interval_join_windows,
        "rolling_mean_1h": q_rolling_mean_1h,
        "twa_raw_sparse": q_twa_raw_sparse,
        "distinct_rollup_1d": q_distinct_rollup_1d,
        "seasonal_profile": q_seasonal_profile,
        "streaming_histogram_30m": q_streaming_histogram_30m,
        "pack_manifest": q_pack_manifest,
        "streaming_dedup": q_streaming_dedup,
        "domain_stats": q_domain_stats,
        "outlink_stats": q_outlink_stats,
        "compact_roundtrip": q_compact_roundtrip,
        "time_weighted_avg": q_time_weighted_avg,
        "m4_downsample": q_m4_downsample,
        "counter_rate": q_counter_rate,
        "stratified_sample": q_stratified_sample,
        "export_shards": q_export_shards,
        "pii_redaction": q_pii_redaction,
        "skew_report": q_skew_report,
        "lag_delta": q_lag_delta,
        "sessionize": q_sessionize,
        "asof_join_views_purchases": q_asof_join,
        "dedup_exact": q_dedup_exact,
        "simhash_fingerprints": q_simhash,
        "cosine_topk": q_cosine_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "embedding_near_dups": q_embedding_near_dups,
        "text_stats": q_text_stats,
        "quality_score": q_quality_score,
        "lang_id": q_lang_id,
        "doc_fingerprints": q_doc_fingerprints,
        "frame_sample_plan": q_frame_sample_plan,
        "media_features": q_media_features,
        "parse_csv_to_long": q_parse_csv_to_long,
        "partitioned_sink_roundtrip": q_partitioned_sink_roundtrip,
        "legacy_v1_read": q_legacy_v1_read,
        "streaming_rollup_30m": q_streaming_rollup_30m,
        "parse_csv_filtered": q_parse_csv_filtered,
        "topk_per_group": q_topk_per_group,
        "optimise_relayout": q_optimise_relayout,
        "value_histogram": q_value_histogram,
        "streaming_gapfill_30m": q_streaming_gapfill_30m,
        "asof_join_forward": q_asof_join_forward,
        "asof_join_nearest": q_asof_join_nearest,
        "parse_demand_csv": q_parse_demand_csv,
        "parse_demand_cross": q_parse_demand_cross,
    }


def oracle_sql() -> dict[str, str]:
    b30 = _bucket_sql("ts", SEC_30M)
    b1d = _bucket_sql("ts", SEC_1D)
    b1mo = "date_trunc('month', ts - INTERVAL 1 MICROSECOND) + INTERVAL 1 MONTH"

    lang_markers = {
        "en": ["the", "and", "of", "is", "in"],
        "de": ["der", "und", "die", "ist", "nicht"],
        "fr": ["le", "les", "est", "une", "dans"],
        "es": ["el", "los", "es", "una", "que"],
        "pt": ["o", "os", "uma", "não", "com"],
        "ru": ["и", "в", "не", "это", "на"],
    }
    lang_union = " UNION ALL ".join(
        "SELECT doc_id, t, '{lang}' AS lang, ({score}) AS score FROM prep".format(
            lang=lang,
            score=" + ".join(
                f"CASE WHEN contains(t, ' {w} ') THEN 1 ELSE 0 END" for w in ws
            ),
        )
        for lang, ws in lang_markers.items()
    )

    sqls = {
        "rollup_30m": f"""
            SELECT event_type AS series, {b30} AS bucket_ts, {_AGG_SQL}
            FROM events GROUP BY 1, 2""",
        "rollup_1d": f"""
            SELECT event_type AS series, {b1d} AS bucket_ts, {_AGG_SQL}
            FROM events GROUP BY 1, 2""",
        "rollup_1mo": f"""
            SELECT event_type AS series, {b1mo} AS bucket_ts, {_AGG_SQL}
            FROM events GROUP BY 1, 2""",
        "mean_merge_union": """
            SELECT datetime,
                   round(CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) / count(value), 4) AS value
            FROM (
                SELECT ts AS datetime, value FROM events
                UNION ALL SELECT ts AS datetime, value * 2 AS value FROM events
            ) GROUP BY datetime""",
        "two_phase_avg_salted": """
            SELECT event_type,
                   round(CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) / count(value), 4) AS avg_value,
                   count(value) AS cnt_value
            FROM events GROUP BY 1""",
        "window_fy": """
            SELECT ts, round(value, 4) AS value, event_type FROM events
            WHERE ts > TIMESTAMP '2023-07-01 00:00:00'
              AND ts <= TIMESTAMP '2024-07-01 00:00:00'
              AND event_type IN ('click', 'view')""",
        "window_calendar_scalar": """
            SELECT ts, round(value, 4) AS value FROM events
            WHERE ts > TIMESTAMP '2024-01-01 00:00:00'
              AND ts <= TIMESTAMP '2025-01-01 00:00:00'
              AND event_type = 'purchase'""",
        "multi_window_union": """
            SELECT ts, round(value, 4) AS value, event_type FROM events
            WHERE ts > TIMESTAMP '2024-03-01 00:00:00' AND ts <= TIMESTAMP '2024-05-01 00:00:00'
            UNION ALL
            SELECT ts, round(value, 4) AS value, event_type FROM events
            WHERE ts > TIMESTAMP '2024-01-01 00:00:00' AND ts <= TIMESTAMP '2024-03-01 00:00:00'""",
        "unpivot_lineitem": """
            SELECT l_orderkey, l_linenumber, 'quantity' AS measure, round(l_quantity, 4) AS value FROM lineitem
            UNION ALL SELECT l_orderkey, l_linenumber, 'extendedprice', round(l_extendedprice, 4) FROM lineitem
            UNION ALL SELECT l_orderkey, l_linenumber, 'discount', round(l_discount, 4) FROM lineitem
            UNION ALL SELECT l_orderkey, l_linenumber, 'tax', round(l_tax, 4) FROM lineitem""",
        "pivot_events_wide": """
            SELECT user_id,
                   round(CAST(sum(CAST(CASE WHEN event_type = 'click' THEN value END AS DECIMAL(20,4))) AS DOUBLE)
                         / count(CASE WHEN event_type = 'click' THEN value END), 4) AS click,
                   round(CAST(sum(CAST(CASE WHEN event_type = 'error' THEN value END AS DECIMAL(20,4))) AS DOUBLE)
                         / count(CASE WHEN event_type = 'error' THEN value END), 4) AS error,
                   round(CAST(sum(CAST(CASE WHEN event_type = 'purchase' THEN value END AS DECIMAL(20,4))) AS DOUBLE)
                         / count(CASE WHEN event_type = 'purchase' THEN value END), 4) AS purchase,
                   round(CAST(sum(CAST(CASE WHEN event_type = 'signup' THEN value END AS DECIMAL(20,4))) AS DOUBLE)
                         / count(CASE WHEN event_type = 'signup' THEN value END), 4) AS signup,
                   round(CAST(sum(CAST(CASE WHEN event_type = 'view' THEN value END AS DECIMAL(20,4))) AS DOUBLE)
                         / count(CASE WHEN event_type = 'view' THEN value END), 4) AS view
            FROM events GROUP BY user_id""",
        "distinct_event_types": "SELECT DISTINCT event_type FROM events",
        "region_revenue_broadcast": """
            SELECT r.r_name AS region,
                   round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(20,4))) AS DOUBLE), 2) AS revenue,
                   count(*) AS n_orders
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY 1""",
        "part_semi_join": """
            SELECT p_partkey, p_name FROM part p
            WHERE EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_partkey = p.p_partkey
                            AND year(l.l_shipdate) = 2000)""",
        "event_type_display_map": """
            SELECT CASE event_type
                     WHEN 'click' THEN 'Click Through' WHEN 'view' THEN 'Page View'
                     WHEN 'purchase' THEN 'Purchase' WHEN 'signup' THEN 'Sign Up'
                     WHEN 'error' THEN 'Error Event' ELSE event_type END AS display_name,
                   count(*) AS n
            FROM events GROUP BY 1""",
        "tpch_q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(CAST(sum(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE), 2) AS sum_qty,
                   round(CAST(sum(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE), 2) AS sum_base_price,
                   round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS DOUBLE), 2) AS sum_disc_price,
                   round(CAST(sum(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) / count(*), 4) AS avg_qty,
                   round(CAST(sum(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE) / count(*), 4) AS avg_price,
                   round(CAST(sum(CAST(l_discount AS DECIMAL(20,4))) AS DOUBLE) / count(*), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY 1, 2""",
        "percentiles_by_type": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 4) AS p50,
                   round(quantile_cont(value, 0.95), 4) AS p95,
                   count(*) AS n
            FROM events GROUP BY 1""",
        "rollup_grouping_sets": """
            SELECT l_returnflag, l_linestatus,
                   round(CAST(sum(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE), 2) AS sum_qty,
                   count(*) AS n
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
        "lag_delta": """
            SELECT user_id, event_id,
                   round(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 4) AS delta
            FROM events""",
        "sessionize": """
            WITH g AS (
              SELECT user_id, ts, event_id, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), s AS (
              SELECT user_id, ts, value,
                     CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
              FROM g
            )
            SELECT user_id, session_id, count(*) AS n_events,
                   min(ts) AS session_start, max(ts) AS session_end,
                   round(CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE), 2) AS sum_value
            FROM s GROUP BY 1, 2""",
        "gapfill_30m": f"""
            WITH b AS (SELECT user_id AS series, {b30} AS bucket_ts,
                              CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) / count(value) AS v
                       FROM events GROUP BY 1, 2),
            r AS (SELECT series, min(bucket_ts) mn, max(bucket_ts) mx FROM b GROUP BY 1),
            spine AS (SELECT series, unnest(generate_series(mn, mx, INTERVAL 30 MINUTE)) AS bucket_ts FROM r),
            j AS (SELECT s.series, s.bucket_ts, b.v FROM spine s
                  LEFT JOIN b ON b.series = s.series AND b.bucket_ts = s.bucket_ts)
            SELECT series, bucket_ts,
                   round(last_value(v IGNORE NULLS) OVER (
                       PARTITION BY series ORDER BY bucket_ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS value,
                   v IS NULL AS is_filled
            FROM j""",
        "gorilla_codec_roundtrip": f"""
            SELECT CAST(user_id AS VARCHAR) AS series, {b30} AS bucket_ts,
                   round(CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) / count(value), 4) AS value
            FROM events GROUP BY 1, 2""",
        "asof_join_views_purchases": """
            SELECT v.user_id AS series, v.ts, round(v.value, 4) AS lv,
                   p.ts AS ts_right, round(p.value, 4) AS pv_right
            FROM (SELECT user_id, ts, value FROM events WHERE event_type = 'view') v
            ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
              ON v.user_id = p.user_id AND v.ts >= p.ts""",
        "asof_join_forward": """
            SELECT v.user_id AS series, v.ts, round(v.value, 4) AS lv,
                   p.ts AS ts_right, round(p.value, 4) AS pv_right
            FROM (SELECT user_id, ts, value FROM events WHERE event_type = 'view') v
            ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
              ON v.user_id = p.user_id AND v.ts <= p.ts""",
        "dedup_exact": """
            SELECT min(doc_id) AS keep_id, count(*) AS dup_count
            FROM documents GROUP BY text""",
        "ngram_jaccard_pairs": r"""
            WITH tok AS (SELECT DISTINCT doc_id,
                                unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
                         FROM documents),
            tok1 AS (SELECT * FROM tok WHERE tok <> ''),
            dfreq AS (SELECT tok, count(*) AS df FROM tok1 GROUP BY 1),
            tok2 AS (SELECT tok1.* FROM tok1 JOIN dfreq USING (tok)
                     WHERE dfreq.df <= 400),
            sz AS (SELECT doc_id, count(*) n FROM tok2 GROUP BY 1),
            inter AS (SELECT a.doc_id d1, b.doc_id d2, count(*) i
                      FROM tok2 a JOIN tok2 b USING (tok)
                      WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
            SELECT d1, d2, round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
            FROM inter JOIN sz sa ON sa.doc_id = d1 JOIN sz sb ON sb.doc_id = d2
            WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.6""",
        "cosine_topk": """
            WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_cosine_similarity(embedding::DOUBLE[], qe::DOUBLE[]), 4) AS cosine_sim
            FROM embeddings, q
            ORDER BY list_cosine_similarity(embedding::DOUBLE[], qe::DOUBLE[]) DESC, vec_id ASC
            LIMIT 10""",
        "text_stats": r"""
            SELECT doc_id,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens_ws,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_tokens_bpe,
                   length(text) AS n_chars_c,
                   round((length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g'))) * 1.0
                         / nullif(length(text), 0), 4) AS punct_ratio,
                   round(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                             x -> list_contains(['the','and','of','to','a','in','is','it','that','for','on','was','with','as','at','by','an','be','this','are'], x))) * 1.0
                         / nullif(len(regexp_split_to_array(lower(text), '\s+')), 0), 4) AS stopword_ratio
            FROM documents""",
        "quality_score": r"""
            WITH s AS (
              SELECT doc_id,
                CASE WHEN trim(text) = '' THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok,
                coalesce((length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g'))) * 1.0
                         / nullif(length(text), 0), 0.0) AS praw,
                regexp_split_to_array(lower(text), '\s+') AS lw,
                list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS words
              FROM documents
            ), s2 AS (
              SELECT doc_id,
                least(n_tok / 100.0, 1.0) AS len_score,
                greatest(0.0, 1.0 - praw * 4.0) AS punct_pen,
                least(coalesce(len(list_filter(lw, x -> list_contains(
                    ['the','and','of','to','a','in','is','it','that','for','on','was','with','as','at','by','an','be','this','are'], x))) * 1.0
                    / nullif(len(lw), 0), 0.0) * 4.0, 1.0) AS stop_score,
                CASE WHEN len(words) > 0
                     THEN list_sum(list_transform(words, x -> length(x))) * 1.0 / len(words)
                     ELSE 0.0 END AS mwl
              FROM s
            )
            SELECT doc_id,
                   round(len_score * 0.3 + punct_pen * 0.2 + stop_score * 0.3 +
                         (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.5 END) * 0.2, 4)
                   AS quality
            FROM s2""",
        "lang_id": rf"""
            WITH prep AS (SELECT doc_id,
                                 ' ' || lower(regexp_replace(text, '[^\w\s]', ' ', 'g')) || ' ' AS t
                          FROM documents),
            scored AS ({lang_union}),
            best AS (SELECT doc_id, max(struct_pack(score := score, lang := lang)) AS b
                     FROM scored GROUP BY doc_id)
            SELECT doc_id, CASE WHEN b.score > 0 THEN b.lang ELSE 'und' END AS lang_pred
            FROM best""",
        "parse_csv_to_long": rf"""
            WITH raw AS (
              SELECT *, parse_filename(filename) AS fname
              FROM read_csv('{_AEMO_FIXTURE_DIR}/*.csv', header=true, filename=true)
            ),
            dec AS (
              SELECT *,
                     regexp_extract(fname, '^(.*)_RefYear(\d{{4}})\.csv$', 1) AS trace_stem,
                     CAST(regexp_extract(fname, '^(.*)_RefYear(\d{{4}})\.csv$', 2) AS INTEGER) AS reference_year
              FROM raw
            ),
            mapping(trace_stem, entity, entity_type, resource_type, parent) AS (
              VALUES ('REZ_N1_Solar','N1','zone','solar','NSW'),
                     ('SNOWSTH1','Snowtown S2','project','wind','S5'),
                     ('SNOWNTH1','Snowtown S2','project','wind','S5')
            ),
            j AS (SELECT dec.*, m.entity, m.entity_type, m.resource_type, m.parent
                  FROM dec JOIN mapping m USING (trace_stem)),
            up AS (
              SELECT Year, Month, Day, entity, entity_type, resource_type,
                     parent, reference_year, label, value
              FROM j UNPIVOT (value FOR label IN ({_AEMO_LABELS}))
            ),
            long AS (
              SELECT make_timestamp(Year, Month, Day, 0, 0, 0)
                       + to_minutes(30 * CAST(label AS INTEGER)) AS datetime,
                     value, entity, entity_type, resource_type, parent,
                     reference_year
              FROM up
            )
            SELECT datetime, round(avg(value), 6) AS value, entity,
                   entity_type, resource_type, parent, reference_year
            FROM long GROUP BY ALL""",
        "partitioned_sink_roundtrip": """
            WITH e AS (SELECT user_id, event_id, ts, round(value, 4) AS value,
                              strftime(ts, '%Y-%m-%d') AS day
                       FROM events),
            cut AS (SELECT day FROM (SELECT DISTINCT day FROM e ORDER BY day LIMIT 3) t
                    ORDER BY day DESC LIMIT 1)
            SELECT e.* FROM e, cut WHERE e.day >= cut.day""",
        "streaming_rollup_30m": f"""
            SELECT event_type AS series, {b30} AS bucket_ts, {_AGG_SQL}
            FROM events GROUP BY 1, 2""",
        "legacy_v1_read": rf"""
            WITH raw AS (
              SELECT Datetime AS datetime, round(Value, 6) AS value,
                     string_split(filename, '/') AS parts
              FROM read_parquet('{_LEGACY_V1_DIR}/**/*.parquet', filename=true)
            )
            SELECT datetime, value,
                   replace(CASE WHEN parts[-4] = 'Area' THEN parts[-3]
                                ELSE parts[-2] END, '_', ' ') AS entity,
                   CASE WHEN parts[-4] = 'Area' THEN 'zone'
                        ELSE lower(parts[-3]) END AS entity_type,
                   CASE WHEN parts[-4] = 'Area' THEN parts[-2] END AS resource_type,
                   CAST(regexp_extract(parts[-1], '^RefYear(\d{{4}})_', 1) AS INTEGER)
                     AS reference_year
            FROM raw""",
        "dedup_clusters": r"""
            WITH RECURSIVE tok AS (SELECT DISTINCT doc_id,
                                unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
                         FROM documents),
            tok1 AS (SELECT * FROM tok WHERE tok <> ''),
            dfreq AS (SELECT tok, count(*) AS df FROM tok1 GROUP BY 1),
            tok2 AS (SELECT tok1.* FROM tok1 JOIN dfreq USING (tok)
                     WHERE dfreq.df <= 400),
            sz AS (SELECT doc_id, count(*) n FROM tok2 GROUP BY 1),
            inter AS (SELECT a.doc_id d1, b.doc_id d2, count(*) i
                      FROM tok2 a JOIN tok2 b USING (tok)
                      WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
            pairs AS (SELECT d1, d2 FROM inter
                      JOIN sz sa ON sa.doc_id = d1 JOIN sz sb ON sb.doc_id = d2
                      WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.6),
            edges AS (SELECT d1 a, d2 b FROM pairs UNION SELECT d2, d1 FROM pairs),
            reach(a, b) AS (
              SELECT a, a FROM (SELECT DISTINCT a FROM edges) t
              UNION
              SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
            )
            SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a""",
        "optimise_relayout": """
            SELECT user_id, event_id, ts, round(value, 4) AS value,
                   event_type
            FROM events""",
        "value_histogram": """
            SELECT event_type, CAST(floor(value / 10.0) AS INTEGER) AS bin,
                   count(*) AS n
            FROM events GROUP BY 1, 2""",
        # frame_sample_plan: the plan is a pure function of the synth
        # metadata (kind = id%3 -> video, duration = (id%30+1)s), so the
        # oracle recomputes it from the same formulas
        "frame_sample_plan": """
            WITH m AS (SELECT i AS media_id, (i % 30 + 1) * 1000 AS duration_ms
                       FROM range(128) t(i) WHERE i % 3 = 2)
            SELECT media_id,
                   CAST(unnest(generate_series(0, duration_ms - 1, 1000)) AS INTEGER)
                     AS frame_ts_ms
            FROM m""",
        "asof_join_nearest": """
            WITH v AS (SELECT user_id, ts, value AS lv FROM events
                       WHERE event_type = 'view'),
            p AS (SELECT user_id, ts, value AS pv FROM events
                  WHERE event_type = 'purchase'),
            b AS (SELECT v.user_id, v.ts, v.lv, p.ts AS bts, p.pv AS bv
                  FROM v ASOF LEFT JOIN p
                    ON v.user_id = p.user_id AND v.ts >= p.ts),
            f AS (SELECT v.user_id, v.ts, v.lv, p.ts AS fts, p.pv AS fv
                  FROM v ASOF LEFT JOIN p
                    ON v.user_id = p.user_id AND v.ts <= p.ts),
            b2 AS (SELECT *, row_number() OVER (PARTITION BY user_id, ts
                                                ORDER BY lv) AS rn FROM b),
            f2 AS (SELECT *, row_number() OVER (PARTITION BY user_id, ts
                                                ORDER BY lv) AS rn FROM f),
            j AS (SELECT b2.user_id, b2.ts, b2.lv, b2.bts, b2.bv, f2.fts,
                         f2.fv,
                         (b2.bts IS NULL OR (f2.fts IS NOT NULL
                            AND abs(epoch_us(b2.ts) - epoch_us(f2.fts))
                              < abs(epoch_us(b2.ts) - epoch_us(b2.bts))))
                           AS use_fwd
                  FROM b2 JOIN f2 USING (user_id, ts, rn))
            SELECT user_id AS series, ts, round(lv, 4) AS lv,
                   CASE WHEN use_fwd THEN fts ELSE bts END AS ts_right,
                   round(CASE WHEN use_fwd THEN fv ELSE bv END, 4)
                     AS pv_right
            FROM j""",
        "parse_demand_csv": _demand_parse_sql(_DEMAND_FIXTURE_DIR),
        "parse_demand_cross": _demand_parse_sql(_demand_cross_dir()),
        "gap_report": f"""
            WITH t30 AS (
              SELECT user_id AS series, {_bucket_sql('ts', SEC_30M)} AS bucket_ts
              FROM events GROUP BY 1, 2
            ),
            lagged AS (
              SELECT series, epoch_us(bucket_ts) AS t_us,
                     lag(epoch_us(bucket_ts)) OVER (
                       PARTITION BY series ORDER BY bucket_ts) AS prev_us
              FROM t30
            )
            SELECT series,
                   make_timestamp(prev_us + {SEC_30M * 1_000_000}) AS gap_start,
                   make_timestamp(t_us - {SEC_30M * 1_000_000}) AS gap_end,
                   (t_us - prev_us) // {SEC_30M * 1_000_000} - 1 AS n_missing
            FROM lagged
            WHERE (t_us - prev_us) // {SEC_30M * 1_000_000} - 1 > 0""",
        "histogram_rollup": f"""
            SELECT user_id AS series,
                   {_bucket_sql('ts', SEC_1D)} AS bucket_ts,
                   CAST(floor(value / 0.5) AS BIGINT) AS bin,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM events GROUP BY 1, 2, 3""",
        "histogram_p95": f"""
            WITH h AS (
              SELECT user_id AS series,
                     {_bucket_sql('ts', SEC_1D)} AS bucket_ts,
                     CAST(floor(value / 0.5) AS BIGINT) AS bin,
                     count(*) AS cnt
              FROM events GROUP BY 1, 2, 3
            ),
            c AS (
              SELECT series, bucket_ts, bin,
                     sum(cnt) OVER (PARTITION BY series, bucket_ts
                                    ORDER BY bin) AS cum,
                     sum(cnt) OVER (PARTITION BY series, bucket_ts)
                       AS total
              FROM h
            )
            SELECT series, bucket_ts, min(bin) AS bin,
                   (CAST(min(bin) AS DOUBLE) + 0.5) * 0.5 AS estimate
            FROM c
            WHERE cum >= ceil(0.95 * total)
            GROUP BY series, bucket_ts""",
        "ewma_smooth": f"""
            WITH RECURSIVE t30 AS (
              SELECT user_id AS series,
                     {_bucket_sql('ts', SEC_30M)} AS bucket_ts,
                     CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE)
                       / count(value) AS value
              FROM events GROUP BY 1, 2
            ),
            ordered AS (
              SELECT *, row_number() OVER (
                       PARTITION BY series ORDER BY bucket_ts) AS rn
              FROM t30
            ),
            rec AS (
              SELECT series, bucket_ts, value, rn, value AS ewma
              FROM ordered WHERE rn = 1
              UNION ALL
              SELECT o.series, o.bucket_ts, o.value, o.rn,
                     0.1 * o.value + 0.9 * r.ewma
              FROM ordered o JOIN rec r
                ON o.series = r.series AND o.rn = r.rn + 1
            )
            SELECT series, bucket_ts, round(value, 4) AS value,
                   round(ewma, 4) AS ewma
            FROM rec""",
        "crawl_schedule": """
            SELECT doc_id, source AS domain,
                   CAST(('0x' || substr(md5(source), 1, 15))::BIGINT % 16
                        AS INTEGER) AS worker,
                   CAST(row_number() OVER (PARTITION BY source
                                           ORDER BY doc_id) - 1 AS INTEGER)
                     AS fetch_seq,
                   TIMESTAMP '2024-02-01 00:00:00'
                     + to_microseconds((row_number() OVER (
                         PARTITION BY source ORDER BY doc_id) - 1)
                         * 5000000) AS fetch_ts
            FROM documents""",
        "api_projection_policy": """
            SELECT ts, round(value, 4) AS value, event_type FROM events
            WHERE ts > TIMESTAMP '2023-07-01 00:00:00'
              AND ts <= TIMESTAMP '2024-07-01 00:00:00'
              AND event_type IN ('click', 'view', 'purchase')
              AND user_id = 7""",
        # doc_fingerprints: the per-token hash is the first 15 hex digits
        # of md5 mod p — portable; the positional powers 31^i mod p come
        # from a tiny recursive CTE and the fold becomes a HUGEINT sum
        "doc_fingerprints": r"""
            WITH RECURSIVE toks AS (
              SELECT doc_id, string_split_regex(trim(text), '\s+') AS l
              FROM documents
            ),
            pw(i, v) AS (
              SELECT 1, CAST(1 AS BIGINT)
              UNION ALL
              SELECT i + 1, (v * 31) % 2147483647 FROM pw
              WHERE i < (SELECT max(len(l)) FROM toks)
            ),
            ex AS (
              SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS i
              FROM toks
            ),
            h AS (
              SELECT doc_id, i,
                     ('0x' || substr(md5(tok), 1, 15))::BIGINT % 2147483647
                       AS th
              FROM ex
            )
            SELECT h.doc_id,
                   CAST(sum((h.th::HUGEINT * pw.v::HUGEINT) % 2147483647)
                        % 2147483647 AS BIGINT) AS fingerprint
            FROM h JOIN pw USING (i)
            GROUP BY h.doc_id""",
        # media_features: n_bytes/dim are exact functions of the synth
        # metadata (PPM header + raster, WAV header + PCM16, fake video
        # container) — the oracle recomputes them from the id formulas,
        # cross-checking that payload generation, decode and feature
        # plumbing agree with the declared metadata
        "media_features": """
            WITH m AS (
              SELECT i AS media_id,
                     CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                                ELSE 'video' END AS kind,
                     (i % 16 + 1) * 16 AS w, (i % 9 + 1) * 16 AS h,
                     (i % 30 + 1) * 1000 AS dur
              FROM range(128) t(i)
            )
            SELECT media_id, kind,
                   CAST(CASE kind
                     WHEN 'image' THEN 9 + length(w::VARCHAR)
                          + length(h::VARCHAR) + w * h * 3
                     WHEN 'audio' THEN 44 + 2 * ((4000 * dur) // 1000)
                     ELSE 263 END AS BIGINT) AS n_bytes,
                   8 AS dim
            FROM m""",
        "ann_ivf_topk": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings
                       WHERE vec_id = 0),
            c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS ce
                  FROM embeddings WHERE vec_id < 8),
            assign AS (
              SELECT e.vec_id, e.embedding, c.cid,
                     row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_distance(e.embedding::DOUBLE[], c.ce),
                                c.cid) AS rk
              FROM embeddings e CROSS JOIN c
            ),
            cells AS (SELECT cid FROM c, q
                      ORDER BY list_distance(c.ce, q.qe), cid LIMIT 3)
            SELECT vec_id,
                   round(list_cosine_similarity(embedding::DOUBLE[], qe), 4)
                     AS cosine_sim
            FROM assign, q
            WHERE rk = 1 AND cid IN (SELECT cid FROM cells)
            ORDER BY list_cosine_similarity(embedding::DOUBLE[], qe) DESC,
                     vec_id ASC
            LIMIT 10""",
    }
    # seeded-constant oracles: deterministic numpy hyperplanes / hash
    # params are INLINED into generated SQL, so bucket assignment,
    # probing and signature math are reproduced engine-portably
    sqls["embedding_near_dups"] = _near_dup_oracle_sql()
    sqls["ann_lsh_topk"] = _ann_lsh_oracle_sql()
    sqls["simhash_fingerprints"] = _simhash_oracle_sql()
    sqls["minhash_lsh_pairs"] = _minhash_oracle_sql()
    sqls["tier_serving_2h"] = f"""
        SELECT CAST(user_id AS VARCHAR) AS series,
               {_bucket_sql("ts", 7200)} AS bucket_ts, {_AGG_SQL}
        FROM events
        WHERE ts > TIMESTAMP '2024-01-02 00:00:00'
          AND ts <= TIMESTAMP '2024-01-04 00:00:00'
        GROUP BY 1, 2"""
    sqls["tier_serving_auto"] = f"""
        SELECT CAST(user_id AS VARCHAR) AS series,
               {_bucket_sql("ts", 3600)} AS bucket_ts, {_AGG_SQL}
        FROM events
        WHERE ts > TIMESTAMP '2024-01-02 00:00:00'
          AND ts <= TIMESTAMP '2024-01-04 00:00:00'
        GROUP BY 1, 2"""
    sqls["tier_serving_p95"] = f"""
        WITH h AS (
          SELECT CAST(user_id AS VARCHAR) AS series,
                 {_bucket_sql("ts", 7200)} AS bucket_ts,
                 CAST(floor(value / 0.5) AS BIGINT) AS bin,
                 count(*) AS cnt
          FROM events
          WHERE ts > TIMESTAMP '2024-01-02 00:00:00'
            AND ts <= TIMESTAMP '2024-01-04 00:00:00'
          GROUP BY 1, 2, 3
        ),
        c AS (
          SELECT series, bucket_ts, bin,
                 sum(cnt) OVER (PARTITION BY series, bucket_ts
                                ORDER BY bin) AS cum,
                 sum(cnt) OVER (PARTITION BY series, bucket_ts) AS total
          FROM h
        )
        SELECT series, bucket_ts, min(bin) AS bin,
               (CAST(min(bin) AS DOUBLE) + 0.5) * 0.5 AS estimate
        FROM c
        WHERE cum >= ceil(0.95 * total)
        GROUP BY series, bucket_ts"""
    sqls["cold_tier_p95"] = f"""
        WITH t30 AS (
          SELECT CAST(user_id AS VARCHAR) AS series,
                 {_bucket_sql("ts", SEC_30M)} AS b30,
                 CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE)
                   / count(value) AS v
          FROM events
          WHERE ts > TIMESTAMP '2024-01-08 00:00:00'
            AND ts <= TIMESTAMP '2024-01-22 00:00:00'
          GROUP BY 1, 2
        ),
        h AS (
          SELECT series, {_bucket_sql("b30", SEC_1D)} AS bucket_ts,
                 CAST(floor(v / 0.5) AS BIGINT) AS bin, count(*) AS cnt
          FROM t30 GROUP BY 1, 2, 3
        ),
        c AS (
          SELECT series, bucket_ts, bin,
                 sum(cnt) OVER (PARTITION BY series, bucket_ts
                                ORDER BY bin) AS cum,
                 sum(cnt) OVER (PARTITION BY series, bucket_ts) AS total
          FROM h
        )
        SELECT series, bucket_ts, min(bin) AS bin,
               (CAST(min(bin) AS DOUBLE) + 0.5) * 0.5 AS estimate
        FROM c
        WHERE cum >= ceil(0.95 * total)
        GROUP BY series, bucket_ts"""
    sqls["histogram_multi_q"] = f"""
        WITH h AS (
          SELECT user_id AS series,
                 {_bucket_sql("ts", SEC_1D)} AS bucket_ts,
                 CAST(floor(value / 0.5) AS BIGINT) AS bin,
                 count(*) AS cnt
          FROM events GROUP BY 1, 2, 3
        ),
        c AS (
          SELECT series, bucket_ts, bin,
                 sum(cnt) OVER (PARTITION BY series, bucket_ts
                                ORDER BY bin) AS cum,
                 sum(cnt) OVER (PARTITION BY series, bucket_ts) AS total
          FROM h
        )
        SELECT series, bucket_ts, CAST(0.5 AS DOUBLE) AS q,
                   min(bin) AS bin,
                   (CAST(min(bin) AS DOUBLE) + 0.5) * 0.5 AS estimate
            FROM c WHERE cum >= ceil(0.5 * total)
            GROUP BY series, bucket_ts
            UNION ALL
            SELECT series, bucket_ts, CAST(0.95 AS DOUBLE) AS q,
                   min(bin) AS bin,
                   (CAST(min(bin) AS DOUBLE) + 0.5) * 0.5 AS estimate
            FROM c WHERE cum >= ceil(0.95 * total)
            GROUP BY series, bucket_ts
            UNION ALL
            SELECT series, bucket_ts, CAST(0.99 AS DOUBLE) AS q,
                   min(bin) AS bin,
                   (CAST(min(bin) AS DOUBLE) + 0.5) * 0.5 AS estimate
            FROM c WHERE cum >= ceil(0.99 * total)
            GROUP BY series, bucket_ts"""
    sqls["streaming_histogram_30m"] = f"""
        SELECT event_type AS series,
               {_bucket_sql("ts", SEC_30M)} AS bucket_ts,
               CAST(floor(value / 0.5) AS BIGINT) AS bin,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2, 3"""
    sqls["pack_manifest"] = r"""
        WITH t AS (
          SELECT doc_id, doc_id % 8 AS shard,
                 CAST(len(regexp_split_to_array(trim(lower(text)), '\s+'))
                      AS BIGINT) AS n_tokens
          FROM documents
        ),
        o AS (
          SELECT doc_id, shard, n_tokens,
                 CAST(sum(n_tokens) OVER (PARTITION BY shard
                                          ORDER BY doc_id)
                      - n_tokens AS BIGINT) AS token_offset
          FROM t
        )
        SELECT doc_id, shard, n_tokens, token_offset,
               token_offset // 512 AS start_pack,
               (token_offset + greatest(n_tokens - 1, 0)) // 512
                 AS end_pack,
               token_offset % 512 AS offset_in_pack
        FROM o"""
    sqls["pack_read_plan"] = r"""
        WITH t AS (
          SELECT doc_id, doc_id % 8 AS shard,
                 CAST(len(regexp_split_to_array(trim(lower(text)), '\s+'))
                      AS BIGINT) AS n_tokens
          FROM documents
        ),
        o AS (
          SELECT doc_id, shard, n_tokens,
                 CAST(sum(n_tokens) OVER (PARTITION BY shard
                                          ORDER BY doc_id)
                      - n_tokens AS BIGINT) AS token_offset
          FROM t
        ),
        e AS (
          SELECT doc_id, shard, n_tokens, token_offset,
                 unnest([k for k in range(token_offset // 512,
                                          (token_offset
                                           + greatest(n_tokens - 1, 0))
                                          // 512 + 1)]) AS pack
          FROM o
        )
        SELECT shard, pack, doc_id,
               greatest(pack * 512 - token_offset, 0) AS doc_from,
               least(n_tokens, pack * 512 - token_offset + 512) AS doc_to
        FROM e
        WHERE least(n_tokens, pack * 512 - token_offset + 512)
              > greatest(pack * 512 - token_offset, 0)"""
    sqls["contamination_report"] = r"""
        WITH w AS (
          SELECT doc_id,
                 regexp_split_to_array(trim(lower(text)), '\s+') AS ws
          FROM documents
        ),
        sh0 AS (
          SELECT doc_id,
                 unnest([array_to_string(ws[i:i+7], ' ')
                         for i in range(1, greatest(len(ws) - 7, 1) + 1)])
                   AS sh
          FROM w
        ),
        sh AS (SELECT DISTINCT doc_id, sh FROM sh0 WHERE sh <> ''),
        d AS (SELECT * FROM sh WHERE doc_id % 17 <> 0),
        b AS (SELECT * FROM sh WHERE doc_id % 17 = 0),
        sizes AS (SELECT doc_id, count(*) AS n_shingles FROM d GROUP BY 1),
        hits AS (
          SELECT d.doc_id, count(DISTINCT d.sh) AS n_cont,
                 count(DISTINCT b.doc_id) AS n_bd
          FROM d JOIN b ON d.sh = b.sh GROUP BY 1
        )
        SELECT s.doc_id,
               CAST(s.n_shingles AS BIGINT) AS n_shingles,
               CAST(coalesce(n_cont, 0) AS BIGINT) AS n_contaminated,
               CAST(coalesce(n_bd, 0) AS BIGINT) AS n_bench_docs,
               round(CAST(coalesce(n_cont, 0) AS DOUBLE) / s.n_shingles,
                     4) AS contamination_frac
        FROM sizes s LEFT JOIN hits USING (doc_id)"""
    sqls["curation_pipeline_v2"] = r"""
        WITH dd AS (SELECT min(doc_id) AS doc_id FROM documents
                    GROUP BY text),
        docs2 AS (SELECT d.* FROM documents d JOIN dd USING (doc_id)),
        corpus AS (SELECT * FROM docs2 WHERE doc_id % 17 <> 0),
        w AS (SELECT doc_id,
                     regexp_split_to_array(trim(lower(text)), '\s+') AS ws
              FROM corpus),
        sh0 AS (SELECT doc_id,
                       unnest([array_to_string(ws[i:i+7], ' ')
                               for i in range(1, greatest(len(ws) - 7, 1)
                                              + 1)]) AS sh
                FROM w),
        dsh AS (SELECT DISTINCT doc_id, sh FROM sh0 WHERE sh <> ''),
        bw AS (SELECT doc_id,
                      regexp_split_to_array(trim(lower(text)), '\s+') AS ws
               FROM documents WHERE doc_id % 17 = 0),
        bsh0 AS (SELECT unnest([array_to_string(ws[i:i+7], ' ')
                                for i in range(1, greatest(len(ws) - 7, 1)
                                               + 1)]) AS sh
                 FROM bw),
        bsh AS (SELECT DISTINCT sh FROM bsh0 WHERE sh <> ''),
        contam AS (SELECT d.doc_id, count(*) AS n_sh,
                          count(CASE WHEN b.sh IS NOT NULL THEN 1 END)
                            AS n_cont
                   FROM dsh d LEFT JOIN bsh b USING (sh) GROUP BY 1),
        clean AS (SELECT doc_id FROM contam
                  WHERE CAST(n_cont AS DOUBLE) / n_sh < 0.5),
        tok AS (SELECT c.doc_id, c.doc_id % 4 AS shard,
                       CAST(len(regexp_split_to_array(trim(lower(c.text)),
                                                      '\s+'))
                            AS BIGINT) AS n_tokens
                FROM corpus c JOIN clean USING (doc_id)
                WHERE len(regexp_split_to_array(trim(lower(c.text)),
                                                '\s+')) >= 20),
        o AS (SELECT doc_id, shard, n_tokens,
                     CAST(sum(n_tokens) OVER (PARTITION BY shard
                                              ORDER BY doc_id)
                          - n_tokens AS BIGINT) AS off
              FROM tok)
        SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               CAST(max((off + greatest(n_tokens - 1, 0)) // 256) + 1
                    AS BIGINT) AS n_packs
        FROM o GROUP BY shard"""
    sqls["distinct_rollup_1d"] = f"""
        SELECT event_type AS series,
               {_bucket_sql("ts", SEC_1D)} AS bucket_ts,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct
        FROM events GROUP BY 1, 2"""
    sqls["tier_serving_distinct"] = f"""
        SELECT event_type AS series,
               {_bucket_sql("ts", 7200)} AS bucket_ts,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct
        FROM events
        WHERE ts > TIMESTAMP '2024-01-02 00:00:00'
          AND ts <= TIMESTAMP '2024-01-09 00:00:00'
        GROUP BY 1, 2"""
    sqls["zscore_anomalies"] = """
        WITH s AS (
          SELECT event_type AS series, ts, event_id,
                 CAST(value AS DECIMAL(18,4)) AS v
          FROM events
        ),
        w AS (
          SELECT series, ts, CAST(v AS DOUBLE) AS value,
                 CAST(sum(v) OVER fr AS DOUBLE) AS s1,
                 CAST(sum(v * v) OVER fr AS DOUBLE) AS s2,
                 count(v) OVER fr AS n
          FROM s
          WINDOW fr AS (PARTITION BY series ORDER BY ts, event_id
                        ROWS BETWEEN 48 PRECEDING AND 1 PRECEDING)
        )
        SELECT series, ts, round(value, 4) AS value,
               round(s1 / n, 4) AS baseline_mean,
               round(sqrt((s2 - s1 * s1 / n) / (n - 1.0)), 4)
                 AS baseline_std,
               round((value - s1 / n)
                     / sqrt((s2 - s1 * s1 / n) / (n - 1.0)), 4) AS zscore
        FROM w
        WHERE n >= 48
          AND sqrt((s2 - s1 * s1 / n) / (n - 1.0)) > 0
          AND abs((value - s1 / n)
                  / sqrt((s2 - s1 * s1 / n) / (n - 1.0))) >= 2.0"""
    sqls["seasonal_profile"] = """
        SELECT event_type AS series,
               CAST(isodow(ts) - 1 AS INT) AS weekday,
               CAST(hour(ts) AS INT) AS hour,
               round(CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE)
                     / count(*), 4) AS avg_value,
               CAST(count(*) AS BIGINT) AS n_samples
        FROM events GROUP BY 1, 2, 3"""
    sqls["rolling_mean_1h"] = """
        SELECT user_id, ts,
               round(avg(value) OVER w, 4) AS rolling_avg_1h,
               count(*) OVER w AS n_in_window
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                     AND CURRENT ROW)"""
    sqls["interval_join_windows"] = """
        SELECT v.user_id AS series, v.ts, round(v.value, 4) AS lv,
               p.ts AS purchase_ts
        FROM (SELECT user_id, ts, value FROM events
              WHERE event_type = 'view') v
        JOIN (SELECT user_id, ts FROM events
              WHERE event_type = 'purchase') p
          ON v.user_id = p.user_id
         AND v.ts >= p.ts - INTERVAL 15 MINUTE
         AND v.ts < p.ts + INTERVAL 15 MINUTE"""
    sqls["json_props_rollup"] = """
        SELECT event_type,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
               round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4)
                 AS avg_k,
               count(json_extract_string(props, '$.k')) AS n_k
        FROM events GROUP BY 1"""
    # streaming session windows: >-gap semantics — Spark's
    # session_window MERGES an event arriving exactly `gap` after the
    # previous one (touching intervals merge; pinned by
    # tests/test_streaming.py boundary test), same as the batch
    # sessionizer; window end = last event + gap
    sqls["streaming_sessionize"] = """
        WITH g AS (
          SELECT user_id, ts, event_id, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                           OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                              > 1800000000
                      THEN 1 ELSE 0 END AS new_sess
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), s AS (
          SELECT user_id, ts, value,
                 sum(new_sess) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS sid
          FROM g
        )
        SELECT user_id, min(ts) AS session_start,
               max(ts) + INTERVAL 30 MINUTE AS session_end,
               count(*) AS n_events,
               round(CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE), 2)
                 AS sum_value
        FROM s GROUP BY user_id, sid"""
    # per-source profile composed from the per-doc quality oracle (the
    # 4dp quantization happens per doc before the mean on both engines)
    sqls["source_quality_report"] = rf"""
        WITH q AS ({sqls["quality_score"]}),
        t AS (SELECT doc_id, source, n_chars,
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE len(regexp_split_to_array(trim(text), '\s+'))
                     END AS nt
              FROM documents)
        SELECT t.source, count(*) AS n_docs,
               round(avg(q.quality), 4) AS avg_quality,
               CAST(sum(t.nt) AS BIGINT) AS total_tokens,
               min(t.n_chars) AS min_chars, max(t.n_chars) AS max_chars
        FROM t JOIN q USING (doc_id) GROUP BY 1"""
    # §2.7 top-k per group: composed from the lang_id and quality_score
    # oracles (rank over the 4dp-quantized score, doc_id tie-break)
    sqls["topk_per_group"] = f"""
        WITH lp AS ({sqls["lang_id"]}), q AS ({sqls["quality_score"]})
        SELECT lang_pred, rk, doc_id, quality FROM (
          SELECT lp.lang_pred, q.doc_id, q.quality,
                 row_number() OVER (PARTITION BY lang_pred
                                    ORDER BY quality DESC, q.doc_id) AS rk
          FROM lp JOIN q USING (doc_id)
        ) t WHERE rk <= 3"""
    # the stateful streaming forward-fill answers the batch oracle
    # (series cast to VARCHAR to match the op's string state key)
    sqls["streaming_gapfill_30m"] = sqls["gapfill_30m"].replace(
        "SELECT user_id AS series", "SELECT CAST(user_id AS VARCHAR) AS series"
    )
    # Tiered retention: recompute every tier's post-expiry contents from
    # raw events. Cutoffs mirror RetentionPolicy(raw=5d, 30m=15d, 1d=0mo)
    # at now=2024-01-31; day_bucket uses the end-of-period convention
    # (ts - 1 us), the rule of plans/partitioning.day_bucket.
    b30us, b1dus = SEC_30M * 1_000_000, SEC_1D * 1_000_000
    sqls["tiered_retention"] = f"""
        WITH raw AS (
          SELECT CAST(user_id AS VARCHAR) AS series, ts, value,
                 CAST(ts - INTERVAL 1 MICROSECOND AS DATE) AS day_bucket
          FROM events
        ),
        t30 AS (
          SELECT series,
                 make_timestamp(((epoch_us(ts) + {b30us - 1}) // {b30us}) * {b30us}) AS bucket_ts,
                 sum(CAST(value AS DECIMAL(20,4))) AS sum_value,
                 count(value) AS cnt_value
          FROM raw GROUP BY 1, 2
        ),
        t1d AS (
          SELECT series,
                 make_timestamp(((epoch_us(ts) + {b1dus - 1}) // {b1dus}) * {b1dus}) AS bucket_ts,
                 sum(CAST(value AS DECIMAL(20,4))) AS sum_value,
                 count(value) AS cnt_value
          FROM raw GROUP BY 1, 2
        ),
        t1mo AS (
          SELECT series,
                 date_trunc('month', ts - INTERVAL 1 MICROSECOND) + INTERVAL 1 MONTH AS bucket_ts,
                 sum(CAST(value AS DECIMAL(20,4))) AS sum_value,
                 count(value) AS cnt_value
          FROM raw GROUP BY 1, 2
        )
        SELECT 'raw' AS tier, count(*) AS n_rows, count(value) AS n_points,
               round(CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE), 2) AS sum_value,
               min(ts) AS min_ts, max(ts) AS max_ts
        FROM raw WHERE day_bucket >= DATE '2024-01-26'
        UNION ALL
        SELECT 'agg_30m', count(*), CAST(sum(cnt_value) AS BIGINT),
               round(CAST(sum(sum_value) AS DOUBLE), 2), min(bucket_ts), max(bucket_ts)
        FROM t30 WHERE CAST(bucket_ts - INTERVAL 1 MICROSECOND AS DATE) >= DATE '2024-01-16'
        UNION ALL
        SELECT 'agg_1d', count(*), CAST(sum(cnt_value) AS BIGINT),
               round(CAST(sum(sum_value) AS DOUBLE), 2), min(bucket_ts), max(bucket_ts)
        FROM t1d
        UNION ALL
        SELECT 'agg_1mo', count(*), CAST(sum(cnt_value) AS BIGINT),
               round(CAST(sum(sum_value) AS DOUBLE), 2), min(bucket_ts), max(bucket_ts)
        FROM t1mo"""
    # Per-domain stats over messy crawl URLs: the oracle rebuilds the
    # same deterministic URLs and reparses them with RE2 regexps
    # mirroring functions/web.py's Catalyst expressions. Path depth =
    # '/' count (valid here: constructed paths have no trailing or
    # doubled slashes).
    sqls["domain_stats"] = r"""
        WITH u AS (
          SELECT doc_id, text,
            (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END) || '://' ||
            (CASE WHEN doc_id % 11 = 0 THEN 'bot:pw@' ELSE '' END) ||
            'WWW.' || source || '.COM' ||
            (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END) ||
            '/Articles/' || CAST(doc_id % 7 AS VARCHAR) || '/doc-' ||
            CAST(doc_id AS VARCHAR) ||
            (CASE WHEN doc_id % 4 = 0 THEN '?ref=' || lang ELSE '' END) ||
            (CASE WHEN doc_id % 5 = 0 THEN '#top' ELSE '' END) AS url
          FROM documents
        ),
        p AS (
          SELECT doc_id, text,
            lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
            lower(regexp_replace(regexp_replace(
              regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
              '^[^@]*@', ''), ':[0-9]*$', '')) AS host,
            regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
            regexp_extract(url, '\?([^#]*)', 1) AS query
          FROM u
        ),
        n AS (
          SELECT doc_id, text,
            regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain,
            length(path) - length(replace(path, '/', '')) AS depth,
            scheme || '://' || host || path ||
            (CASE WHEN query = '' THEN '' ELSE '?' || query END) AS normalized
          FROM p
        )
        SELECT domain, count(*) AS n_docs,
               count(DISTINCT normalized) AS n_urls,
               CAST(max(depth) AS BIGINT) AS max_depth,
               round(CAST(sum(CAST(length(text) AS DECIMAL(20,4))) AS DOUBLE)
                     / count(*), 4) AS mean_len
        FROM n GROUP BY domain"""
    # Stratified sampling with the engine-portable bucket: identical
    # multiplicative-hash keep rule in SQL.
    sqls["stratified_sample"] = """
        SELECT doc_id, lang, source FROM documents
        WHERE (doc_id * 2654435761) % 1000000 <
              CASE lang WHEN 'en' THEN 500000
                        WHEN 'de' THEN 250000
                        ELSE 750000 END"""
    # Incremental pipeline == single-shot rollup over all events.
    sqls["incremental_rollup"] = f"""
        SELECT CAST(user_id AS VARCHAR) AS series, {b30} AS bucket_ts, {_AGG_SQL}
        FROM events GROUP BY 1, 2"""
    # 3d serving from the daily tier == direct 3d rollup of the window
    # (day-aligned bounds make tier-bucket slicing equal raw slicing).
    sqls["tier_serving_3d"] = f"""
        SELECT CAST(user_id AS VARCHAR) AS series,
               {_bucket_sql("ts", 3 * SEC_1D)} AS bucket_ts, {_AGG_SQL}
        FROM events
        WHERE ts > TIMESTAMP '2024-01-03 00:00:00'
          AND ts <= TIMESTAMP '2024-01-27 00:00:00'
        GROUP BY 1, 2"""
    # Codec range decode == direct 30m rollup of the window.
    sqls["codec_range_decode"] = f"""
        SELECT CAST(user_id AS VARCHAR) AS series,
               {_bucket_sql("ts", SEC_30M)} AS bucket_ts,
               round(CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE)
                     / count(value), 4) AS value
        FROM events
        WHERE ts > TIMESTAMP '2024-01-08 00:00:00'
          AND ts <= TIMESTAMP '2024-01-22 00:00:00'
        GROUP BY 1, 2"""
    # Repetition filters: identical token/bigram/sentence list math in
    # DuckDB lambdas (generate_series(1,0) and Spark's guarded sequence
    # both yield the empty bigram list for 1-token docs).
    sqls["repetition_filters"] = r"""
        WITH laced AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 6 = 0 THEN text || '. ' || text
                      ELSE text END AS text
          FROM documents
        ),
        tok AS (
          SELECT doc_id, text,
                 regexp_split_to_array(trim(lower(text)), '\s+') AS t
          FROM laced
        ),
        bg AS (
          SELECT doc_id, text, t, len(t) AS n,
                 list_transform(generate_series(1, len(t) - 1),
                                i -> t[i] || ' ' || t[i + 1]) AS bigrams
          FROM tok
        ),
        m AS (
          SELECT doc_id, text, n,
                 CASE WHEN n <= 1 THEN 0.0
                      ELSE CAST(list_max(list_transform(list_distinct(bigrams),
                             b -> len(list_filter(bigrams, x -> x = b)))) AS DOUBLE)
                           / (n - 1) END AS bigram_frac,
                 CASE WHEN len(string_split(text, '. ')) <= 0 THEN 0.0
                      ELSE 1.0 - CAST(len(list_distinct(string_split(text, '. '))) AS DOUBLE)
                                 / len(string_split(text, '. ')) END AS dup_frac
          FROM bg
        )
        SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
               round(bigram_frac, 6) AS top_bigram_frac,
               round(dup_frac, 6) AS dup_sent_frac,
               (bigram_frac <= 0.2 AND dup_frac <= 0.3) AS keep
        FROM m"""
    # Chunking: identical stride/window math with DuckDB list slicing.
    sqls["chunk_documents"] = r"""
        WITH tok AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
          FROM documents
        ),
        b AS (
          SELECT doc_id, t, len(t) AS n,
                 1 + (CASE WHEN len(t) > 40
                           THEN (len(t) - 40 + 29) // 30 ELSE 0 END) AS n_chunks
          FROM tok
        ),
        c AS (
          SELECT doc_id, t, n,
                 unnest(generate_series(0, n_chunks - 1)) AS chunk_id
          FROM b
        )
        SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
               CAST(len(list_slice(t, chunk_id * 30 + 1,
                                   least(chunk_id * 30 + 40, n))) AS BIGINT) AS chunk_n_tokens,
               md5(array_to_string(list_slice(t, chunk_id * 30 + 1,
                                              least(chunk_id * 30 + 40, n)), ' ')) AS chunk_md5
        FROM c"""
    # Streaming ingest feeding the batch cascade == direct rollup.
    sqls["streaming_ingest_rollup"] = f"""
        SELECT CAST(user_id AS VARCHAR) AS series, {b30} AS bucket_ts, {_AGG_SQL}
        FROM events GROUP BY 1, 2"""
    # Cold-tier serving: decoded blocks == direct 30m rollup of window
    # (same oracle as codec_range_decode — the path differs, not the
    # answer).
    sqls["cold_tier_serving"] = f"""
        SELECT CAST(user_id AS VARCHAR) AS series,
               {_bucket_sql("ts", SEC_30M)} AS bucket_ts,
               round(CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE)
                     / count(value), 4) AS value
        FROM events
        WHERE ts > TIMESTAMP '2024-01-08 00:00:00'
          AND ts <= TIMESTAMP '2024-01-22 00:00:00'
        GROUP BY 1, 2"""
    # Curation composition: same dedup/filter/sample/chunk math chained.
    sqls["curation_pipeline"] = r"""
        WITH dd AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
        docs2 AS (SELECT d.* FROM documents d JOIN dd USING (doc_id)),
        tok AS (SELECT doc_id, lang,
                       len(regexp_split_to_array(trim(lower(text)), '\s+')) AS n
                FROM docs2),
        filt AS (SELECT * FROM tok WHERE n >= 20),
        samp AS (SELECT * FROM filt
                 WHERE (doc_id * 2654435761) % 1000000 <
                       CASE lang WHEN 'en' THEN 500000 ELSE 750000 END),
        ch AS (SELECT doc_id, lang, n,
                      1 + (CASE WHEN n > 40 THEN (n - 40 + 29) // 30
                                ELSE 0 END) AS n_chunks
               FROM samp)
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
               CAST(sum(n) AS BIGINT) AS n_tokens
        FROM ch GROUP BY lang"""
    # Rollback: the restored live table equals the first tranche.
    sqls["rollback_read"] = """
        SELECT user_id, event_id, ts, round(value, 4) AS value,
               strftime(ts, '%Y-%m-%d') AS day
        FROM events WHERE event_id % 2 = 0"""
    # Time travel: the first snapshot sees only the first tranche.
    sqls["time_travel_read"] = """
        SELECT user_id, event_id, ts, round(value, 4) AS value,
               strftime(ts, '%Y-%m-%d') AS day
        FROM events WHERE event_id % 2 = 0"""
    # Late-rewrite detection: source values doubled on the rewritten day.
    sqls["late_rewrite_rollup"] = f"""
        WITH src AS (
          SELECT CAST(user_id AS VARCHAR) AS series, ts,
                 CASE WHEN CAST(ts - INTERVAL 1 MICROSECOND AS DATE) = DATE '2024-01-10'
                      THEN value * 2 ELSE value END AS value
          FROM events
        )
        SELECT series, {b30} AS bucket_ts, {_AGG_SQL}
        FROM src GROUP BY 1, 2"""
    # Skew report: identical count/share/ceil arithmetic and tie-break.
    sqls["skew_report"] = """
        WITH c AS (SELECT user_id, count(*) AS key_rows FROM events GROUP BY 1),
        t AS (SELECT CAST(sum(key_rows) AS BIGINT) AS total FROM c)
        SELECT user_id, key_rows,
               round(CAST(key_rows AS DOUBLE) / total, 6) AS row_share,
               CAST(ceil(CAST(key_rows AS DOUBLE)
                         / (CAST(total AS DOUBLE) / 32)) AS BIGINT) AS suggested_salts
        FROM c, t
        ORDER BY key_rows DESC, user_id ASC
        LIMIT 10"""
    # PII redaction: rebuild the laced text, count + scrub with the
    # same RE2-compatible patterns (functions/text.py EMAIL/PHONE/IPV4).
    sqls["pii_redaction"] = r"""
        WITH laced AS (
          SELECT doc_id,
            text || ' Contact user' || CAST(doc_id AS VARCHAR) || '@mail-' ||
            source || '.com' ||
            (CASE WHEN doc_id % 3 = 0
                  THEN ' call +1415' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  ELSE '' END) ||
            (CASE WHEN doc_id % 4 = 0
                  THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
                       CAST(doc_id % 100 AS VARCHAR)
                  ELSE '' END) AS text
          FROM documents
        ),
        red AS (
          SELECT doc_id, text,
            regexp_replace(
              regexp_replace(
                regexp_replace(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                '\+[0-9]{7,15}', '<PHONE>', 'g'),
              '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g') AS redacted
          FROM laced
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(text, '\+[0-9]{7,15}')) AS BIGINT) AS n_phones,
               CAST(len(regexp_extract_all(text, '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS n_ips,
               md5(redacted) AS redacted_md5,
               CAST(length(redacted) AS BIGINT) AS redacted_len
        FROM red"""
    # Export sharding with the portable bucket: identical shard + dense
    # per-shard position in SQL.
    sqls["export_shards"] = """
        SELECT doc_id, lang,
               CAST((doc_id * 2654435761) % 1000000 % 8 AS BIGINT) AS shard,
               CAST(row_number() OVER (
                 PARTITION BY (doc_id * 2654435761) % 1000000 % 8
                 ORDER BY doc_id) - 1 AS BIGINT) AS shard_pos
        FROM documents"""
    # Snapshot lineage: expected partition inventory per tier, derived
    # from raw events with the same end-of-period bucket labels the
    # engine's partition keys use.
    sqls["snapshot_lineage"] = f"""
        SELECT 'pages' AS table_name,
               'day_bucket=' || strftime(CAST(ts - INTERVAL 1 MICROSECOND AS DATE), '%Y-%m-%d') AS partition_dir,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(NULL AS VARCHAR) AS input_table
        FROM events GROUP BY 2
        UNION ALL
        SELECT 'agg_30m',
               'day_bucket=' || strftime(CAST(bucket_ts - INTERVAL 1 MICROSECOND AS DATE), '%Y-%m-%d'),
               CAST(count(*) AS BIGINT), 'pages'
        FROM (SELECT DISTINCT CAST(user_id AS VARCHAR) AS series,
                     {_bucket_sql("ts", SEC_30M)} AS bucket_ts FROM events)
        GROUP BY 2
        UNION ALL
        SELECT 'agg_1d',
               'month_bucket=' || strftime(bucket_ts - INTERVAL 1 MICROSECOND, '%Y-%m'),
               CAST(count(*) AS BIGINT), 'agg_30m'
        FROM (SELECT DISTINCT CAST(user_id AS VARCHAR) AS series,
                     {_bucket_sql("ts", SEC_1D)} AS bucket_ts FROM events)
        GROUP BY 2"""
    # Linear-interpolation gap-fill: same spine as gapfill_30m, then
    # prev/next IGNORE NULLS windows and the exact arithmetic shape of
    # operators/gapfill.interpolate_gaps (doubles match bit-for-bit).
    sqls["gapfill_interpolate"] = """
        WITH b AS (SELECT user_id AS series, make_timestamp(((epoch_us(ts) + 1799999999) // 1800000000) * 1800000000) AS bucket_ts,
                          CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) / count(value) AS v
                   FROM events GROUP BY 1, 2),
        r AS (SELECT series, min(bucket_ts) mn, max(bucket_ts) mx FROM b GROUP BY 1),
        spine AS (SELECT series, unnest(generate_series(mn, mx, INTERVAL 30 MINUTE)) AS bucket_ts FROM r),
        j AS (SELECT s.series, s.bucket_ts, b.v FROM spine s
              LEFT JOIN b ON b.series = s.series AND b.bucket_ts = s.bucket_ts),
        w AS (SELECT series, bucket_ts, v, epoch_us(bucket_ts) AS t,
                last_value(v IGNORE NULLS) OVER (
                  PARTITION BY series ORDER BY bucket_ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
                last_value(CASE WHEN v IS NOT NULL THEN epoch_us(bucket_ts) END IGNORE NULLS) OVER (
                  PARTITION BY series ORDER BY bucket_ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
                first_value(v IGNORE NULLS) OVER (
                  PARTITION BY series ORDER BY bucket_ts
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
                first_value(CASE WHEN v IS NOT NULL THEN epoch_us(bucket_ts) END IGNORE NULLS) OVER (
                  PARTITION BY series ORDER BY bucket_ts
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
              FROM j)
        SELECT series, bucket_ts,
               round(CASE WHEN v IS NOT NULL THEN v
                     WHEN pv IS NOT NULL AND nv IS NOT NULL
                     THEN pv + (nv - pv) * (CAST(t - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
                     END, 4) AS value,
               v IS NULL AS is_filled
        FROM w"""
    # Irregular-series analytics (operators/timeseries.py): the oracles
    # mirror the window + exact-decimal arithmetic; ties broken by
    # event_id in both engines so lead/lag are reproducible.
    sqls["time_weighted_avg"] = f"""
        WITH s AS (
          SELECT event_type AS series, ts, event_id,
                 CAST(value AS DECIMAL(20,4)) AS v,
                 {_bucket_sql("ts", SEC_30M)} AS bucket_ts,
                 lead(epoch_us(ts)) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
                 ) AS next_us
          FROM events
        ),
        h AS (
          SELECT series, bucket_ts, v,
                 least(coalesce(next_us, epoch_us(bucket_ts)),
                       epoch_us(bucket_ts)) - epoch_us(ts) AS held
          FROM s
        )
        SELECT series, bucket_ts,
               round(CASE WHEN sum(held) > 0
                     THEN CAST(sum(v * held) AS DOUBLE) / sum(held)
                     ELSE CAST(sum(v) AS DOUBLE) / count(*) END, 4) AS twa_value,
               count(*) AS n_samples
        FROM h GROUP BY 1, 2"""
    sqls["twa_raw_sparse"] = f"""
        WITH s AS (
          SELECT CAST(user_id AS VARCHAR) AS series, ts, event_id,
                 CAST(value AS DECIMAL(20,4)) AS v,
                 {_bucket_sql("ts", SEC_30M)} AS bucket_ts,
                 lead(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                 ) AS next_us
          FROM events
        ),
        h AS (
          SELECT series, bucket_ts, v,
                 least(coalesce(next_us, epoch_us(bucket_ts)),
                       epoch_us(bucket_ts)) - epoch_us(ts) AS held
          FROM s
        )
        SELECT series, bucket_ts,
               round(CASE WHEN sum(held) > 0
                     THEN CAST(sum(v * held) AS DOUBLE) / sum(held)
                     ELSE CAST(sum(v) AS DOUBLE) / count(*) END, 4) AS twa_value,
               count(*) AS n_samples
        FROM h GROUP BY 1, 2"""
    sqls["m4_downsample"] = f"""
        WITH b AS (
          SELECT event_type AS series, ts, event_id, value,
                 {_bucket_sql("ts", SEC_30M)} AS bucket_ts
          FROM events
        ),
        s AS (
          SELECT series, bucket_ts, value,
                 row_number() OVER (PARTITION BY series, bucket_ts
                                    ORDER BY ts, event_id) AS ra,
                 row_number() OVER (PARTITION BY series, bucket_ts
                                    ORDER BY ts DESC, event_id DESC) AS rd
          FROM b
        )
        SELECT series, bucket_ts,
               round(min(value), 4) AS min_value,
               round(max(value), 4) AS max_value,
               round(max(CASE WHEN ra = 1 THEN value END), 4) AS first_value,
               round(max(CASE WHEN rd = 1 THEN value END), 4) AS last_value
        FROM s GROUP BY 1, 2"""
    sqls["counter_rate"] = f"""
        WITH s AS (
          SELECT event_type AS series,
                 {_bucket_sql("ts", SEC_30M)} AS bucket_ts,
                 CAST(value AS DECIMAL(20,4)) AS v,
                 lag(CAST(value AS DECIMAL(20,4))) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
                 ) AS pv
          FROM events
        )
        SELECT series, bucket_ts,
               round(CAST(sum(CASE WHEN pv IS NULL THEN 0
                                   WHEN v >= pv THEN v - pv
                                   ELSE v END) AS DOUBLE), 4) AS increase,
               count(*) AS n_samples
        FROM s GROUP BY 1, 2"""
    # Outlink graph: rebuild the deterministic HTML, extract every href,
    # canonicalize host -> registered domain exactly as functions/web.py.
    sqls["outlink_stats"] = r"""
        WITH h AS (
          SELECT doc_id,
            '<html><body><p>' || text || '</p><a href="https://' || source ||
            '.COM/next/' || CAST(doc_id + 1 AS VARCHAR) || '">n</a>' ||
            (CASE WHEN doc_id % 3 = 0
                  THEN '<a class="x" href="HTTP://Partner-' ||
                       CAST(doc_id % 13 AS VARCHAR) || '.org/ref">p</a>'
                  ELSE '' END) ||
            '</body></html>' AS html
          FROM documents
        ),
        l AS (
          SELECT doc_id,
                 unnest(regexp_extract_all(html, 'href="([^"]+)"', 1)) AS link
          FROM h
        ),
        p AS (
          SELECT doc_id,
            lower(regexp_replace(regexp_replace(
              regexp_extract(link, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
              '^[^@]*@', ''), ':[0-9]*$', '')) AS host
          FROM l
        )
        SELECT regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS link_domain,
               count(*) AS n_links,
               count(DISTINCT doc_id) AS n_docs
        FROM p GROUP BY 1"""
    # Compaction is a physical re-layout only: readback == plain SELECT.
    sqls["compact_roundtrip"] = """
        SELECT user_id, event_id, ts, round(value, 4) AS value,
               strftime(ts, '%Y-%m-%d') AS day
        FROM events"""
    # Streaming dedup: first-arrival-wins over (documents + in-horizon
    # re-crawls) == one row per distinct text; md5/length recomputed
    # from the text make the row winner-invariant.
    sqls["streaming_dedup"] = """
        SELECT md5(text) AS content_md5,
               CAST(length(text) AS BIGINT) AS text_len
        FROM (SELECT DISTINCT text FROM documents)"""
    # P5 variant: identical parse oracle with the metadata pre-filter
    sqls["parse_csv_filtered"] = sqls["parse_csv_to_long"].replace(
        "FROM long GROUP BY ALL",
        "FROM long WHERE resource_type = 'wind' GROUP BY ALL",
    )
    return {k: _rewrite_rounds(v) for k, v in sqls.items()}
