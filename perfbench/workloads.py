"""The four benchmark workloads and their output checks.

Each workload has a set-up (pre-built state, untimed for the workload's
metrics but reported as ``setup_s``), an operation the timed window
repeats, a cheap check after every operation and a final check after the
window. An operation that raises, or whose check fails, counts as failed.

Engine modules are reached through their module attributes at call time
(``pipeline.ingest_pages``, not a from-import), so the traced run's
wrappers see every call.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType, TimestampNTZType

import inputs
from tracing import maybe_span

from isp_trace_parser_spark import api, parse, pipeline, serving
from isp_trace_parser_spark.mappings import name_mapping
from isp_trace_parser_spark.operators.retention import RetentionPolicy
from isp_trace_parser_spark.sources.catalog import Catalog

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampNTZType()),
        StructField("value", DoubleType()),
    ]
)
BIN_WIDTH = 1.0
BLOCK = "7 days"
PIPELINE_ARGS = {"histogram_bin_width": BIN_WIDTH, "encode_blocks": True, "block_size": BLOCK}
WAREHOUSE_TABLES = ["pages", "agg_30m", "agg_1d", "agg_1mo", "hist_30m", "hist_1d", "blocks_30m"]
# the 30m tiers are kept past the end of the data: a month re-rolled from
# a partly expired 30m tier would lose its expired days
POLICY = RetentionPolicy(raw_keep_days=14, t30_keep_days=3650, t1d_keep_months=36)
FY_YEARS = [2025, 2026]
REF_YEARS = [2018, 2019]


def midnight_after(day: dt.date) -> dt.datetime:
    return dt.datetime.combine(day + dt.timedelta(days=1), dt.time())


def table_bytes(cat: Catalog, tables: list[str]) -> int:
    return sum(cat.last_snapshot(t)["bytes"] for t in tables if cat.exists(t))


def drop_catalog(cat: Catalog | None) -> None:
    """Remove a previous operation's warehouse (outside the timed op)."""
    if cat is not None:
        shutil.rmtree(os.path.dirname(cat.warehouse))


def snapshot_log_bytes(cat: Catalog) -> int:
    return sum(
        os.path.getsize(cat._snapshot_log(t))
        for t in sorted(os.listdir(cat.warehouse))
        if cat.exists(t)
    )


class Ctx:
    """What every workload shares: the session, the run's scratch root,
    the seed, the scale and the tracer (None when untraced)."""

    def __init__(self, spark, root: str, seed: int, scale: float, tracer) -> None:
        self.spark = spark
        self.root = root
        self.seed = seed
        self.scale = scale
        self.tracer = tracer
        self._n = 0

    def fresh_dir(self, label: str) -> str:
        self._n += 1
        path = os.path.join(self.root, f"{label}-{self._n}")
        os.makedirs(path)
        return path

    def size(self, full: int, least: int) -> int:
        return max(least, round(full * self.scale))

    def to_spark(self, frame: pd.DataFrame):
        """The frame as a cached Spark DataFrame, loaded from a parquet
        file (several times faster than ``createDataFrame``)."""
        path = os.path.join(self.fresh_dir("input"), "pages.parquet")
        frame.astype({"warc_ts": "datetime64[us]"}).to_parquet(path, index=False)
        df = self.spark.read.schema(PAGES_SCHEMA).parquet(path).cache()
        df.count()
        return df


def run_query(ctx: Ctx, cat: Catalog, spec: dict) -> pd.DataFrame:
    """Route, plan and execute one dashboard query; the result leaves
    through ``toPandas()``."""
    kind = spec["kind"]
    layer = "api" if kind.startswith("api") else "serving"
    with maybe_span(ctx.tracer, f"{layer}.plan" if layer == "api" else "serving.route", kind=kind):
        if layer == "api":
            traces = cat.read("traces")
            if kind == "api_single":
                y = spec["year"]
                df = api.query_single_reference_year(
                    traces, start_year=y, end_year=y, reference_year=spec["ref_year"],
                    filters={"entity": spec["entity"]},
                )
            else:
                df = api.query_multiple_reference_years(
                    traces, spec["mapping"], filters={"entity": spec["entity"]}
                )
        else:
            store = serving.TierStore(cat)
            lo, hi = spec["window"]
            if kind == "series_30m":
                df = store.series(spec["series"], lo, hi, resolution="30m")
            elif kind == "series_2h":
                df = store.series(spec["series"], lo, hi, resolution="2h")
            elif kind == "series_1d":
                df = store.series(spec["series"], lo, hi, resolution="1d")
            elif kind == "series_auto":
                df, _res = store.series_auto(lo, hi, series=spec["series"], max_points=200)
            elif kind == "percentiles":
                df = store.percentiles(
                    [0.5, 0.9, 0.99], spec["series"], lo, hi, resolution="2h", bin_width=BIN_WIDTH
                )
            else:  # cold_30m
                df = serving.series_30m_from_blocks(cat, spec["series"], lo, hi, block_span=BLOCK)
    with maybe_span(ctx.tracer, f"{layer}.exec", kind=kind):
        return df.toPandas()


def canonical(frame: pd.DataFrame) -> pd.DataFrame:
    """Row order of a query result is unspecified beyond its sort keys:
    compare results in a total order."""
    return frame.sort_values(list(frame.columns), kind="mergesort").reset_index(drop=True)


def build_warehouse(ctx: Ctx, cat: Catalog, pages_df, **kw):
    pipeline.ingest_pages(cat, pages_df, n_buckets=1)
    return pipeline.run_rollup_pipeline(ctx.spark, cat, **PIPELINE_ARGS, **kw)


def parse_into(ctx: Ctx, cat: Catalog, directory: str) -> dict:
    return parse.parse_traces(ctx.spark, directory, cat, "traces", name_mapping())


class Workload:
    """``setup`` builds the pre-built state and ends with a warm-up pass
    over the operation's own code paths, so the JVM's compiled code and
    the Python workers are warm before the timed window opens."""

    min_ops = 1
    main_catalog: Catalog | None  # the warehouse the checks and metrics read

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx

    def setup(self) -> None: ...

    def op(self, i: int) -> int:
        """Run operation ``i``; return the rows it moved."""
        raise NotImplementedError

    def check_op(self, i: int) -> bool:
        return True

    def final_checks(self) -> list[bool]:
        return []

    def exhausted(self) -> bool:
        return False

    def storage(self) -> tuple[int, int]:
        """(bytes stored, rows they hold) for ``stored_bytes_per_row``."""
        raise NotImplementedError


class BulkBuild(Workload):
    """Seeded pages into a fresh warehouse: ingest plus the full pipeline
    (tiers, histogram tiers, Gorilla blocks). One week from Thursday
    Jan 4 2024: exactly one 7-day block."""

    min_ops = 3

    def setup(self) -> None:
        c = self.ctx
        self.frame = inputs.pages_frame(c.seed, c.size(1280, 8), dt.date(2024, 1, 4), 7)
        self.pages = c.to_spark(self.frame)
        self.rows = len(self.frame)
        self.main_catalog = None
        # warm-up: one build of the same input. A build of a small input
        # leaves the first full-size build as costly as a cold one.
        self.op(-1)
        self.check_op(-1)

    def op(self, i: int) -> int:
        cat = Catalog(self.ctx.spark, self.ctx.fresh_dir("bulk") + "/wh")
        build_warehouse(self.ctx, cat, self.pages)
        self.previous, self.main_catalog = self.main_catalog, cat
        return self.rows

    def check_op(self, i: int) -> bool:
        drop_catalog(self.previous)
        cat = self.main_catalog
        return cat.last_snapshot("pages")["rows"] == self.rows and all(
            cat.exists(t) for t in WAREHOUSE_TABLES
        )

    def final_checks(self) -> list[bool]:
        cat = self.main_catalog
        sums = [
            cat.read(t).agg(F.sum(col)).first()[0]
            for t, col in [("agg_30m", "cnt_value"), ("agg_1d", "cnt_value"),
                           ("agg_1mo", "cnt_value"), ("hist_30m", "cnt"), ("hist_1d", "cnt")]
        ]
        sample = sorted(np.random.default_rng([self.ctx.seed, 5]).choice(
            self.frame["url"].unique(), 3, replace=False))
        store = serving.TierStore(cat)
        hot = canonical(store.series(sample, resolution="30m").toPandas())
        daily = canonical(store.series(sample, resolution="1d").toPandas())
        cold = canonical(serving.series_30m_from_blocks(cat, sample, block_span=BLOCK).toPandas())
        return [
            all(s == self.rows for s in sums),
            hot[["series", "bucket_ts", "avg_value"]].equals(self.oracle_30m(sample)),
            daily[["series", "bucket_ts", "avg_value", "min_value", "max_value", "cnt_value"]]
            .equals(self.oracle_1d(sample)),
            cold.equals(hot[["series", "bucket_ts", "avg_value"]]),
        ]

    def oracle_30m(self, sample: list[str]) -> pd.DataFrame:
        f = self.frame[self.frame["url"].isin(sample)]
        out = pd.DataFrame({"series": f["url"], "bucket_ts": f["warc_ts"], "avg_value": f["value"]})
        return canonical(out)

    def oracle_1d(self, sample: list[str]) -> pd.DataFrame:
        f = self.frame[self.frame["url"].isin(sample)]
        day_end = (f["warc_ts"] - pd.Timedelta(seconds=1)).dt.floor("D") + pd.Timedelta(days=1)
        g = f.groupby([f["url"].rename("series"), day_end.rename("bucket_ts")])["value"]
        out = g.agg(["sum", "min", "max", "count"]).reset_index()
        out["avg_value"] = out["sum"] / out["count"]
        out = out.rename(columns={"min": "min_value", "max": "max_value", "count": "cnt_value"})
        cols = ["series", "bucket_ts", "avg_value", "min_value", "max_value", "cnt_value"]
        return canonical(out[cols])

    def storage(self) -> tuple[int, int]:
        return table_bytes(self.main_catalog, WAREHOUSE_TABLES), self.rows


class DailyIncrement(Workload):
    """Land one new day at a time into a built warehouse, each followed by
    an incremental pipeline run with retention and an advancing ``now``.
    The days start on Jan 30 2024, so the third crosses both a month and
    a 7-day block boundary (blocks align to Thursdays; Feb 1 2024 is one)."""

    min_ops = 3
    first_day = dt.date(2024, 1, 30)
    max_days = 24

    def setup(self) -> None:
        c = self.ctx
        n_base = c.size(14, 4)
        base_start = self.first_day - dt.timedelta(days=n_base + 1)
        self.frame = inputs.pages_frame(
            c.seed, c.size(100, 8), base_start, n_base + 1 + self.max_days
        )
        day = inputs.day_of(self.frame)
        self.base_rows = int((day < self.first_day).sum())
        self.day_rows = day.value_counts().to_dict()
        self.pages = c.to_spark(self.frame)
        self.main_catalog = Catalog(c.spark, c.fresh_dir("daily") + "/wh")
        base_end = midnight_after(self.first_day - dt.timedelta(days=2))
        build_warehouse(
            c, self.main_catalog, self.pages.where(F.col("warc_ts") <= F.lit(base_end)),
            policy=POLICY, now=base_end,
        )
        self.landed = -1  # the warm-up lands the day before the window's first
        self.op(-1)
        self.check_op(-1)

    def day_df(self, day: dt.date):
        lo = dt.datetime.combine(day, dt.time())
        ts = F.col("warc_ts")
        return self.pages.where((ts > F.lit(lo)) & (ts <= F.lit(midnight_after(day))))

    def op(self, i: int) -> int:
        day = self.first_day + dt.timedelta(days=i)  # i = -1: warm-up day
        pipeline.ingest_pages(self.main_catalog, self.day_df(day), n_buckets=1, mode="dynamic")
        self.last_result = pipeline.run_rollup_pipeline(
            self.ctx.spark, self.main_catalog, **PIPELINE_ARGS, policy=POLICY,
            now=midnight_after(day),
        )
        self.landed = i + 1
        return self.day_rows[day]

    def check_op(self, i: int) -> bool:
        res = self.last_result
        return "agg_30m" in res.stages_run and "retention" in res.stages_run

    def exhausted(self) -> bool:
        return self.landed >= self.max_days

    def final_checks(self) -> list[bool]:
        last = self.first_day + dt.timedelta(days=self.landed - 1)
        fresh = Catalog(self.ctx.spark, self.ctx.fresh_dir("daily-fresh") + "/wh")
        build_warehouse(
            self.ctx, fresh, self.pages.where(F.col("warc_ts") <= F.lit(midnight_after(last))),
            policy=POLICY, now=midnight_after(last),
        )
        return [
            fingerprint(self.main_catalog, t) == fingerprint(fresh, t) for t in WAREHOUSE_TABLES
        ]

    def storage(self) -> tuple[int, int]:
        landed = self.base_rows + sum(
            self.day_rows[self.first_day + dt.timedelta(days=i)] for i in range(self.landed)
        )
        return table_bytes(self.main_catalog, WAREHOUSE_TABLES), landed


def fingerprint(cat: Catalog, table: str) -> tuple:
    """Order-independent content fingerprint of a table: row count plus
    a sum and an xor of per-row hashes over every column."""
    df = cat.read(table)
    h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
    row = df.agg(F.count(F.lit(1)), F.sum(F.pmod(h, F.lit(2**31))), F.bit_xor(h)).first()
    return tuple(row)


class DashboardReads(Workload):
    """One closed-loop client refreshing a dashboard over a built
    warehouse and a parsed-trace table: one operation is one refresh, a
    seeded query of each of the 8 kinds in a fixed order, so identical
    queries repeat. Read-only."""

    min_ops = 4

    def setup(self) -> None:
        c = self.ctx
        start, n_days = dt.date(2024, 1, 1), 28
        frame = inputs.pages_frame(c.seed, c.size(60, 20), start, n_days)
        self.main_catalog = Catalog(c.spark, c.fresh_dir("dash") + "/wh")
        # raw pages past two weeks expire: the dashboard reads tiers only
        build_warehouse(c, self.main_catalog, c.to_spark(frame), policy=POLICY,
                        now=midnight_after(start + dt.timedelta(days=n_days - 1)))
        csv_dir = c.fresh_dir("dash-csv")
        stems = inputs.trace_stems(c.seed, 2)
        inputs.write_trace_csvs(c.seed, csv_dir, stems, REF_YEARS, dt.date(2024, 7, 1), 730)
        parse_into(c, self.main_catalog, csv_dir)
        self.rows = len(frame) + self.main_catalog.last_snapshot("traces")["rows"]
        entities = [name_mapping()[s]["entity"] for s in stems]
        self.pool = inputs.query_pool(
            c.seed, sorted(frame["url"].unique()), start, n_days, entities, REF_YEARS, FY_YEARS
        )
        # warm-up: one refresh, which also records the reference frame of
        # every query the window repeats
        self.seen: list[pd.DataFrame] = []
        self.op(-1)

    def op(self, i: int) -> int:
        rows, self.same = 0, True
        for q, spec in enumerate(self.pool):
            frame = run_query(self.ctx, self.main_catalog, spec)
            rows += len(frame)
            frame = canonical(frame)
            if q == len(self.seen):
                self.seen.append(frame)
            self.same &= self.seen[q].equals(frame)
        return rows

    def check_op(self, i: int) -> bool:
        return self.same

    def storage(self) -> tuple[int, int]:
        return table_bytes(self.main_catalog, WAREHOUSE_TABLES + ["traces"]), self.rows


class TraceParse(Workload):
    """Parse a seeded directory of wide AEMO-style CSVs (bundled 2024
    stems, two reference years) into a fresh catalog table."""

    min_ops = 3

    def setup(self) -> None:
        c = self.ctx
        self.n_days = 365
        stems = inputs.trace_stems(c.seed, c.size(8, 2))
        self.dir = c.fresh_dir("csv")
        self.means = inputs.write_trace_csvs(
            c.seed, self.dir, stems, REF_YEARS, dt.date(2024, 7, 1), self.n_days
        )
        self.rows = len(self.means) * self.n_days * inputs.SLOTS_PER_DAY
        self.main_catalog = None
        self.op(-1)  # warm-up parse
        self.check_op(-1)

    def op(self, i: int) -> int:
        cat = Catalog(self.ctx.spark, self.ctx.fresh_dir("parse") + "/wh")
        parse_into(self.ctx, cat, self.dir)
        self.previous, self.main_catalog = self.main_catalog, cat
        return self.rows

    def check_op(self, i: int) -> bool:
        drop_catalog(self.previous)
        return self.main_catalog.last_snapshot("traces")["rows"] == self.rows

    def final_checks(self) -> list[bool]:
        mapping = name_mapping()
        got = {
            (r["entity"], r["resource_type"], r["reference_year"]): r["m"]
            for r in self.main_catalog.read("traces")
            .groupBy("entity", "resource_type", "reference_year")
            .agg(F.avg("value").alias("m"))
            .collect()
        }
        want = {
            (mapping[s]["entity"], mapping[s]["resource_type"], y): m
            for (s, y), m in self.means.items()
        }
        return [got == want]

    def storage(self) -> tuple[int, int]:
        return table_bytes(self.main_catalog, ["traces"]), self.rows


WORKLOADS = {
    "bulk_build": BulkBuild,
    "daily_increment": DailyIncrement,
    "dashboard_reads": DashboardReads,
    "trace_parse": TraceParse,
}
