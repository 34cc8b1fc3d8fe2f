"""End-to-end rollup + retention pipeline with snapshot checkpointing
and per-partition lineage — snapshot-diff incremental processing.

Stage DAG (one raw scan total, reference §3.1 collapsed into declarative
Spark per SURVEY §7.4)::

    pages (raw, day_bucket x url_bucket partitions)
      └─ agg_30m   groupBy(url, 30m bucket)            [diff vs pages]
           └─ agg_1d    re-agg partials                [diff vs agg_30m]
                └─ agg_1mo  re-agg partials            [diff vs agg_1d]
           └─ blocks_30m  Gorilla blocks               [diff vs agg_30m]
      └─ retention: expire partitions past each tier's horizon

Incremental model (the Iceberg-snapshot analog): every catalog commit
records a per-partition file fingerprint (catalog.py). Each stage stores
the input-partition fingerprint map it processed in its snapshot
lineage. On the next run the stage diffs the input's CURRENT map against
the recorded one and recomputes ONLY changed/new partitions (dynamic
partition overwrite); unchanged and expired partitions are untouched, so

- re-running after a crash resumes at the unfinished stage;
- a retention pass never forces recomputation;
- tier history retained past raw expiry is never destroyed;
- late rewrites of OLD raw days are detected (fingerprint change), not
  just appends — a plain high-watermark would miss them.

No driver-side per-partition loops: the diff is O(partitions) metadata;
within a stage Spark's scheduler owns parallelism.
"""

from __future__ import annotations

import datetime
import hashlib
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from isp_trace_parser_spark.operators import codec, rollup
from isp_trace_parser_spark.operators.retention import RetentionPolicy, apply_retention
from isp_trace_parser_spark.plans.partitioning import (
    DEFAULT_URL_BUCKETS,
    month_bucket,
    with_partition_keys,
)
from isp_trace_parser_spark.sources.catalog import Catalog


@dataclass
class PipelineResult:
    stages_run: list[str] = field(default_factory=list)
    stages_skipped: list[str] = field(default_factory=list)
    metrics: dict[str, Any] = field(default_factory=dict)


def partition_state(cat: Catalog, table: str, col: str) -> dict[str, str]:
    """Current per-top-level-partition fingerprint map of ``table``,
    aggregated from the last snapshot's directory fingerprints (nested
    sub-partitions fold into their parent's fingerprint)."""
    last = cat.last_snapshot(table)
    if last is None:
        return {}
    agg: dict[str, list[str]] = {}
    prefix = f"{col}="
    for rel, m in last.get("partitions", {}).items():
        if not rel.startswith(prefix):
            continue
        v = rel.split("/", 1)[0][len(prefix):]
        agg.setdefault(v, []).append(f"{rel}:{m.get('sig', m.get('bytes'))}")
    return {
        v: hashlib.sha1("|".join(sorted(xs)).encode()).hexdigest()[:12]
        for v, xs in agg.items()
    }


def _recorded_state(cat: Catalog, table: str) -> dict[str, str]:
    """Input state recorded by the table's last write stage."""
    for snap in reversed(cat.snapshots(table)):
        st = snap.get("lineage", {}).get("input_state")
        if st is not None:
            return st
    return {}


def _changed_partitions(
    cat: Catalog, out_table: str, in_state: dict[str, str]
) -> list[str] | None:
    """Partitions of the input that are new or rewritten since
    ``out_table`` last ran. None => first run (recompute everything);
    [] => up to date (skip). Partitions that VANISHED from the input
    (retention expiry) do not trigger recomputation."""
    if not cat.exists(out_table):
        return None
    recorded = _recorded_state(cat, out_table)
    if not recorded:
        return None
    return [v for v, sig in in_state.items() if recorded.get(v) != sig]


def ingest_pages(
    cat: Catalog,
    pages: DataFrame,
    table: str = "pages",
    n_buckets: int = DEFAULT_URL_BUCKETS,
    mode: str = "overwrite",
) -> dict[str, Any]:
    """Land the raw table partitioned by (day_bucket, url_bucket) and
    sorted by warc_ts within partitions — the layout every downstream
    stage and query pruning relies on. ``mode='dynamic'`` lands a new
    crawl increment, replacing only the day partitions it covers."""
    keyed = with_partition_keys(pages, n_buckets=n_buckets)
    return cat.write(
        keyed,
        table,
        partition_by=["day_bucket", "url_bucket"],
        sort_within=["url", "warc_ts"],
        mode=mode,
        lineage={"stage": "ingest"},
    )


def run_rollup_pipeline(
    spark: SparkSession,
    cat: Catalog,
    raw_table: str = "pages",
    policy: RetentionPolicy | None = None,
    now: datetime.datetime | None = None,
    encode_blocks: bool = True,
    block_size: str = "7 days",
    sum_cast: str | None = None,
    histogram_bin_width: float | None = None,
    distinct_key: str | None = None,
) -> PipelineResult:
    """``block_size``: Gorilla block span. Weekly blocks (336 half-hour
    points) amortize per-block overhead and compress better than daily
    (48-point) blocks; choose by tier resolution x target points/block.

    ``sum_cast``: e.g. ``rollup.DEC`` stores EXACT decimal partial sums
    in every tier — summation-order-independent, so tier points are
    bit-identical across parallelism levels and engines (serving.py
    queries against an oracle rely on this; see docs/DESIGN.md "Number
    formats").

    ``histogram_bin_width``: when set, also maintain mergeable
    histogram tiers ``hist_30m`` (diffed vs raw, day-partitioned) and
    ``hist_1d`` (count-sum cascade, month-partitioned) with this bin
    width — the distribution analog of the avg tiers, consumed by
    ``TierStore.percentile``. Counts are exact and order-independent,
    so they join the same incremental snapshot-diff machinery.

    ``distinct_key``: when set, also maintain mergeable HLL
    cardinality tiers ``dist_30m``/``dist_1d`` over this raw column
    (distinct ``distinct_key`` per (url, bucket)) — sketch union is
    lossless, so the cascade is exact w.r.t. the sketch; served by
    ``TierStore.distinct``. The sketches use lgK = 14.

    The Gorilla compression ratio is not computed here (it would cost a
    full re-read of ``blocks_30m`` per build); take it on demand with
    ``codec.compression_report(cat.read("blocks_30m"))``.
    """
    res = PipelineResult()

    def _stage(
        name: str,
        in_table: str,
        in_col: str,
        build,  # (input_df) -> output df with its partition col attached
        partition_by: list[str] | None,
        sort_within: list[str],
        to_months: bool = False,
        expand_days=None,  # changed day-list -> enclosing recompute span
    ) -> None:
        in_state = partition_state(cat, in_table, in_col)
        changed = _changed_partitions(cat, name, in_state)
        if changed == []:
            res.stages_skipped.append(name)
            return
        touched = None  # full recompute -> full snapshot stat
        if changed is None:
            src = cat.read(in_table)
        else:
            # the read keeps only the input partitions this run needs
            # (``in_col`` is the input's top-level partition column)
            if to_months:
                # day-level changes -> recompute the affected months in
                # full from the retained finer tier
                out_values = sorted({d[:7] for d in changed})
                src = cat.read(in_table, partitions=lambda v: v[:7] in out_values)
            else:
                out_values = expand_days(changed) if expand_days else changed
                src = cat.read(in_table, partitions=set(out_values).__contains__)
            if partition_by:
                # the snapshot-diff already names the recomputed output
                # partitions: pass them so the commit stats only those
                # subtrees instead of walking the whole table (O(touched),
                # not O(table age))
                touched = [f"{partition_by[0]}={v}" for v in out_values]
        out = build(src)
        lineage = {
            "stage": name,
            "input_table": in_table,
            "input_state": in_state,
            "recomputed_partitions": changed,
        }
        snap = cat.write(
            out,
            name,
            partition_by=partition_by,
            sort_within=sort_within,
            mode="dynamic" if partition_by else "overwrite",
            lineage=lineage,
            touched_partitions=touched,
        )
        res.metrics[name] = {"files": snap["files"], "bytes": snap["bytes"]}
        res.stages_run.append(name)

    # -- tier 30m: the one raw scan ------------------------------------
    # The raw scan is hash-partitioned on the series key BEFORE the
    # groupBy: per-(url, 30m) groups are ~1 row at crawl density, so the
    # two-phase agg's map-side hash table combined nothing and the
    # cluster paid a second full hash-agg pass after the exchange.
    # Pre-partitioning satisfies the groupBy's clustering (one fused
    # agg) at the same exchange count — measured 2.17s -> 1.67s on the
    # stage incl. its partitioned write (OPTIMIZATION_r06.md). Exact
    # grouping + order-independent partials => identical tier contents.
    _stage(
        "agg_30m",
        raw_table,
        "day_bucket",
        lambda src: rollup.rollup_raw(
            src.select("url", "warc_ts", "value").repartition(F.col("url")),
            "url", "warc_ts", "value", sum_cast=sum_cast
        ).withColumn(
            "day_bucket", F.to_date(F.col("bucket_ts") - F.expr("INTERVAL 1 SECOND"))
        ),
        partition_by=["day_bucket"],
        sort_within=["series", "bucket_ts"],
    )

    # -- tier 1d from 30m partials --------------------------------------
    _stage(
        "agg_1d",
        "agg_30m",
        "day_bucket",
        lambda src: rollup.rollup_cascade(
            src.drop("day_bucket"), rollup.TIER_SECONDS["1d"]
        ).withColumn("month_bucket", month_bucket("bucket_ts")),
        partition_by=["month_bucket"],
        sort_within=["series", "bucket_ts"],
        to_months=True,
    )

    # -- histogram tiers (distribution analog of avg/min/max) -----------
    if histogram_bin_width is not None:
        bw = float(histogram_bin_width)
        _stage(
            "hist_30m",
            raw_table,
            "day_bucket",
            lambda src: rollup.histogram_tier(
                src, "url", "warc_ts", "value", 1800, bw
            ).withColumn(
                "day_bucket",
                F.to_date(F.col("bucket_ts") - F.expr("INTERVAL 1 SECOND")),
            ),
            partition_by=["day_bucket"],
            sort_within=["series", "bucket_ts", "bin"],
        )
        _stage(
            "hist_1d",
            "hist_30m",
            "day_bucket",
            lambda src: rollup.histogram_cascade(
                src.drop("day_bucket"), rollup.TIER_SECONDS["1d"]
            ).withColumn("month_bucket", month_bucket("bucket_ts")),
            partition_by=["month_bucket"],
            sort_within=["series", "bucket_ts", "bin"],
            to_months=True,
        )

    # -- distinct-count tiers (mergeable HLL cardinality) ----------------
    if distinct_key is not None:
        _stage(
            "dist_30m",
            raw_table,
            "day_bucket",
            lambda src: rollup.distinct_tier(
                src, "url", "warc_ts", distinct_key, 1800, 14
            ).withColumn(
                "day_bucket",
                F.to_date(F.col("bucket_ts") - F.expr("INTERVAL 1 SECOND")),
            ),
            partition_by=["day_bucket"],
            sort_within=["series", "bucket_ts"],
        )
        _stage(
            "dist_1d",
            "dist_30m",
            "day_bucket",
            lambda src: rollup.distinct_cascade(
                src.drop("day_bucket"), rollup.TIER_SECONDS["1d"]
            ).withColumn("month_bucket", month_bucket("bucket_ts")),
            partition_by=["month_bucket"],
            sort_within=["series", "bucket_ts"],
            to_months=True,
        )

    # -- tier 1mo from 1d partials (tiny: full rewrite when 1d changed) --
    in_state_1mo = partition_state(cat, "agg_1d", "month_bucket")
    changed_1mo = _changed_partitions(cat, "agg_1mo", in_state_1mo)
    if changed_1mo == []:
        res.stages_skipped.append("agg_1mo")
    else:
        t1mo = rollup.monthly_from_daily(cat.read("agg_1d").drop("month_bucket"))
        snap = cat.write(
            t1mo,
            "agg_1mo",
            sort_within=["series", "bucket_ts"],
            mode="overwrite",
            lineage={"stage": "agg_1mo", "input_table": "agg_1d",
                     "input_state": in_state_1mo},
        )
        res.metrics["agg_1mo"] = {"files": snap["files"], "bytes": snap["bytes"]}
        res.stages_run.append("agg_1mo")

    # -- Gorilla blocks over the 30m tier --------------------------------
    if encode_blocks:
        block_days = max(1, int(block_size.split()[0]) if "day" in block_size else 1)

        def _expand_to_blocks(changed: list[str]) -> list[str]:
            """A changed day must re-encode its WHOLE block: expand each
            day to every day of its epoch-aligned block span (Spark
            tumbling windows align to 1970-01-01)."""
            epoch = datetime.date(1970, 1, 1)
            out: set[str] = set()
            for dstr in changed:
                d = datetime.date.fromisoformat(dstr)
                start = d - datetime.timedelta(days=(d - epoch).days % block_days)
                out.update(
                    str(start + datetime.timedelta(days=i)) for i in range(block_days)
                )
            return sorted(out)

        _stage(
            "blocks_30m",
            "agg_30m",
            "day_bucket",
            lambda src: codec.encode_blocks(
                src, "series", "bucket_ts", "avg_value", block=block_size
            ).withColumn("day_bucket", F.to_date("block_start")),
            partition_by=["day_bucket"],
            sort_within=["series"],
            expand_days=_expand_to_blocks,
        )

    # -- retention ------------------------------------------------------
    if policy is not None and now is not None:
        res.metrics["retention"] = apply_retention(cat, policy, now, raw_table)
        res.stages_run.append("retention")

    return res
