"""End-to-end rollup + retention pipeline with snapshot checkpointing
and per-partition lineage — snapshot-diff incremental processing.

Stage DAG: one stage per row of ``tiers.TIERS`` whose family is
enabled, reading the row's input tier (the raw table is scanned once
per raw tier; every coarser tier reads the finer tier's stored
partials). A raw tier applies its family's raw rule, a cascade its
family's one cascade rule (``tiers.CASCADE``) at the row's resolution,
seconds or a calendar month; both live in operators/rollup.py::

    pages (raw, day_bucket x url_bucket partitions)
      ├─ agg_30m   groupBy(url, 30m bucket)             [diff vs pages]
      │    ├─ agg_1d    re-agg partials                 [diff vs agg_30m]
      │    │    └─ agg_1mo  re-agg partials             [diff vs agg_1d]
      │    └─ blocks_30m  Gorilla blocks                [diff vs agg_30m]
      ├─ hist_30m  histogram counts (histogram_bin_width) [diff vs pages]
      │    └─ hist_1d   count sums                      [diff vs hist_30m]
      └─ dist_30m  HLL sketches (distinct_key)          [diff vs pages]
           └─ dist_1d   sketch union                    [diff vs dist_30m]
    then retention: expire partitions past each tier's horizon
    (agg_1mo and blocks_30m have none: they are kept forever)

Concurrency: the stages form a list (``Stage``) in ``TIERS`` order.
Each stage is submitted to a thread pool as soon as its input stage has
committed, so independent tiers build at the same time and Spark's
default FIFO scheduler fills the cores a single small stage leaves idle.
The pool is as wide as the DAG (its leaf count: no more stages can ever
run at once). Stage threads inherit the caller's job group, description
and tags. If a stage raises, the stages that read its output are not
started, running stages finish and commit, and the first error is
re-raised once every thread has stopped; each commit is per table, so a
re-run resumes at the failed stage. Retention runs after every stage.

Exchanges: a raw tier (agg_30m, hist_30m, dist_30m) and blocks_30m
attach the storage key ``(day_bucket, salt)`` of the row each input row
feeds, shuffle once on it and group with it as leading keys, so one
exchange serves both the aggregation (or the block encode) and the
partitioned write (``partitioning.write_salt`` is the one salt formula
both use). The cascades keep their map-side combine before their
shuffle, and the write shuffles again.

Incremental model (the Iceberg-snapshot analog): every catalog commit
records a per-partition file fingerprint (catalog.py). Each stage stores
the input-partition fingerprint map it processed in its snapshot
lineage. On the next run the stage diffs the input's CURRENT map against
the recorded one and recomputes ONLY changed/new partitions (dynamic
partition overwrite); unchanged and expired partitions are untouched, so

- re-running after a crash resumes at the unfinished stage;
- a retention pass never forces recomputation;
- tier history retained past its input's expiry is never destroyed;
- late rewrites of OLD raw days are detected (fingerprint change), not
  just appends — a plain high-watermark would miss them.

A changed input partition rewrites the output partitions whose buckets
(``rollup.bucket_end``) overlap it (``Tier.rewrites``): the same day for
a raw tier, the month for a 1d tier or agg_1mo, the blocks overlapping
it for blocks_30m. The stage reads only the changed input partitions; a
stage over a tier adds back its own rows of the partitions it rewrites,
less those a changed partition holds (``_run_stage``).

No driver-side per-partition loops: the diff is O(partitions) metadata;
within a stage Spark's scheduler owns parallelism.
"""

from __future__ import annotations

import datetime
import hashlib
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field, replace
from typing import Any, Callable

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from isp_trace_parser_spark.operators import codec, rollup
from isp_trace_parser_spark.operators.retention import RetentionPolicy, apply_retention
from isp_trace_parser_spark.plans.partitioning import (
    DEFAULT_URL_BUCKETS,
    with_partition_keys,
    write_salt,
    write_salt_buckets,
)
from isp_trace_parser_spark.sources.catalog import Catalog
from isp_trace_parser_spark.tiers import CASCADE, PARTITIONS, TIERS, Tier


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
    """Input state recorded by the table's last write stage, read back
    from the end of the snapshot log up to that record only."""
    for snap in cat.snapshots_newest_first(table):
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


_SALT = "_salt"


@dataclass(frozen=True)
class Stage:
    """One node of the pipeline DAG: ``tier`` is built from table
    ``input`` (its input tier, or the raw table) by ``build``, and
    written partitioned and sorted as its row declares. The ``build`` of
    a raw tier or of blocks already distributes its output on the
    write's key.
    ``points`` turns the tier's stored rows back into input rows; a raw
    tier has none (its output partition is its input partition)."""

    tier: Tier
    input: str
    build: Callable[[DataFrame], DataFrame]
    points: Callable[[DataFrame], DataFrame] | None = None

    @property
    def name(self) -> str:
        return self.tier.name


def _expired(cat: Catalog, table: str, col: str) -> set[str]:
    """Partitions of ``col`` that retention expired from ``table``: the
    values its expire commits dropped."""
    return {
        v
        for snap in cat.snapshots_newest_first(table)
        if snap["lineage"].get("partition_col") == col
        for v in snap["lineage"]["dropped"]
    }


def _run_stage(cat: Catalog, st: Stage) -> dict[str, Any] | None:
    """Bring one stage up to date with its input: None when it already
    is, else the files and bytes of the table it committed. A stage over
    a tier builds over the changed input partitions and its own rows of
    the partitions it rewrites, less those a changed partition holds. It
    leaves a partition retention expired unwritten: its own rows are gone,
    so a rewrite would hold the changed input partitions alone."""
    t = st.tier
    in_state = partition_state(cat, st.input, t.input_col)
    changed = _changed_partitions(cat, t.name, in_state)
    if changed == []:
        return None
    src = cat.read(st.input, partitions=None if changed is None else set(changed).__contains__)
    expired: list[str] = []
    if changed and st.points:
        rewritten = t.rewrites(changed)
        present = cat.list_partitions(t.name, t.partition_col)
        # a fully expired output has no file to read and no row to add back
        if any(map(rewritten, present)):
            own = st.points(cat.read(t.name, partitions=rewritten))
            held_by = PARTITIONS[t.input_col].of(t.last_input_start()).cast("string")
            src = src.select(*own.columns).union(own.where(~held_by.isin(changed)))
        gone = _expired(cat, t.name, t.partition_col) - set(present)
        expired = sorted(filter(rewritten, gone))
    out = st.build(src)
    if expired:
        out = out.where(~F.col(t.partition_col).cast("string").isin(expired))
    snap = cat.write(
        out,
        t.name,
        partition_by=[t.partition_col],
        sort_within=list(t.sort_within),
        mode="dynamic",
        # raw tiers and blocks build on the write's key; a cascade
        # combines map-side before its own shuffle, so its write shuffles
        repartition=t.input is not None and t.family in CASCADE,
        lineage={
            "stage": t.name,
            "input_table": st.input,
            "input_state": in_state,
            "recomputed_partitions": changed,
        },
    )
    return {"files": snap["files"], "bytes": snap["bytes"]}


def _run_dag(
    spark: SparkSession, stages: list[Stage], run: Callable[[Stage], Any]
) -> dict[str, Any]:
    """Run each stage once its input stage has finished; stages whose
    input no stage produces start at once. Returns ``run``'s result per
    stage name. On failure the failed stage's dependents never start,
    every started stage finishes, and the first error is raised."""
    produced = {st.name for st in stages}
    children = {st.name: [c for c in stages if c.input == st.name] for st in stages}
    # each stage has one input, so the DAG is a forest: its widest set of
    # mutually independent stages is its leaves
    width = sum(not kids for kids in children.values())
    results: dict[str, Any] = {}
    errors: list[BaseException] = []
    with ThreadPoolExecutor(max_workers=width, thread_name_prefix="stage") as pool:

        def submit(st: Stage):
            # wrapped in the calling thread, when the stage is due: the
            # stage's jobs join the caller's job group, description and
            # tags, and each stage gets its own copy of those properties
            return pool.submit(inheritable_thread_target(spark)(run), st)

        running = {submit(st): st for st in stages if st.input not in produced}
        while running:
            finished, _ = wait(running, return_when=FIRST_COMPLETED)
            for fut in finished:
                st = running.pop(fut)
                if fut.exception() is not None:
                    errors.append(fut.exception())
                    continue
                results[st.name] = fut.result()
                for child in children[st.name]:
                    running[submit(child)] = child
    if errors:
        raise errors[0]
    return results


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
    n_salts = write_salt_buckets(spark)
    # enabled family -> (the raw column it reads, its rule over raw
    # rows), each built, and so checked, before any stage runs
    raw_rules = {"agg": ("value", rollup.agg_rule("value", sum_cast))}
    if histogram_bin_width is not None:
        raw_rules["hist"] = ("value", rollup.hist_rule("value", float(histogram_bin_width)))
    if distinct_key is not None:
        raw_rules["dist"] = (distinct_key, rollup.dist_rule(distinct_key, 14))  # HLL lgK
    enabled = {*raw_rules, *(["blocks"] if encode_blocks else [])}

    def keyed(
        t: Tier, cols: list[str], build: Callable[[DataFrame, list[str]], DataFrame]
    ) -> Callable[[DataFrame], DataFrame]:
        """A tier built over rows ``cols`` (series, timestamp, ...) in
        one exchange: attach the storage key of the tier row each feeds
        (partition of its bucket start, write salt of its series),
        shuffle once on it, ``build`` with it as leading group keys (the
        shuffle already clusters every group), then drop the salt. The
        write then needs no shuffle of its own."""
        series, ts = cols[:2]
        key = [t.partition_col, _SALT]
        part = PARTITIONS[t.partition_col].of

        def _build(src: DataFrame) -> DataFrame:
            rows = (
                src.select(*cols)
                .withColumn(t.partition_col, part(rollup.bucket_start(F.col(ts), t.seconds)))
                .withColumn(_SALT, write_salt([series], n_salts))
                .repartition(*key)
            )
            return build(rows, key).drop(_SALT)

        return _build

    def stage(t: Tier) -> Stage:
        if t.input is None:
            col, rule = raw_rules[t.family]
            return Stage(t, raw_table, keyed(
                t, ["url", "warc_ts", col],
                lambda rows, key: rollup.raw_tier(rows, rule, "url", "warc_ts", t.seconds, by=key),
            ))
        if t.family == "blocks":
            # a block is a bucket as wide as its span (codec.encode_blocks
            # is looked up when the stage runs)
            t = replace(t, seconds=codec.block_span_seconds(block_size))
            return Stage(t, t.input, keyed(
                t, ["series", "bucket_ts", "avg_value"],
                lambda rows, key: codec.encode_blocks(
                    rows, "series", "bucket_ts", "avg_value", block=block_size, by=key
                ),
            ), codec.block_points)
        part = PARTITIONS[t.partition_col].of(t.last_input_start())
        rule = CASCADE[t.family]
        return Stage(
            t, t.input,
            lambda df: rule(df.drop(t.input_col), t.seconds).withColumn(t.partition_col, part),
            lambda df: df.drop(t.partition_col),  # a cascade is closed over its own rows
        )

    stages = [stage(t) for t in TIERS if t.family in enabled]

    done = _run_dag(spark, stages, lambda st: _run_stage(cat, st))
    res = PipelineResult()
    for st in stages:
        if done[st.name] is None:
            res.stages_skipped.append(st.name)
        else:
            res.stages_run.append(st.name)
            res.metrics[st.name] = done[st.name]

    if policy is not None and now is not None:
        res.metrics["retention"] = apply_retention(cat, policy, now, raw_table)
        res.stages_run.append("retention")

    return res
