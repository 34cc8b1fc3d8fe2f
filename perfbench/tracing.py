"""Span tracer for the benchmark's traced runs.

Spans are recorded around calls into each layer's public functions by
wrapping them from the benchmark's side (:func:`instrument`); the engine
itself is not edited. Spans live in memory and are written out once, when
the run ends. Every span carries the id of the operation that caused it,
and its parent span, so a layer's self time is its duration minus the
durations of its child spans.

The ``spark`` layer reads engine counters (jobs, tasks, failed tasks,
executor run time, shuffle-write bytes) from the status tracker and the
status store after each timed operation.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from collections import defaultdict
from typing import Any

from inputs import QUERY_KINDS

# tables whose write self time is reported per table
TABLES = ["pages", "agg_30m", "agg_1d", "agg_1mo", "hist_30m", "hist_1d", "blocks_30m", "traces"]
TIER_TABLES = ["agg_30m", "agg_1d", "agg_1mo", "hist_30m", "hist_1d"]
SERVING_KINDS = [k for k in QUERY_KINDS if not k.startswith("api")]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self._stack: list[int] = []
        self.op = "setup"
        # time the tracer spends on its own bookkeeping, outside any
        # wrapped call: the tracing overhead of the run
        self.overhead_s = 0.0
        self.t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs: Any):
        t_in = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "name": name,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - rec["end"]

    def self_times(self) -> list[float]:
        own = [s["end"] - s["start"] for s in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def ancestors(self, span: dict[str, Any]) -> list[dict[str, Any]]:
        out = []
        while span["parent"] is not None:
            span = self.spans[span["parent"]]
            out.append(span)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                rel = {**s, "start": s["start"] - self.t0, "end": s["end"] - self.t0}
                fh.write(json.dumps(rel, default=str) + "\n")


def maybe_span(tracer: Tracer | None, name: str, **attrs: Any):
    return tracer.span(name, **attrs) if tracer else contextlib.nullcontext({})


def _written(before: dict | None, after: dict) -> tuple[int, int, int]:
    """Rows, bytes and files of the partitions a commit replaced or added
    (their fingerprint changed since the previous snapshot)."""
    old = (before or {}).get("partitions", {})
    rows = nbytes = files = 0
    for rel, m in after.get("partitions", {}).items():
        if old.get(rel, {}).get("sig") != m.get("sig"):
            rows += max(0, m.get("rows", 0))
            nbytes += m["bytes"]
            files += m["files"]
    return rows, nbytes, files


def instrument(tracer: Tracer):
    """Wrap the layers' public functions with spans. Returns a callable
    that restores the originals."""
    from isp_trace_parser_spark import parse, pipeline
    from isp_trace_parser_spark.sources.catalog import Catalog

    saved: list[tuple[Any, str, Any]] = []

    def patch(owner: Any, attr: str, make) -> None:
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def plain(name: str):
        def make(orig):
            def wrapper(*a, **kw):
                with tracer.span(name):
                    return orig(*a, **kw)
            return wrapper
        return make

    def cat_write(orig):
        def write(self, df, name, *a, **kw):
            t = time.perf_counter()
            before = self.last_snapshot(name)
            tracer.overhead_s += time.perf_counter() - t
            with tracer.span("catalog.write", table=name, warehouse=self.warehouse) as rec:
                snap = orig(self, df, name, *a, **kw)
            rec["rows"], rec["bytes"], rec["files"] = _written(before, snap)
            return snap
        return write

    def run_pipeline(orig):
        def run(spark, cat, *a, **kw):
            fresh = not cat.exists("agg_30m")
            with tracer.span("pipeline.run", warehouse=cat.warehouse, fresh=fresh) as rec:
                res = orig(spark, cat, *a, **kw)
            rec["stages_run"] = len(res.stages_run)
            rec["stages_skipped"] = len(res.stages_skipped)
            return res
        return run

    def retention(orig):
        def apply(*a, **kw):
            with tracer.span("retention.apply") as rec:
                report = orig(*a, **kw)
            rec["expired"] = sum(len(v) for v in report.values())
            return report
        return apply

    patch(Catalog, "write", cat_write)
    patch(Catalog, "read", plain("catalog.read"))
    patch(Catalog, "commit_snapshot", plain("catalog.commit_snapshot"))
    patch(Catalog, "list_partitions", plain("catalog.list_partitions"))
    patch(Catalog, "expire_partitions", plain("catalog.expire_partitions"))
    patch(pipeline, "ingest_pages", plain("pipeline.ingest"))
    patch(pipeline, "run_rollup_pipeline", run_pipeline)
    patch(pipeline, "partition_state", plain("pipeline.partition_state"))
    patch(pipeline, "apply_retention", retention)
    patch(parse, "read_wide_trace_csvs", plain("parse.list"))
    patch(parse, "parse_traces_df", plain("parse.plan"))

    def restore() -> None:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)

    return restore


class SparkCounters:
    """Engine counters of the jobs run in one job group, read after each
    operation (before the status store can evict them)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.jobs_seen: set[int] = set()
        self.stages_seen: set[int] = set()
        self.jobs = self.tasks = self.failed_tasks = 0
        self.shuffle_write_bytes = 0
        self.executor_run_ms = 0

    def poll(self, group: str) -> None:
        from py4j.protocol import Py4JJavaError

        tracker = self.sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(group):
            if jid in self.jobs_seen:
                continue
            self.jobs_seen.add(jid)
            self.jobs += 1
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                if sid in self.stages_seen:
                    continue
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # skipped stage: never attempted
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                self.stages_seen.add(sid)
                self.tasks += sd.numTasks()
                self.failed_tasks += sd.numFailedTasks()
                self.shuffle_write_bytes += sd.shuffleWriteBytes()
                self.executor_run_ms += sd.executorRunTime()


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def layer_metrics(
    tracer: Tracer,
    counters: SparkCounters,
    window_ops: int,
    window_s: float,
    cores: int,
    snapshot_log_bytes: int,
    compression_ratio: float,
) -> dict[str, float]:
    """Per-layer metrics of a traced run. Layer metrics cover the whole
    run (set-up, timed window and output checks); ``spark.*`` cover the
    timed window. ``*_s`` are total self seconds, ``*_ms`` are medians
    per call. A layer the run leaves idle reads 0."""
    m = _span_metrics(tracer, tracer.spans, tracer.self_times())

    ops = max(1, window_ops)
    m["spark.slot_busy_frac"] = counters.executor_run_ms / 1000 / max(1e-9, window_s * cores)
    m["spark.shuffle_write_bytes"] = counters.shuffle_write_bytes / ops
    m["spark.jobs_per_op"] = counters.jobs / ops
    m["spark.tasks"] = counters.tasks / ops
    m["spark.failed_tasks"] = counters.failed_tasks
    m["catalog.snapshot_log_bytes"] = snapshot_log_bytes
    m["codec.compression_ratio"] = compression_ratio
    m["trace.overhead_frac"] = tracer.overhead_s / (time.perf_counter() - tracer.t0)
    return m


def _span_metrics(
    tracer: Tracer, spans: list[dict[str, Any]], own: list[float]
) -> dict[str, float]:
    total: dict[str, float] = defaultdict(float)
    calls: dict[str, list[float]] = defaultdict(list)
    for s in spans:
        name, self_s = s["name"], own[s["id"]]
        total[name] += self_s
        if "kind" in s:
            dur_ms = (s["end"] - s["start"]) * 1000
            calls[f"{name}.{s['kind']}"].append(dur_ms)
            calls[name].append(dur_ms)
        if name == "catalog.write":
            total[f"catalog.write.{s['table']}"] += self_s
    writes = [s for s in spans if s["name"] == "catalog.write"]
    runs = [s for s in spans if s["name"] == "pipeline.run"]

    m: dict[str, float] = {}
    for t in TABLES:
        m[f"catalog.write_s.{t}"] = total[f"catalog.write.{t}"]
    m["catalog.commit_snapshot_s"] = total["catalog.commit_snapshot"]
    m["catalog.list_partitions_s"] = total["catalog.list_partitions"]
    m["catalog.expire_partitions_s"] = total["catalog.expire_partitions"]
    m["catalog.read_s"] = total["catalog.read"]
    m["catalog.rows_written"] = sum(s["rows"] for s in writes)
    m["catalog.bytes_written"] = sum(s["bytes"] for s in writes)
    m["catalog.files_written"] = sum(s["files"] for s in writes)

    m["pipeline.partition_state_s"] = total["pipeline.partition_state"]
    m["pipeline.stages_run"] = sum(s["stages_run"] for s in runs)
    m["pipeline.stages_skipped"] = sum(s["stages_skipped"] for s in runs)
    m["pipeline.recompute_amplification"] = _amplification(tracer, spans, runs)

    for t in TIER_TABLES:
        m[f"rollup.tier_s.{t}"] = total[f"catalog.write.{t}"]
    m["codec.encode_s"] = total["catalog.write.blocks_30m"]
    m["codec.decode_ms"] = _median(calls["serving.exec.cold_30m"])

    m["retention.apply_s"] = total["retention.apply"]
    m["retention.partitions_expired"] = sum(
        s["expired"] for s in spans if s["name"] == "retention.apply"
    )

    m["serving.route_ms"] = _median(calls["serving.route"])
    for k in SERVING_KINDS:
        m[f"serving.exec_ms.{k}"] = _median(calls[f"serving.exec.{k}"])
    m["api.plan_ms"] = _median(calls["api.plan"])
    m["api.exec_ms.single"] = _median(calls["api.exec.api_single"])
    m["api.exec_ms.multi"] = _median(calls["api.exec.api_multi"])

    m["parse.plan_s"] = total["parse.list"] + total["parse.plan"]
    m["parse.write_s"] = total["catalog.write.traces"]
    m["parse.rows_out"] = sum(s["rows"] for s in writes if s["table"] == "traces")

    m["session.start_s"] = total["session.start"]
    return m


def _amplification(
    tracer: Tracer, spans: list[dict[str, Any]], runs: list[dict[str, Any]]
) -> float:
    """Tier rows the incremental pipeline runs wrote per raw row landed
    before them: rows of every partition a stage rewrote, divided by the
    rows of the day partitions ingested since the previous run. 0 when
    the run made no incremental pipeline run."""
    stage_rows: dict[int, int] = defaultdict(int)
    landed: dict[int, int] = defaultdict(int)
    pending: dict[str, int] = defaultdict(int)  # ingested since last run, per warehouse
    run_ids = {s["id"] for s in runs}
    for s in spans:  # spans are in start order
        if s["name"] == "pipeline.run":
            landed[s["id"]] = pending.pop(s["warehouse"], 0)
        elif s["name"] == "catalog.write":
            up = [a["id"] for a in tracer.ancestors(s) if a["id"] in run_ids]
            if up:
                stage_rows[up[0]] += s["rows"]
            elif s["table"] == "pages":
                pending[s["warehouse"]] += s["rows"]
    incremental = [s["id"] for s in runs if not s["fresh"]]
    land = sum(landed[i] for i in incremental)
    return sum(stage_rows[i] for i in incremental) / land if land else 0.0
