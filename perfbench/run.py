"""Repository benchmark: four workloads over the trace engine on
``local[nproc]`` Spark, one closed-loop client.

    python3 perfbench/run.py --workload bulk_build --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5
    python3 perfbench/run.py --smoke

A run builds its seeded inputs, sets up (session start, warm-up, the
workload's pre-built state), repeats the workload's operation for
``--seconds`` seconds, checks the outputs and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics; with ``--trace 1`` the run records
spans around every layer and the metrics are the per-layer metrics.
``--workload all`` runs every workload untraced and traced in turn and
prints the tracing overhead. ``--smoke`` runs every workload at tiny
scale in one process and checks that every metric named in
BENCHMARK.json is emitted. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import workloads  # noqa: E402  (imports the engine: fails fast without it)
from tracing import SparkCounters, Tracer, instrument, layer_metrics, maybe_span  # noqa: E402

RUN_ROOT = os.path.join(ROOT, ".perfbench_run")
OUT_ROOT = os.path.join(ROOT, ".perfbench_out")
# a window stops here even when its workload's minimum op count is unmet
MAX_WINDOW_S = 90.0


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(run_dir: str):
    """The engine's session on local[nproc], with every scratch file of
    Spark, the JVM and Python under ``run_dir``."""
    from isp_trace_parser_spark.session import get_spark

    local, tmp = os.path.join(run_dir, "spark-local"), os.path.join(run_dir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores()}]",
        shuffle_partitions=2 * cores(),
        extra_conf={
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
            # no hsperfdata files: the JVM would write them under /tmp. The
            # heap starts at its full size: with a heap grown on demand the
            # builds of ten runs fell into two groups 20% apart
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{os.environ['SPARK_DRIVER_MEM']}"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)


class CoreProbe:
    """Samples the speed of the host's cores while the timed window runs.

    The host is shared: the speed of its cores swings by up to 1.5x,
    within seconds and over minutes, and it shows in no counter of the
    guest (the steal time stays near 0). A thread of this process times a
    fixed pure-Python loop of under 1 ms every 50 ms (under 2% of one
    core); the time of an operation at nominal core speed is its wall
    time x ``NOMINAL_S`` / the loop time over the operation."""

    LOOPS = 10_000
    PERIOD_S = 0.05
    # the loop time on a 2.0 GHz Xeon core of a quiet host
    NOMINAL_S = 0.00075

    def __init__(self) -> None:
        self.samples: list[tuple[float, float]] = []  # (end, loop seconds)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="core-probe", daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.PERIOD_S):
            t0 = time.perf_counter()
            acc = 0
            for i in range(self.LOOPS):
                acc += i * i % 7
            t1 = time.perf_counter()
            self.samples.append((t1, t1 - t0))

    def __enter__(self) -> "CoreProbe":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def loop_s(self, lo: float, hi: float) -> float:
        """The loop time over ``[lo, hi]``: the 5th percentile of its
        samples. Half of the samples are a third slower than the rest
        (the workload's own threads hold the core or the interpreter);
        the low percentile reads the core, not that contention."""
        xs = sorted(d for t, d in self.samples if lo <= t <= hi)
        xs = xs or sorted(d for _, d in self.samples) or [self.NOMINAL_S]
        return xs[len(xs) // 20]


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc status")


def measure(spark, name: str, seed: int, seconds: float, tracer, scale: float,
            run_dir: str, session_s: float) -> dict:
    """Set up, run the timed window and the checks of one workload on a
    started session. Returns the full report of the run."""
    t_setup = time.perf_counter()
    ctx = workloads.Ctx(spark, run_dir, seed, scale, tracer)
    w = workloads.WORKLOADS[name](ctx)
    w.setup()
    setup_s = session_s + time.perf_counter() - t_setup
    log(f"{name}: session {session_s:.2f}s, setup {setup_s:.2f}s")

    counters = SparkCounters(spark) if tracer else None
    sc = spark.sparkContext
    group = f"perfbench-window-{name}-{seed}"
    sc.setJobGroup(group, name)
    durations: list[float] = []
    spans: list[tuple[float, float]] = []  # (start, end) of each op
    rows = attempted = failed = 0
    min_ops = w.min_ops if scale >= 1 else 1
    t_win = time.perf_counter()
    with CoreProbe() as probe:
        while not w.exhausted():
            elapsed = time.perf_counter() - t_win
            if elapsed >= MAX_WINDOW_S or (elapsed >= seconds and len(durations) >= min_ops):
                break
            if tracer:
                tracer.op = f"op{attempted}"
            attempted += 1
            try:
                t0 = time.perf_counter()
                n = w.op(attempted - 1)
                t1 = time.perf_counter()
                ok = w.check_op(attempted - 1)
            except Exception:
                traceback.print_exc()
                failed += 1
                break  # later ops build on this one's state
            if counters:
                t_poll = time.perf_counter()
                counters.poll(group)
                tracer.overhead_s += time.perf_counter() - t_poll
            if ok:
                durations.append(t1 - t0)
                spans.append((t0, t1))
                rows += n
            else:
                failed += 1
    window_s = time.perf_counter() - t_win
    loops = [probe.loop_s(lo, hi) for lo, hi in spans]
    norm_ms = [d * 1000 * CoreProbe.NOMINAL_S / s for d, s in zip(durations, loops)]
    log(f"{name}: window {window_s:.2f}s, {len(durations)} ops, "
        f"op ms {[round(d * 1000) for d in durations]}, "
        f"probe us {[round(s * 1e6) for s in loops]}, normalised ms {[round(x) for x in norm_ms]}")
    sc.setJobGroup("perfbench-check", name)

    if tracer:
        tracer.op = "check"
    try:
        checks = w.final_checks()
    except Exception:
        traceback.print_exc()
        checks = [False]
    attempted += len(checks)
    failed += checks.count(False)
    log(f"{name}: checks {checks} in {time.perf_counter() - t_win - window_s:.2f}s")

    peak_rss_mb = jvm_peak_rss_mb(spark)
    stored_bytes, stored_rows = w.storage()
    durations_ms = sorted(d * 1000 for d in durations) or [0.0]
    e2e = {
        "setup_s": setup_s,
        "op_p50_norm_ms": statistics.median(norm_ms) if norm_ms else 0.0,
        "stored_bytes_per_row": stored_bytes / stored_rows,
        "ok_op_frac": (attempted - failed) / attempted,
    }
    report = {
        "workload": name,
        "seed": seed,
        "attempted": attempted,
        "failed": failed,
        "ops": len(durations),
        "rows_per_s": rows / sum(durations) if durations else 0.0,
        "window_s": window_s,
        "op_ms": durations_ms,
        "op_p50_ms": statistics.median(durations_ms),
        "op_probe_s": loops,
        "op_norm_ms": norm_ms,
        "end_to_end": e2e,
    }
    if tracer:
        from isp_trace_parser_spark.operators import codec

        cat = w.main_catalog
        ratio = (codec.compression_report(cat.read("blocks_30m")).first()["ratio"]
                 if cat.exists("blocks_30m") else 0.0)
        report["per_layer"] = layer_metrics(
            tracer, counters, len(durations), sum(durations), cores(),
            workloads.snapshot_log_bytes(w.main_catalog), ratio,
        )
        report["per_layer"]["session.peak_rss_mb"] = peak_rss_mb
        report["per_layer"]["client.op_p50_ms"] = report["op_p50_ms"]
        report["per_layer"]["client.core_probe_us"] = statistics.median(loops or [0.0]) * 1e6
    return report


def run_single(name: str, seed: int, seconds: float, traced: bool) -> dict:
    run_dir = os.path.join(RUN_ROOT, f"{name}-s{seed}-p{os.getpid()}")
    os.makedirs(run_dir)
    tracer = Tracer() if traced else None
    restore = instrument(tracer) if tracer else None
    spark = None
    try:
        t0 = time.perf_counter()
        with maybe_span(tracer, "session.start"):
            spark = start_session(run_dir)
        report = measure(spark, name, seed, seconds, tracer, 1.0, run_dir,
                         time.perf_counter() - t0)
    finally:
        if restore:
            restore()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(OUT_ROOT, exist_ok=True)
    stem = os.path.join(OUT_ROOT, f"{name}-s{seed}-t{int(traced)}")
    with open(stem + ".json", "w") as fh:
        json.dump(report, fh, indent=1)
    if tracer:
        tracer.dump(stem + ".spans.jsonl")
    return report


def result_line(report: dict, traced: bool) -> str:
    metrics = report["per_layer"] if traced else report["end_to_end"]
    units = {m["name"]: m["unit"] for m in spec()["per_layer" if traced else "end_to_end"]}
    return json.dumps(
        {
            "correct": report["failed"] == 0,
            "attempted": report["attempted"],
            "failed": report["failed"],
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }
    )


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_all(seed: int, seconds: float) -> int:
    """Every workload untraced, then traced, each in its own process;
    prints the end-to-end metrics, the per-layer metrics and the tracing
    overhead (traced minus untraced median op time)."""
    bad = 0
    for name in workloads.WORKLOADS:
        reports = {}
        for traced in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(seed), "--seconds", str(seconds), "--trace", str(traced)]
            bad |= subprocess.run(cmd, cwd=ROOT, stdout=subprocess.DEVNULL).returncode
            with open(os.path.join(OUT_ROOT, f"{name}-s{seed}-t{traced}.json")) as fh:
                reports[traced] = json.load(fh)
        plain, traced_r = reports[0], reports[1]
        overhead = traced_r["end_to_end"]["op_p50_norm_ms"] / plain["end_to_end"]["op_p50_norm_ms"] - 1
        bad |= plain["failed"] > 0 or traced_r["failed"] > 0
        print(f"== {name}: {plain['ops']} ops, {plain['failed']} failed of {plain['attempted']}")
        for k, v in plain["end_to_end"].items():
            print(f"  {k:28s} {v:14.4f}")
        for k, v in traced_r["per_layer"].items():
            print(f"  {k:40s} {v:14.4f}")
        print(f"  tracing overhead (traced - untraced op_p50_norm_ms) {overhead:+.1%}")
    return int(bool(bad))


def run_smoke(seed: int) -> int:
    """Every workload at tiny scale in one session, traced; fails when a
    metric named in BENCHMARK.json is missing or an output check fails."""
    want_e2e = [m["name"] for m in spec()["end_to_end"]]
    want_layer = [m["name"] for m in spec()["per_layer"]]
    run_dir = os.path.join(RUN_ROOT, f"smoke-s{seed}-p{os.getpid()}")
    os.makedirs(run_dir)
    spark = None
    bad = False
    try:
        t0 = time.perf_counter()
        spark = start_session(run_dir)
        session_s = time.perf_counter() - t0
        for name in workloads.WORKLOADS:
            tracer = Tracer()
            restore = instrument(tracer)
            try:
                report = measure(spark, name, seed, 0, tracer, 0.05,
                                 os.path.join(run_dir, name), session_s)
            finally:
                restore()
            missing = [k for k in want_e2e if k not in report["end_to_end"]]
            missing += [k for k in want_layer if k not in report["per_layer"]]
            bad |= bool(missing) or report["failed"] > 0
            print(f"{name}: attempted {report['attempted']} failed {report['failed']} "
                  f"missing {missing}")
            for k, v in {**report["end_to_end"], **report["per_layer"]}.items():
                print(f"  {k:40s} {v:14.4f}")
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"smoke_ok": not bad}))
    return int(bad)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=[*workloads.WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if args.smoke:
        return run_smoke(args.seed)
    if args.workload is None:
        ap.error("--workload is required")
    if args.workload == "all":
        return run_all(args.seed, args.seconds)
    report = run_single(args.workload, args.seed, args.seconds, bool(args.trace))
    print(result_line(report, bool(args.trace)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
