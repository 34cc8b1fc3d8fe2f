"""spark-submit entrypoint for the rollup + retention pipeline.

Cluster usage (north_rule: two cluster sizes, N and 4N executors)::

    # package the library for the executors
    cd /root/repo && zip -r /tmp/isp_trace_parser_spark.zip isp_trace_parser_spark

    spark-submit --py-files /tmp/isp_trace_parser_spark.zip \
        --num-executors $N --executor-cores 4 --executor-memory 8g \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.shuffle.partitions=$((N * 8)) \
        jobs/run_pipeline.py --warehouse /data/warehouse \
        --synth-urls 100000 --synth-slots 1440

Local sandbox usage (same code path, local[K] masters)::

    python jobs/run_pipeline.py --master local[8] --warehouse /tmp/wh

The job is resumable: re-running after a crash skips stages whose
snapshot watermark already covers the input (pipeline.py), so a
mid-pipeline failure costs only the unfinished stage.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--master", default=None, help="override master (local[N])")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--synth-urls", type=int, default=2000)
    ap.add_argument("--synth-slots", type=int, default=48 * 30)
    ap.add_argument("--gap-pct", type=int, default=5)
    ap.add_argument("--skew", type=float, default=2.0)
    ap.add_argument("--skip-ingest", action="store_true",
                    help="resume: reuse the already-ingested pages table")
    ap.add_argument("--retention-days", type=int, default=0,
                    help="raw retention horizon; 0 disables the retention pass")
    ap.add_argument("--buckets", type=int, default=0,
                    help="url-hash bucket count; 0 = auto (~1 per 500k rows)")
    ap.add_argument("--compact", action="store_true",
                    help="run small-file compaction on pages/agg_30m after "
                    "the pipeline (victims picked from snapshot metrics)")
    ap.add_argument("--vacuum", action="store_true",
                    help="remove orphan files + stray tmp dirs on "
                    "pages/agg_30m after the pipeline (manifest-driven GC)")
    ap.add_argument("--columns", choices=["full", "trace"], default="full",
                    help="'trace' ingests only (url, warc_ts, value) — the "
                    "rollup engine's input plane; 'full' includes the "
                    "synthetic html/text payload columns")
    ap.add_argument("--histogram-bin-width", type=float, default=None,
                    help="also maintain hist_30m/hist_1d mergeable "
                    "histogram tiers at this bin width (percentile "
                    "serving via TierStore.percentile)")
    ap.add_argument("--distinct-key", default=None,
                    help="also maintain dist_30m/dist_1d HLL cardinality "
                    "tiers over this raw column (TierStore.distinct)")
    args = ap.parse_args()

    from isp_trace_parser_spark import synth
    from isp_trace_parser_spark.operators import codec
    from isp_trace_parser_spark.operators.retention import RetentionPolicy
    from isp_trace_parser_spark.pipeline import ingest_pages, run_rollup_pipeline
    from isp_trace_parser_spark.session import get_spark
    from isp_trace_parser_spark.sources.catalog import Catalog

    spark = get_spark(app_name="rollup-pipeline", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    cat = Catalog(spark, args.warehouse)

    n_rows = args.synth_urls * args.synth_slots
    # partition sizing: leaves are (day x bucket), so bucket count must
    # divide the PER-DAY row count, not the total — targeting ~250k rows
    # per leaf at toy scale (~0.5-1 GB per leaf at 100 TB)
    n_days = max(1, args.synth_slots // 48)
    buckets = args.buckets or max(1, min(64, (n_rows // n_days) // 250_000))

    t0 = time.perf_counter()
    if not args.skip_ingest:
        pages = synth.pages(
            spark,
            n_urls=args.synth_urls,
            n_slots=args.synth_slots,
            gap_pct=args.gap_pct,
            skew=args.skew,
        )
        if args.columns == "trace":
            pages = pages.select("url", "warc_ts", "value")
        ingest_pages(cat, pages, n_buckets=buckets)
    ingest_dt = time.perf_counter() - t0

    policy = now = None
    if args.retention_days:
        policy = RetentionPolicy(raw_keep_days=args.retention_days)
        last = cat.read("pages").agg({"warc_ts": "max"}).collect()[0][0]
        now = last + datetime.timedelta(days=1)

    t1 = time.perf_counter()
    res = run_rollup_pipeline(
        spark, cat, policy=policy, now=now,
        histogram_bin_width=args.histogram_bin_width,
        distinct_key=args.distinct_key,
    )
    rollup_dt = time.perf_counter() - t1
    ratio = codec.compression_report(cat.read("blocks_30m")).first()["ratio"]

    compacted = {}
    if args.compact:
        for t in ("pages", "agg_30m"):
            if cat.exists(t):
                snap = cat.compact(t)
                compacted[t] = snap.get("lineage", {}).get(
                    "compacted_partitions", []
                )
    vacuumed = {}
    if args.vacuum:
        for t in ("pages", "agg_30m"):
            if cat.exists(t):
                snap = cat.vacuum(t)
                vacuumed[t] = len(
                    snap.get("lineage", {}).get("removed_files", [])
                )

    print(
        json.dumps(
            {
                "ingest_sec": round(ingest_dt, 2),
                "rollup_sec": round(rollup_dt, 2),
                "rows": n_rows,
                "rows_per_sec": round(n_rows / max(rollup_dt, 1e-9), 1),
                "stages_run": res.stages_run,
                "stages_skipped": res.stages_skipped,
                "metrics": res.metrics,
                "compression_ratio": ratio,
                "compacted": compacted,
                "vacuumed_orphans": vacuumed,
            },
            default=str,
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
