"""SparkSession factory for the trace engine.

Design notes (scale-first):
- AQE on: runtime coalescing of shuffle partitions + skew-join splitting.
  At 100 TB / 1000 executors the static ``spark.sql.shuffle.partitions``
  is only an upper bound; AQE right-sizes per stage.
- Arrow on: every pandas-UDF boundary (codec, extraction) moves batches
  over Arrow, never pickled rows.
- Session timezone pinned UTC and timestamps treated as naive
  (``TimestampNTZ`` semantics): the reference's ``Datetime[us]`` is
  timezone-naive (reference: src/isp_trace_parser/trace_formatter.py:90).
- No Iceberg runtime jar ships in this sandbox, so the catalog shim in
  :mod:`isp_trace_parser_spark.sources.catalog` provides the same
  append/overwrite-partition/snapshot surface over hive-partitioned
  parquet; the engine code is layout-agnostic.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Default shuffle parallelism for local testing. On a real cluster this is
# left high (or unset) and AQE coalesces; see jobs/run_pipeline.py.
DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "isp-trace-parser-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for the trace engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or
    ``local[*]``. All conf values may be overridden via ``extra_conf``.
    """
    # Make the package importable in Python worker processes regardless of
    # the caller's cwd/sys.path (local-mode analog of spark-submit
    # --py-files; jobs/run_pipeline.py handles the cluster case).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )

    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE", DEFAULT_SHUFFLE_PARTITIONS)
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # naive timestamps engine-wide: exact match for the reference's
        # Datetime[us] (trace_formatter.py:90) and for DuckDB/parquet
        # isAdjustedToUTC=false columns
        .config("spark.sql.timestampType", "TIMESTAMP_NTZ")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "134217728"),
        )
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # direct task commit (v2): halves rename traffic on partitioned
        # writes; matters for many-partition tables on any FS
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
