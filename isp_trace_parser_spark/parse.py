"""parse_*_traces-equivalent ingest pipeline: AEMO-style wide CSVs ->
canonical long traces with metadata columns in the catalog.

Reference surface (solar_traces.py:58-64, wind_traces.py:58-63,
demand_traces.py:59-65): discover CSVs, decode filename metadata against
the static mapping, apply metadata pre-filters, restructure wide->long,
mean-merge entities fed by multiple files, attach metadata literals,
write one parquet per entity.

Spark-first re-expression (SURVEY §7.4 — explicitly NOT the reference's
shape): the whole per-entity joblib fan-out (solar_traces.py:163-182)
collapses into ONE declarative job:

    read CSVs (declared schema, S1/S2)
      -> decode filename -> broadcast-join the name mapping (J1/J3)
      -> metadata pre-filter (P5; Catalyst pushes it to the scan)
      -> unpivot + timestamp assembly (R1-R3, no UDF)
      -> mean-by-(entity, dims, datetime) (A1 generalized: single-file
         entities pass through unchanged under the same groupBy)
      -> catalog write partitioned by reference_year (S5/S6), sorted by
         datetime within partitions

Metadata live in columns and partition values, never filenames.
"""

from __future__ import annotations

from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from isp_trace_parser_spark.functions.restructure import trace_formatter
from isp_trace_parser_spark.input_validation import metadata_filter_to_parse_dims
from isp_trace_parser_spark.sources.catalog import Catalog
from isp_trace_parser_spark.sources.csv_trace import (
    STEM_RE,
    decode_trace_filename,
    read_wide_trace_csvs,
)


def build_name_mapping_df(
    spark: SparkSession, mapping: dict[str, dict[str, Any]]
) -> DataFrame:
    """Static mapping (the reference's resources.yaml dict,
    mappings/__init__.py:6-18) as a tiny dimension DataFrame:
    trace_stem -> entity (canonical name), entity_type (project|zone),
    resource_type, parent. Broadcast-joined against the scan — the
    reference's driver-side dict lookup (resource_trace_metadata.py:33-43)
    IS a broadcast hash join, here made explicit."""
    rows = [
        {
            "trace_stem": stem,
            "entity": m["entity"],
            "entity_type": m.get("entity_type", "project"),
            "resource_type": m.get("resource_type", ""),
            "parent": m.get("parent", ""),
        }
        for stem, m in mapping.items()
    ]
    return spark.createDataFrame(pd.DataFrame(rows))


def _listing_matches(df: DataFrame) -> list:
    """Basename regex matches (or None) for the scan's file listing —
    metadata only, zero bytes of CSV read; the same STEM_RE the column
    decode uses. Basenames stay URI-encoded exactly as
    input_file_name() reports them, so listing checks and the broadcast
    join see the same stem spelling."""
    import re

    rx = re.compile(STEM_RE)
    return [
        (path.rsplit("/", 1)[-1], rx.match(path.rsplit("/", 1)[-1]))
        for path in df.inputFiles()
    ]


def _listing_stems(df: DataFrame) -> set[str]:
    """Distinct trace stems from the scan's file listing."""
    return {m.group(1) if m else base for base, m in _listing_matches(df)}


def parse_traces_df(
    spark: SparkSession,
    input_directory: str,
    mapping: dict[str, dict[str, Any]],
    filters: dict[str, Any] | None = None,
    fail_on_unknown: bool = True,
) -> DataFrame:
    """The parse pipeline as a DataFrame (no sink): CSV scan -> filename
    decode -> broadcast mapping join -> metadata pre-filter -> wide->long
    -> mean-merge. ``filters`` are metadata pre-filters (reference P5,
    helper_functions.py:131-142): {column: value | [values]} over
    entity/entity_type/resource_type/parent/reference_year, or a
    reference-style Solar/Wind/DemandMetadataFilter model."""
    if filters is not None and hasattr(filters, "model_dump"):
        # reference-style Solar/Wind/DemandMetadataFilter model
        # (solar_traces.py:24-55) -> parse dim columns
        filters = metadata_filter_to_parse_dims(filters)
    wide = read_wide_trace_csvs(spark, input_directory)
    decoded = decode_trace_filename(wide)

    dim = build_name_mapping_df(spark, mapping)
    joined = decoded.join(F.broadcast(dim), on="trace_stem", how="left")

    if fail_on_unknown:
        # the reference raises ValueError on unmapped stems
        # (resource_trace_metadata.py:33-36). Stems are a pure function
        # of the FILE LISTING, so validate from the scan's FileIndex
        # metadata (df.inputFiles() — no data read, no second scan of
        # the ingest I/O; the one real scan stays the main job below)
        unknown = sorted(_listing_stems(wide) - set(mapping))[:20]
        if unknown:
            raise ValueError(f"Unexpected trace filename stems: {unknown}")
    else:
        joined = joined.where(F.col("entity").isNotNull())

    if filters:
        for col, value in filters.items():
            if isinstance(value, list):
                joined = joined.where(F.col(col).isin(value))
            else:
                joined = joined.where(F.col(col) == value)

    long_df = trace_formatter(
        joined.drop("source_file", "trace_stem"), sort=False
    )

    # A1 generalized: one groupBy merges multi-file entities (mean) and
    # passes single-file entities through (mean of one value)
    merged = long_df.groupBy(
        "datetime", "entity", "entity_type", "resource_type", "parent",
        "reference_year",
    ).agg(F.avg("value").alias("value"))

    return merged.select(
        "datetime", "value", "entity", "entity_type", "resource_type",
        "parent", F.col("reference_year").cast("int").alias("reference_year"),
    )


def parse_traces(
    spark: SparkSession,
    input_directory: str,
    cat: Catalog,
    table: str,
    mapping: dict[str, dict[str, Any]],
    filters: dict[str, Any] | None = None,
    fail_on_unknown: bool = True,
) -> dict[str, Any]:
    """End-to-end parse job: :func:`parse_traces_df` + catalog sink
    partitioned by reference_year, entity/datetime-sorted files."""
    out = parse_traces_df(
        spark, input_directory, mapping, filters, fail_on_unknown
    )
    return cat.write(
        out,
        table,
        partition_by=["reference_year"],
        sort_within=["entity", "datetime"],
        mode="dynamic",
        lineage={"stage": "parse", "input_directory": input_directory},
    )
