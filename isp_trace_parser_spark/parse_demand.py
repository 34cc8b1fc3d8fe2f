"""Demand-trace parse variant (reference demand_traces.py:59-233).

Demand filenames are composite:
``<subregion>_RefYear_<year>_<scenario>_<poe>_<demand_type>.csv``
(reference demand_trace_metadata.py:6-27, mappings/2024/demand.yaml).
The reference cross-product-expands the dimension vocabulary into a
lookup dict; here the vocabulary IS the validity check: decode the
filename into columns with one regexp, then broadcast-join the scenario
rename dimension (J4) and validate membership with fail-loud counts.

Unlike resource traces there is no mean-merge (one file per demand
config, demand_traces.py is per-file), so the pipeline is decode ->
filter -> restructure -> write.
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import DataFrame, functions as F

from isp_trace_parser_spark.functions.restructure import trace_formatter
from isp_trace_parser_spark.sources.catalog import Catalog
from isp_trace_parser_spark.sources.csv_trace import read_wide_trace_csvs

# 2024 vocabulary (reference mappings/2024/demand.yaml:14-21). The raw
# scenario code appears in filenames; the display name is what lands in
# the `scenario` column (demand_traces.py:208).
SCENARIO_DISPLAY = {
    "STEP_CHANGE": "Step Change",
    "PROGRESSIVE_CHANGE": "Progressive Change",
    "HYDROGEN_EXPORT": "Green Energy Exports",
}
POE_LEVELS = ["POE10", "POE50"]
DEMAND_TYPES = ["OPSO_MODELLING", "OPSO_MODELLING_PVLITE", "PV_TOT"]

_DEMAND_RE = (
    r"^([A-Z0-9]+)_RefYear_(\d{4})_([A-Z_]+?)_(POE\d+)_"
    r"(OPSO_MODELLING(?:_PVLITE)?|PV_TOT)\.csv$"
)


def decode_demand_filename(df: DataFrame, col: str = "source_file") -> DataFrame:
    base = F.element_at(F.split(F.col(col), "/"), -1)
    return (
        df.withColumn("subregion", F.regexp_extract(base, _DEMAND_RE, 1))
        .withColumn(
            "reference_year",
            F.nullif(F.regexp_extract(base, _DEMAND_RE, 2), F.lit("")).cast("int"),
        )
        .withColumn("scenario_raw", F.regexp_extract(base, _DEMAND_RE, 3))
        .withColumn("poe", F.regexp_extract(base, _DEMAND_RE, 4))
        .withColumn("demand_type", F.regexp_extract(base, _DEMAND_RE, 5))
    )


def _listing_invalid(
    df: DataFrame,
    subregions: list[str],
    scenario_display: dict[str, str],
) -> list[str]:
    """Basenames in the scan's file listing that fail the demand
    filename vocabulary — must stay in lockstep with
    ``decode_demand_filename``'s regex and the membership checks."""
    rx = re.compile(_DEMAND_RE)
    bad = set()
    for path in df.inputFiles():
        base = path.rsplit("/", 1)[-1]
        m = rx.match(base)
        if (
            m is None
            or m.group(1) not in subregions
            or m.group(3) not in scenario_display
            or m.group(4) not in POE_LEVELS
            or m.group(5) not in DEMAND_TYPES
        ):
            bad.add(base)
    return sorted(bad)[:20]


def parse_demand_df(
    spark,
    input_directory: str,
    subregions: list[str],
    filters: dict[str, Any] | None = None,
    scenario_display: dict[str, str] | None = None,
) -> DataFrame:
    """The demand parse pipeline as a DataFrame (no sink): CSV scan ->
    composite filename decode -> listing validation -> scenario rename
    -> metadata filters -> wide->long restructure."""
    scenario_display = scenario_display or SCENARIO_DISPLAY
    wide = read_wide_trace_csvs(spark, input_directory)
    decoded = decode_demand_filename(wide)

    # every validated field derives from the FILENAME, so validate from
    # the scan's file listing (df.inputFiles() — FileIndex metadata, zero
    # bytes of CSV read and no extra Spark job; same pattern as
    # parse.py:_listing_stems, VERDICT r2 #8). The one real scan of the
    # input stays the main parse job below.
    bad = _listing_invalid(wide, subregions, scenario_display)
    if bad:
        raise ValueError(f"Unexpected trace filename: {bad}")

    # J4: scenario raw -> display, tiny literal map
    m = F.create_map(*[F.lit(x) for kv in scenario_display.items() for x in kv])
    with_scenario = decoded.withColumn("scenario", m[F.col("scenario_raw")]).drop(
        "scenario_raw"
    )

    if filters:
        for col, value in filters.items():
            if isinstance(value, list):
                with_scenario = with_scenario.where(F.col(col).isin(value))
            else:
                with_scenario = with_scenario.where(F.col(col) == value)

    return trace_formatter(
        with_scenario.drop("source_file"), sort=False
    ).select(
        "datetime", "value", "subregion",
        F.col("reference_year").cast("int").alias("reference_year"),
        "scenario", "poe", "demand_type",
    )


def parse_demand_traces(
    spark,
    input_directory: str,
    cat: Catalog,
    table: str,
    subregions: list[str],
    filters: dict[str, Any] | None = None,
    scenario_display: dict[str, str] | None = None,
) -> dict[str, Any]:
    scenario_display = scenario_display or SCENARIO_DISPLAY
    long_df = parse_demand_df(
        spark, input_directory, subregions, filters, scenario_display
    )
    return cat.write(
        long_df,
        table,
        partition_by=["scenario", "reference_year"],
        sort_within=["subregion", "datetime"],
        mode="dynamic",
        lineage={"stage": "parse_demand", "input_directory": input_directory},
    )
