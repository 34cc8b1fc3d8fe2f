"""Explicit partitioning keys: time-bucket + url-hash bucket + skew salt
(north_rule: "partitioning uses explicit time-bucket + url-hash keys
with salting for hot-domain skew").

Why these keys at 10^12 rows:

- ``day_bucket`` (:func:`day_bucket`): query windows are time ranges
  (reference get_data.py:80-82), so time partitions prune to
  the window; retention expires whole day/month partitions without
  rewriting live data.
- ``url_bucket = pmod(xxhash64(url), N)``: co-locates each series for
  per-series windows (gap-fill, codec) and bounds partition count —
  file-per-entity (the reference's layout) is the anti-pattern at this
  scale.
- ``salt``: for hot domains whose single url_bucket would skew a
  shuffle, a deterministic salt spreads rows across ``n_salts``
  sub-buckets; aggregations then run in two phases (salted partial,
  unsalted final). AQE skew-join splitting handles residual join skew.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from isp_trace_parser_spark.operators import rollup

DEFAULT_URL_BUCKETS = 64


def url_bucket(url: Column | str, n_buckets: int = DEFAULT_URL_BUCKETS) -> Column:
    return F.pmod(F.xxhash64(F.col(url) if isinstance(url, str) else url), n_buckets)


def day_bucket(ts: Column | str) -> Column:
    """The day of the start of the day-long bucket holding ``ts``
    (``rollup.bucket_end``'s rule): a row at 00:00 belongs to the day
    before, the day its 30m bucket starts on."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.to_date(rollup.bucket_start(c, 86400))


def write_salt_buckets(spark: SparkSession) -> int:
    """Salt count of a partitioned catalog write: scales with the
    cluster (defaultParallelism / 8, at least 2)."""
    return max(2, spark.sparkContext.defaultParallelism // 8)


def write_salt(cols: list[str], n_salts: int) -> Column:
    """The write distribution's salt: ``pmod(xxhash64(cols), n_salts)``.
    ``Catalog.write`` shuffles on ``(*partition_by, write_salt(...))``;
    a stage that shuffles on the same expression before its aggregation
    hands the write an input it need not shuffle again."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(n_salts))


def with_partition_keys(
    df: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    n_buckets: int = DEFAULT_URL_BUCKETS,
) -> DataFrame:
    return df.withColumn("url_bucket", url_bucket(url_col, n_buckets)).withColumn(
        "day_bucket", day_bucket(ts_col)
    )


def salted(
    df: DataFrame, key_col: str, n_salts: int = 8, salt_col: str = "salt"
) -> DataFrame:
    """Deterministic salt derived from a second column when available
    falls back to a hash of the full row's key+monotonic id. Used for
    two-phase aggregation over skewed keys:

        df -> salted -> groupBy(key, salt).agg(partials)
           -> groupBy(key).agg(final)
    """
    return df.withColumn(
        salt_col, F.pmod(F.xxhash64(F.col(key_col), F.monotonically_increasing_id()), n_salts)
    )


def two_phase_avg(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    n_salts: int = 8,
    sum_cast: str | None = "decimal(20,4)",
) -> DataFrame:
    """Skew-proof mean: salted partial sums/counts, then exact final
    combine. Semantically identical to groupBy(keys).avg(value).

    ``sum_cast`` (see rollup.DEC): exact decimal partials make the result
    independent of salt count and partitioning — only valid when values
    have <= the cast's fractional digits; pass None for raw doubles.
    """
    c = F.col(value_col)
    partial = (
        salted(df, keys[0], n_salts)
        .groupBy(*keys, "salt")
        .agg(
            F.sum(c.cast(sum_cast) if sum_cast else c).alias("_s"),
            F.count(value_col).alias("_c"),
        )
    )
    return partial.groupBy(*keys).agg(
        (F.sum("_s").cast("double") / F.sum("_c")).alias(f"avg_{value_col}"),
        F.sum("_c").alias(f"cnt_{value_col}"),
    )


def skew_report(
    df: DataFrame,
    key_cols: list[str],
    parallelism: int,
    top_k: int = 10,
) -> DataFrame:
    """Measurement side of the salting loop: per-key row counts for the
    ``top_k`` hottest shuffle keys, each with its share of the table and
    the salt factor that would level it.

    ``suggested_salts`` = ceil(key_count / (total / parallelism)) — the
    number of salt buckets needed so no single (key, salt) partition
    exceeds the average per-task share. 1 means the key is fine as-is;
    feed anything larger into :func:`salted` / ``two_phase_avg``
    (``Catalog.write`` salts with :func:`write_salt_buckets`, which
    scales with the cluster).

    Cost: one two-phase count agg (map-side combined) + a broadcast of
    the single-row total; the top-k is an order-by-limit over the
    already-aggregated key counts with a deterministic (count desc, key
    asc) tie-break.
    """
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("key_rows"))
    total = counts.agg(F.sum("key_rows").alias("_total"))
    enriched = counts.crossJoin(F.broadcast(total)).select(
        *key_cols,
        "key_rows",
        (F.col("key_rows").cast("double") / F.col("_total")).alias("row_share"),
        F.ceil(
            F.col("key_rows").cast("double")
            / (F.col("_total").cast("double") / F.lit(parallelism))
        ).cast("long").alias("suggested_salts"),
    )
    order = [F.col("key_rows").desc()] + [F.col(c).asc() for c in key_cols]
    return enriched.orderBy(*order).limit(top_k)
