"""Skew handling: salted repartition + two-level local/global aggregation.

The north rule requires mega-cell skew (dense urban tiles, hot domains) to be
handled with salted repartitioning and two-level aggregation. Spark's hash
aggregate already does map-side partial aggregation, but a single mega-key
still funnels all its partials into one reducer; salting splits that key
across `salt_buckets` reducers first (local level), then combines the small
per-(key,salt) partials (global level).

The reference's skew guard is a semantic cutoff (>500-member relations get a
cheap geometry, `ContributionGeometry.java:24,73-75`); we keep results exact
and fix the physics instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, salt_buckets: int = 32, col_name: str = "_salt") -> DataFrame:
    """Deterministic salt derived from a full-row hash via spark_partition_id
    + monotonically_increasing_id is NOT deterministic across retries; use a
    hash of all columns instead (stable for identical rows)."""
    return df.withColumn(col_name, F.pmod(F.hash(*df.columns), F.lit(salt_buckets)))


def salted_count(
    df: DataFrame, keys: list[str], out_col: str = "n", salt_buckets: int = 32
) -> DataFrame:
    """Two-level count: groupBy(keys, salt).count → groupBy(keys).sum."""
    salted = with_salt(df, salt_buckets)
    local = salted.groupBy(*keys, "_salt").agg(F.count("*").alias("_partial"))
    return local.groupBy(*keys).agg(F.sum("_partial").alias(out_col))


def repartition_by_cell_range(df: DataFrame, cell_col: str, num_partitions: int | None = None) -> DataFrame:
    """Range-repartition by a space-filling-curve cell column so spatially
    adjacent data is co-located (the Spark analog of the reference's
    Hilbert-sorted index packing, `GridIndex.sortItems:307-315`)."""
    if num_partitions:
        return df.repartitionByRange(num_partitions, F.col(cell_col))
    return df.repartitionByRange(F.col(cell_col))
