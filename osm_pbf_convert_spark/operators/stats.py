"""Statistics operators: way size histogram (#28), heavy hitters (#23).

- way size stats (``OSM-pbf-convert/WaysFileProcessor.cs:20-102``): the
  node-count histogram over resolved ways.
- heavy hitters (``TagStatsProcessor.cs:122-142`` evicts count<100 when the
  hash map hits 10M keys): at Spark scale the exact groupBy is fine, but the
  bounded-memory analog is exposed as a count-min-style threshold filter
  over partial aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def way_size_histogram(ways_resolved: DataFrame) -> DataFrame:
    """(n_nodes, n_ways) histogram over resolved ways."""
    return (
        ways_resolved.groupBy(F.col("n_resolved").alias("n_nodes"))
        .agg(F.count(F.lit(1)).alias("n_ways"))
    )


def heavy_hitters(df: DataFrame, key_col: str, min_count: int = 100) -> DataFrame:
    """Keys with count >= min_count -- the exact version of the reference's
    lossy eviction (which drops counts < 100 under memory pressure). The
    exact groupBy is the right call on Spark: partial (map-side) aggregation
    bounds shuffle volume by distinct-keys-per-partition, and AQE coalesces
    the reduce side."""
    return (
        df.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )

