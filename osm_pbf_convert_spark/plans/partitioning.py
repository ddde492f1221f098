"""Spatial partitioning: the Spark-native replacement for the reference's
adaptive KD-tree (`SpatialIndex.cs:25-191`) + external Morton sort
(`NodesIndexBlobProcessor.cs:36-241`) + spatial block store
(`SpatialBlock.cs:48-537`).

- ``write_spatial_table``: partitioned-Parquet leaf layout keyed by a
  zoom-z tile prefix -- the analog of KD leaf files (a hash shuffle on
  the tile plus a per-partition sort on the Morton cell, spilled by
  Spark's shuffle machinery the way the reference's external merge sort
  spills its runs), with Parquet row-group min/max stats standing in
  for the reference's 4KB sparse block indexes (`NodesIndex.cs:113-133`).
- ``write_bucketed_nodes``: the node table bucketed and sorted on the
  join key, the durable analog of the reference's clustered node store.
- ``fan_out``: scale-adaptive repartition of small inputs ahead of
  per-row-heavy stages.
"""

from __future__ import annotations

from collections import OrderedDict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_pbf_convert_spark.functions.cells import morton_cell_col, tile_col


def with_cell(df: DataFrame) -> DataFrame:
    return df.withColumn("cell", morton_cell_col(F.col("ilat"), F.col("ilon")))


def fan_out(df: DataFrame, key: str | None = None) -> DataFrame:
    """Scale-adaptive input fan-out for per-row-HEAVY stages (guide §2.5,
    "input skew: one huge unsplittable file ... repartition immediately
    after the read").

    A small table scanned as fewer splits than the cluster has cores runs
    its entire map side (shingle hashing, Arrow passes, regex scans) on
    those few cores -- measured at bench scale: the 594 KB documents table
    plans ONE split under a 1 MB ``openCostInBytes`` floor, so every
    signature stage ran single-threaded on a 32-core box (md5 minhash
    5.6 s -> 2.5 s from this alone). Repartitioning costs one exchange of
    the RAW rows (cheap: raw text, not exploded shingles).

    Scale-adaptive by construction: fires only when the planned scan
    parallelism is BELOW ``defaultParallelism`` -- a 100 TB table already
    scans as tens of thousands of splits and passes through untouched, so
    this is never a cap, only a floor. Hash-partitions on ``key`` when
    given (deterministic under retries, no sort-before-repartition pass);
    round-robin otherwise.

    The partition-count probe (``getNumPartitions`` on the planned RDD,
    metadata only) plans the scan on the driver (~0.1 s); it is memoized per
    session UUID and semantic plan, in an LRU of ``_FAN_OUT_MEMO_MAX``
    entries, so repeated constructions of the same query pay it once per
    session. A memo hit can go stale only if the SAME plan's underlying
    files change mid-session, and then only the fan-out decision is stale
    -- never results.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        memo_key = (spark._jsparkSession.sessionUUID(), df.semanticHash(), target)
        n = _FAN_OUT_MEMO.pop(memo_key, None)
        if n is None:
            n = df.rdd.getNumPartitions()
    except Exception:  # non-queryable plan (e.g. streaming): leave as-is
        return df
    _FAN_OUT_MEMO[memo_key] = n  # (re)inserted as the most recently used
    if len(_FAN_OUT_MEMO) > _FAN_OUT_MEMO_MAX:
        _FAN_OUT_MEMO.popitem(last=False)
    if n >= target:
        return df
    return df.repartition(target, F.col(key)) if key else df.repartition(target)


_FAN_OUT_MEMO: OrderedDict = OrderedDict()
_FAN_OUT_MEMO_MAX = 256


def write_spatial_table(df: DataFrame, path: str, z: int = 6) -> None:
    """Leaf layout: Parquet partitioned by zoom-z tile, rows sorted by cell
    within files (sortWithinPartitions -> Parquet row-group min/max on cell
    become the sparse index)."""
    d = df if "cell" in df.columns else with_cell(df)
    (
        d.withColumn("tile", tile_col(F.col("cell"), z))
        .repartition("tile")
        .sortWithinPartitions("cell")
        .write.mode("overwrite")
        .partitionBy("tile")
        .parquet(path)
    )


def write_bucketed_nodes(df: DataFrame, table: str, buckets: int = 64) -> None:
    """Persist nodes as a bucketed+sorted table on the join key -- the
    durable analog of the reference's clustered node store
    (`NodesIndex.cs`: delta-coded blocks clustered by node id + sparse
    index). Every future ways⋈nodes run against this table skips the
    nodes-side shuffle AND sort: Catalyst sees the bucketing and plans a
    one-sided exchange only. Worth it when the node table is joined many
    times (the reference's exact access pattern)."""
    (
        df.write.mode("overwrite")
        .bucketBy(buckets, "id")
        .sortBy("id")
        .format("parquet")
        .saveAsTable(table)
    )
