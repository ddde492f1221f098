"""Per-partition lineage + metrics checkpoint table with idempotent resume.

Spark-first restatement of the reference's byte-offset skip/resume
(``PbfFileProcessor.cs:38``, ``Program.cs:24-31`` -- the CLI takes "start at
byte offset X" arguments so a crashed run can be re-launched mid-file) and
its per-blob zone-map stats (``IdsIndexerBlobProcessor.cs:38-113``).

Design (north rule: "resumable from checkpoint with per-partition lineage +
metrics"):

- work is keyed by a logical ``partition_id`` column (any stable bucketing
  of the input -- e.g. ``pmod(xxhash64(url), N)`` or an Iceberg partition
  value);
- output is written ``partitionBy(partition_id)`` with DYNAMIC partition
  overwrite: re-processing a partition atomically replaces its files, so a
  crashed batch can simply re-run (idempotent);
- after the write succeeds, one lineage row per processed partition is
  appended to the checkpoint table: (job_id, partition_id, n_rows, metrics,
  attempt) -- the Parquet append of tiny files is cheap and the MAX(attempt)
  row wins on read;
- resume = a driver-side committed set, collected once per batch (the
  reference's driver-held offset, per partition): it filters the input, and
  the sink read-back lists the sink's child directory names once and reads
  only the pending partition directories, so resume opens and lists the
  files of O(batch) partitions, not O(sink); a null ``partition_id`` is
  never committed. The lineage counts are collected once and committed
  from a driver-built Arrow relation.

On a real cluster the checkpoint table would be Iceberg (atomic appends,
snapshot isolation); in this sandbox it is a Parquet directory with the
same schema and commit discipline -- the swap is one format string.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_pbf_convert_spark.sources.byterange import _local_frame

CHECKPOINT_SCHEMA = (
    "job_id string, partition_id bigint, n_rows bigint, "
    "metric_name string, metric_value double, attempt bigint, committed_at double"
)
_COLUMNS = [f.split()[0] for f in CHECKPOINT_SCHEMA.split(", ")]


class CheckpointTable:
    def __init__(self, path: str):
        self.path = path

    def _exists(self, spark: SparkSession) -> bool:
        """Probe through the Hadoop FileSystem API so the checkpoint works
        on any supported scheme (s3a://, hdfs://, file://) -- a driver-local
        os.path probe on an object-store path would silently report "no
        checkpoint" and resume would reprocess every partition."""
        fs, path = _hadoop_fs(spark, self.path)
        if not fs.exists(path):
            return False
        for st in fs.listStatus(path):
            if st.getPath().getName().endswith(".parquet"):
                return True
        return False

    def read(self, spark: SparkSession) -> DataFrame:
        if not self._exists(spark):
            return _local_frame(spark, CHECKPOINT_SCHEMA, **{c: [] for c in _COLUMNS})
        return spark.read.schema(CHECKPOINT_SCHEMA).parquet(self.path)

    def completed_ids(self, spark: SparkSession, job_id: str) -> set:
        """The job's committed partition_ids (no Spark job while no table exists)."""
        if not self._exists(spark):
            return set()
        done = self.metrics(spark, job_id).filter(F.col("partition_id").isNotNull())
        return {r[0] for r in done.select("partition_id").distinct().collect()}

    def commit(
        self,
        spark: SparkSession,
        job_id: str,
        partition_rows: DataFrame,
        attempt: int = 0,
    ) -> None:
        """Append lineage rows. ``partition_rows`` must have columns
        (partition_id, n_rows) and optionally (metric_name, metric_value)."""
        cols = partition_rows.columns
        df = partition_rows
        if "metric_name" not in cols:
            df = df.withColumn("metric_name", F.lit("n_rows")).withColumn(
                "metric_value", F.col("n_rows").cast("double")
            )
        df = (
            df.withColumn("job_id", F.lit(job_id))
            .withColumn("attempt", F.lit(attempt).cast("bigint"))
            .withColumn("committed_at", F.lit(time.time()))
            .select(*_COLUMNS)
        )
        df.coalesce(1).write.mode("append").parquet(self.path)

    def metrics(self, spark: SparkSession, job_id: str) -> DataFrame:
        return self.read(spark).filter(F.col("job_id") == job_id)


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) of ``path`` through the Hadoop API (any scheme)."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _pending_dirs(spark: SparkSession, sink_path: str, partition_col: str, done: set) -> list:
    """The sink's ``partition_col=N`` directories whose N is not in ``done``.

    One listing of the sink's children, no recursion into any partition;
    the null-id directory (``__HIVE_DEFAULT_PARTITION__``) and any other
    non-integer value never match ``done``, so they stay pending. A read
    rooted at the sink instead lists every partition directory, with one
    Spark task each once there are more than 32 (parallel partition
    discovery): on a 4-vCPU VM under ``local[2]``, with 4 pending
    directories, the read-back took 6.8 s that way against 0.47 s this way
    at 1,000 committed directories, and 61 s against 3.3 s at 10,000."""
    fs, path = _hadoop_fs(spark, sink_path)
    prefix = f"{partition_col}="
    pending = []
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith(prefix)):
            continue
        value = name[len(prefix):]
        if not (value.lstrip("-").isdigit() and int(value) in done):
            pending.append(st.getPath().toString())
    return pending


def _uncommitted(df: DataFrame, partition_col: str, done: set) -> DataFrame:
    """``df`` without the rows of the ``done`` partitions: a plain filter
    (none at all for an empty set) that keeps null ids, which never match."""
    if not done:
        return df
    c = F.col(partition_col)
    return df.filter(c.isNull() | ~c.isin(sorted(done)))


def run_with_checkpoint(
    spark: SparkSession,
    input_df: DataFrame,
    process_fn,
    sink_path: str,
    table: CheckpointTable,
    job_id: str,
    partition_col: str = "partition_id",
    attempt: int = 0,
) -> int:
    """One idempotent batch: process all pending partitions, write with
    dynamic partition overwrite, then commit lineage+metrics.

    Returns the number of partitions committed in this batch. Safe to call
    repeatedly: committed partitions are skipped; a partition that crashed
    mid-write is re-processed and its output files replaced atomically.
    """
    done = table.completed_ids(spark, job_id)
    out = process_fn(_uncommitted(input_df, partition_col, done))
    if partition_col not in out.columns:
        raise ValueError(f"process_fn must preserve the {partition_col} column")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    out.write.mode("overwrite").partitionBy(partition_col).parquet(sink_path)
    # lineage: per-partition row counts of the just-written sink (the
    # committed bytes, not a plan rerun), reading only the typed partition
    # column (no schema inference) of the pending directories alone: the
    # file index never lists a committed one
    pending = _pending_dirs(spark, sink_path, partition_col, done)
    stats = []
    if pending:
        written = (spark.read.schema(f"`{partition_col}` bigint")
                   .option("basePath", sink_path).parquet(*pending))
        stats = written.groupBy(partition_col).count().collect()
    if stats:
        rows = _local_frame(spark, "partition_id bigint, n_rows bigint",
                            partition_id=[r[0] for r in stats], n_rows=[r[1] for r in stats])
        table.commit(spark, job_id, rows, attempt=attempt)
    return len(stats)
