"""The byte-range boundary shared by the reference stores and ``.osm.pbf``.

Every reference byte format crosses between Spark and bytes the same two
ways, so both directions live here once:

- ``scan_ranges`` (readers): the driver plans byte ranges from the
  format's own index structures into an Arrow split table; the table is
  range-partitioned on its leading key (one split per task) and each
  task decodes its ranges with ``mapInArrow``, reading the bytes itself
  through ``fsio`` -- the bytes never funnel through the driver.
- ``sink_segments`` (writers): an executor-encoded, range-ordered
  segment frame is materialized ONCE in parallel (``persist`` +
  ``count``; a plain ``toLocalIterator`` would run the encode one
  partition at a time while the driver consumes), then streamed to the
  driver partition by partition, in key order, and handed to the
  store's splice loop together with its ``fsio`` output streams. The
  single-file formats' position-dependent chains make that splice the
  one serial tail, as in the reference's single-threaded writers.

Both ends resolve URIs through ``fsio`` (pyarrow filesystems), so a sink
accepts exactly the URIs its reader accepts: local paths, ``file://``,
``mock://`` and the Arrow-native object stores. Schemes Arrow cannot
resolve (``s3a://``) raise before any Spark job runs.
"""

from __future__ import annotations

import posixpath
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from osm_pbf_convert_spark.sources import fsio


def _local_frame(spark: SparkSession, schema: str, **columns: list) -> DataFrame:
    """Driver-built Arrow frame: a local relation (a Python-list frame runs a Python task)."""
    return spark.createDataFrame(pa.table(columns), schema=schema)


def _struct_lists(counts, **fields) -> pa.ListArray:
    """``list<struct<fields>>`` from per-row list lengths and flat field
    arrays (numpy or Arrow), built from buffers -- no per-member Python."""
    offsets = np.zeros(len(counts) + 1, dtype=np.int32)
    np.cumsum(counts, out=offsets[1:])
    values = pa.StructArray.from_arrays(
        [pa.array(v) for v in fields.values()], names=list(fields)
    )
    return pa.ListArray.from_arrays(pa.array(offsets), values)


def scan_ranges(spark: SparkSession, splits: pa.Table, decode, schema: str) -> DataFrame:
    """Distributed decode of the byte ranges in ``splits``.

    ``splits`` leads with a unique range key (``start``, or ``path`` and
    ``start``, or ``tile``); it is range-partitioned on its first two
    columns into one partition per split. ``decode(**split)`` is called
    once per split row with the row's columns as keyword arguments and
    yields ``pyarrow.RecordBatch``es, which are cast to ``schema`` (a DDL
    string)."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    out = to_arrow_schema(StructType.fromDDL(schema))

    def scan(batches):
        for batch in batches:
            for split in batch.to_pylist():
                for rb in decode(**split):
                    yield rb.cast(out)

    frame = spark.createDataFrame(splits)
    return frame.repartitionByRange(
        max(1, splits.num_rows), *splits.column_names[:2]
    ).mapInArrow(scan, schema)


@contextmanager
def sink_segments(segments: DataFrame, key: str, *paths: str):
    """Ordered sink: ``with sink_segments(seg, key, *paths) as (rows, outs)``.

    ``segments`` must be range-partitioned with its rows in ``key``
    order inside each partition (the encoders' ``repartitionByRange`` +
    ``sortWithinPartitions`` + ``mapInArrow`` shape). The outputs are
    opened first (parent directories created), so an unresolvable URI
    fails before any job; the frame is then persisted and counted (one
    parallel encode) and ``rows`` streams it partition by partition,
    raising if a segment's ``key`` does not ascend. ``outs`` are the
    ``fsio`` output streams of ``paths``, in order. Outputs are closed
    and the frame unpersisted on exit, also when the splice raises."""
    outs = []
    try:
        for p in paths:
            parent = posixpath.dirname(p)
            if parent:
                fsio.makedirs(parent)
            outs.append(fsio.open_output(p))
        segments.persist()
        segments.count()

        def rows():
            prev = None
            for row in segments.toLocalIterator():
                if prev is not None and row[key] <= prev:
                    raise ValueError(
                        f"segment {key} {row[key]} after {prev}: partitions out of order"
                    )
                prev = row[key]
                yield row

        yield rows(), outs
    finally:
        for out in outs:
            out.close()
        segments.unpersist()
