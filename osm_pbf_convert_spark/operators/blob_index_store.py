"""The reference's ``.blobs.dat`` per-blob id zone-map file -- the sixth
and last byte format, both directions.

The reference's ids-indexer pass accumulates one ``BlobIdsInfo`` per
blob (min/max node id, node/way/relation counts, blob start offset --
``OSM-pbf-convert/IdsIndexerBlobProcessor.cs:38-113``) and serializes
the list as fixed-width little-endian records via ``BinaryWriter``
(``BlobIdsInfo.cs:35-42`` ``WriteBlobInfo``; file-level
``WriteIdsIndex`` at ``BlobIdsInfo.cs:44-51``; read back by
``ReadBlobIdsInfo`` at ``BlobIdsInfo.cs:21-32``):

    int64 StartPosition | int32 NodesCount | int64 MinNodeId |
    int64 MaxNodeId     | int32 WaysCount  | int32 RelationsCount

36 bytes per record, no header, no padding. The engine's QUERY path
for zone maps stays the Parquet form (``queries.q_zone_maps``, CLI
``blob-index``); this module adds byte parity so reference-produced
``.blobs.dat`` files interop in both directions.

Spark-first shape: the format is fixed-width, so unlike the five
delta-chained formats it is PERFECTLY splittable -- the distributed
reader cuts byte ranges aligned to 36-byte multiples and each task
decodes its range with one ``numpy.frombuffer`` on a packed structured
dtype (no driver skim, no reseeding). The writer encodes partitions as
single ``tobytes()`` blobs executor-side; the driver only streams them
in record order (the single-file serial tail shared by all the byte
sinks). Both ends do IO through ``sources.fsio``, so local paths and
object-store URIs behave identically.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession

from osm_pbf_convert_spark.sources import fsio
from osm_pbf_convert_spark.sources.byterange import scan_ranges, sink_segments

# BinaryWriter field order, little-endian, packed (BlobIdsInfo.cs:35-42)
RECORD = struct.Struct("<qiqqii")
RECORD_BYTES = RECORD.size  # 36

# the same layout as a packed numpy structured dtype (vectorized path)
_DTYPE = np.dtype(
    [
        ("start_position", "<i8"),
        ("nodes_count", "<i4"),
        ("min_node_id", "<i8"),
        ("max_node_id", "<i8"),
        ("ways_count", "<i4"),
        ("rels_count", "<i4"),
    ]
)
assert _DTYPE.itemsize == RECORD_BYTES

COLUMNS = list(_DTYPE.names)
SCHEMA = (
    "start_position long, nodes_count int, min_node_id long, "
    "max_node_id long, ways_count int, rels_count int"
)


def encode_blob_ids_info_py(infos) -> bytes:
    """Golden pure-Python port of ``WriteIdsIndex``
    (``BlobIdsInfo.cs:35-51``): ``infos`` is an iterable of
    (start_position, nodes_count, min_node_id, max_node_id,
    ways_count, rels_count) tuples, one 36-byte record each.
    Kept as the byte-parity golden of the distributed ``.blobs.dat`` writer."""
    return b"".join(RECORD.pack(*info) for info in infos)


def decode_blob_ids_info_py(data: bytes) -> list:
    """Sequential reader port (``ReadBlobIdsInfo``,
    ``BlobIdsInfo.cs:21-32``).
    Kept as the byte-parity oracle of the distributed writer's output."""
    if len(data) % RECORD_BYTES:
        raise ValueError(
            f"truncated .blobs.dat: {len(data)} is not a multiple of {RECORD_BYTES}"
        )
    return [RECORD.unpack_from(data, off) for off in range(0, len(data), RECORD_BYTES)]


def blob_index_segments(df: DataFrame, num_chunks: int | None = None) -> DataFrame:
    """Distributed encode stage: range-partition on ``start_position``
    (the reference writes infos in blob order), encode each partition
    as ONE packed-record blob via the structured dtype. Returns
    (first_pos, blob) rows, range-ordered by first_pos."""
    from pyspark.sql import functions as F

    spark = df.sparkSession
    n = num_chunks or spark.sparkContext.defaultParallelism
    types = {"i8": "long", "i4": "int"}
    part = (
        df.select(*[
            F.col(c).cast(types[_DTYPE[c].str.lstrip("<|")]).alias(c) for c in COLUMNS
        ])
        .repartitionByRange(n, "start_position")
        .sortWithinPartitions("start_position")
    )

    def encode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        parts = []
        first = None
        for batch in batches:
            if not batch.num_rows:
                continue
            rec = np.empty(batch.num_rows, dtype=_DTYPE)
            for c in COLUMNS:
                rec[c] = batch.column(c).to_numpy()
            if first is None:
                first = int(rec["start_position"][0])
            parts.append(rec.tobytes())
        if parts:
            yield pa.RecordBatch.from_pydict({"first_pos": [first], "blob": [b"".join(parts)]})

    return part.mapInArrow(encode, schema="first_pos long, blob binary")


def write_blobs_dat(df: DataFrame, out_path: str, num_chunks: int | None = None) -> int:
    """Single ``.blobs.dat`` byte sink: executor-parallel encode, driver
    splice in start-position order. Returns bytes written."""
    total = 0
    with sink_segments(blob_index_segments(df, num_chunks), "first_pos", out_path) as (
        rows, (out,)
    ):
        for row in rows:
            out.write(row["blob"])
            total += len(row["blob"])
    return total


def read_blobs_dat(
    spark: SparkSession, path: str, split_records: int = 1_000_000
) -> DataFrame:
    """Distributed ``.blobs.dat`` reader: 36-byte-aligned byte-range
    splits, one vectorized ``frombuffer`` decode per task.
    Kept as the read direction that round-trips the ``.blobs.dat`` writer."""
    size = fsio.file_size(path)
    if size % RECORD_BYTES:
        raise ValueError(
            f"{path}: {size} bytes is not a multiple of {RECORD_BYTES}"
        )
    n_rec = size // RECORD_BYTES
    starts = np.arange(0, max(n_rec, 1), split_records, dtype=np.int64)
    splits = pa.table({
        "start": starts * RECORD_BYTES,
        "end": np.minimum(starts + split_records, n_rec) * RECORD_BYTES,
    })

    def decode(start, end):
        if end <= start:
            return
        with fsio.open_seekable(path) as f:
            f.seek(start)
            rec = np.frombuffer(f.read(end - start), dtype=_DTYPE)
        yield pa.RecordBatch.from_pydict({c: rec[c] for c in COLUMNS})

    return scan_ranges(spark, splits, decode, SCHEMA)
