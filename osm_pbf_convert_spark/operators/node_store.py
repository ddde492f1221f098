"""Clustered node store sink: the reference's ``.nodes.dat`` + ``.idx``
byte formats (``NodesIndex.cs:107-146``).

Format (all varints MSB-first 7-bit groups, ``Write7BitEncodedInt``):

- ``.nodes.dat``: per node, in ascending id order:
  ``varint(id - lastId), varint(zigzag(lat - lastLat)),
  varint(zigzag(lon - lastLon))``. The delta state resets to (0,0,0) at
  the first record that STARTS at/after each 4096-byte block boundary
  (records may straddle boundaries).
- ``.idx``: one sparse entry per reset: ``byte(record_start - boundary)``
  then ``varint(id - lastIndexId)`` (``NodesIndex.cs:113-133``).

Scale note: the engine's query-path node store is the tile-partitioned /
bucketed Parquet table (``plans/partitioning.py``) -- the correct
north-rule mapping. This sink is the byte-parity bridge to the
reference's artifact, shaped like ``write_heat_map_file``: the expensive
work (sort, deltas, zigzag, varint byte emission) runs VECTORIZED ON
EXECUTORS via mapInArrow; the driver only streams pre-encoded chunks to
the file (``byterange.sink_segments``), re-encoding the handful of
records the format's sequential block-chain makes position-dependent
(one per 4 KB block boundary + one per partition seam). The chain is
inherently sequential -- each block boundary's position depends on every
prior byte length -- which is why the reference itself is a
single-threaded writer (``NodesIndex.cs:37-43``).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np

from pyspark.sql import DataFrame

from osm_pbf_convert_spark.codecs import (
    encode_varints_msb,
    encode_varints_msb_np,
    varint_lengths,
    zigzag_encode,
    zigzag_int,
)
from osm_pbf_convert_spark.sources.byterange import sink_segments

BLOCK_SIZE = 4096


def _record_bytes(did: int, dlat: int, dlon: int) -> bytes:
    return encode_varints_msb([did & 0xFFFFFFFFFFFFFFFF, zigzag_int(dlat), zigzag_int(dlon)])


def encode_nodes_index_py(ids, lats, lons, block_size: int = BLOCK_SIZE):
    """Pure-Python reference encoder (golden): a direct port of
    ``NodesIndex.WriteNode`` (``NodesIndex.cs:107-146``). Returns
    ``(dat_bytes, idx_bytes)``. Input must be ascending by id (the
    reference receives nodes pre-sorted by its external sort).
    Kept as the byte-parity golden of the distributed ``.nodes.dat`` writer."""
    dat = bytearray()
    idx = bytearray()
    last_id = last_lat = last_lon = 0
    last_reset = 0
    last_index_id = 0
    prev = None
    for nid, lat, lon in zip(ids, lats, lons):
        nid, lat, lon = int(nid), int(lat), int(lon)
        if prev is not None and nid < prev:
            raise ValueError("ids must be ascending")
        prev = nid
        if len(dat) >= last_reset + block_size:
            last_reset += block_size
            offset = len(dat) - last_reset
            if not 0 <= offset <= 255:
                raise AssertionError("record straddle exceeds byte offset")
            idx.append(offset)
            idx += encode_varints_msb([nid - last_index_id])
            last_index_id = nid
            last_id = last_lat = last_lon = 0
        dat += _record_bytes(nid - last_id, lat - last_lat, lon - last_lon)
        last_id, last_lat, last_lon = nid, lat, lon
    return bytes(dat), bytes(idx)


def decode_nodes_index_py(dat: bytes, block_size: int = BLOCK_SIZE):
    """Sequential decoder mirroring ``NodesIndex.ReadAllNodesById``'s
    parse states (``NodesIndex.cs:218-268``) for roundtrip tests: walks
    the whole stream applying the same block-boundary resets.
    Kept as the byte-parity oracle of the distributed writer's output."""
    from osm_pbf_convert_spark.codecs import zigzag_decode

    ids, lats, lons = [], [], []
    last_id = last_lat = last_lon = 0
    last_reset = 0
    pos = 0
    n = len(dat)
    while pos < n:
        if pos >= last_reset + block_size:
            last_reset += block_size
            last_id = last_lat = last_lon = 0
        vals = []
        for _ in range(3):
            v = 0
            while True:
                b = dat[pos]
                pos += 1
                v = (v << 7) | (b & 0x7F)
                if not b & 0x80:
                    break
            vals.append(v)
        last_id += vals[0]
        last_lat += int(zigzag_decode(np.array([vals[1]], dtype=np.uint64))[0])
        last_lon += int(zigzag_decode(np.array([vals[2]], dtype=np.uint64))[0])
        ids.append(last_id)
        lats.append(last_lat)
        lons.append(last_lon)
    return ids, lats, lons


def node_index_segments(
    nodes: DataFrame,
    num_chunks: int | None = None,
    max_nodes_per_row: int = 16_000_000,
) -> DataFrame:
    """Distributed encode stage: range-partition by id, then emit one row
    per Arrow batch with the batch's records FULLY VARINT-ENCODED as one
    blob (vectorized numpy) plus the raw values and per-record lengths the
    driver needs to splice block-boundary resets.

    ``fresh`` marks a partition's first batch: its first record was
    delta-encoded against (0,0,0) because the previous partition's last
    values are unknowable executor-side; the driver re-encodes that one
    record against its running state."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    spark = nodes.sparkSession
    n = num_chunks or spark.sparkContext.defaultParallelism
    df = (
        nodes.select(
            F.col("id").cast("long"),
            F.col("ilat").cast("long"),
            F.col("ilon").cast("long"),
        )
        .repartitionByRange(n, "id")
        .sortWithinPartitions("id")
    )

    def encode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # ONE output row per partition (accumulating the batch outputs
        # cuts the driver's streamed row count from hundreds to
        # num_chunks; measured: per-row streaming overhead dominated the
        # sink wall at 7M+ nodes) -- UNLESS the partition is huge: each
        # long buffer is 8 B/node, so a single-row partition of ~250M+
        # nodes would blow the ~2 GB Arrow binary-value limit. Rows are
        # flushed at a bytes cap instead; only a partition's FIRST row is
        # `fresh` (later rows continue its delta chains, which the driver
        # splice already handles via the running prev_* state).
        prev_id = prev_lat = prev_lon = 0
        acc: dict = {"ids": [], "ilats": [], "ilons": [], "lens": [], "blob": []}
        acc_nodes = 0
        first_row = True

        def flush():
            nonlocal acc, acc_nodes, first_row
            ids_buf = b"".join(acc["ids"])
            row = pa.RecordBatch.from_pydict(
                {
                    "first_id": [int(np.frombuffer(ids_buf[:8], dtype="<i8")[0])],
                    "ids": [ids_buf],
                    "ilats": [b"".join(acc["ilats"])],
                    "ilons": [b"".join(acc["ilons"])],
                    "lens": [b"".join(acc["lens"])],
                    "blob": [b"".join(acc["blob"])],
                    "fresh": [first_row],
                }
            )
            acc = {"ids": [], "ilats": [], "ilons": [], "lens": [], "blob": []}
            acc_nodes = 0
            first_row = False
            return row

        for batch in batches:
            if not batch.num_rows:
                continue
            ids = batch.column("id").to_numpy()
            lats = batch.column("ilat").to_numpy()
            lons = batch.column("ilon").to_numpy()
            did = np.empty_like(ids)
            did[0] = ids[0] - prev_id
            np.subtract(ids[1:], ids[:-1], out=did[1:])
            dlat = np.empty_like(lats)
            dlat[0] = lats[0] - prev_lat
            np.subtract(lats[1:], lats[:-1], out=dlat[1:])
            dlon = np.empty_like(lons)
            dlon[0] = lons[0] - prev_lon
            np.subtract(lons[1:], lons[:-1], out=dlon[1:])
            # interleave (did, zz(dlat), zz(dlon)) and varint-encode in one
            # vectorized pass; per-record lengths from per-value group counts
            flat = np.empty(ids.size * 3, dtype=np.uint64)
            flat[0::3] = did.astype(np.uint64)
            flat[1::3] = zigzag_encode(dlat)
            flat[2::3] = zigzag_encode(dlon)
            lens = varint_lengths(flat).reshape(-1, 3).sum(axis=1)
            blob = encode_varints_msb_np(flat)
            # arrays ship as raw little-endian buffers: the driver
            # np.frombuffer's them -- array<long> Rows would force tens of
            # millions of Python-object conversions in the splice loop
            acc["ids"].append(ids.astype("<i8").tobytes())
            acc["ilats"].append(lats.astype("<i8").tobytes())
            acc["ilons"].append(lons.astype("<i8").tobytes())
            acc["lens"].append(lens.astype("<i8").tobytes())
            acc["blob"].append(blob)
            acc_nodes += ids.size
            prev_id, prev_lat, prev_lon = int(ids[-1]), int(lats[-1]), int(lons[-1])
            if acc_nodes >= max_nodes_per_row:
                yield flush()
        if acc["ids"]:
            yield flush()

    return df.mapInArrow(
        encode,
        schema="first_id long, ids binary, ilats binary, ilons binary, "
               "lens binary, blob binary, fresh boolean",
    )


def write_nodes_index_file(
    nodes: DataFrame, out_prefix: str, num_chunks: int | None = None,
    block_size: int = BLOCK_SIZE, max_nodes_per_row: int = 16_000_000,
) -> tuple[int, int]:
    """Assemble ``{out_prefix}.nodes.dat`` + ``{out_prefix}.idx``
    byte-identical to the reference writer (golden-tested against
    ``encode_nodes_index_py``). Executors produce pre-encoded chunk blobs
    (``node_index_segments``); the driver streams them in id order into
    ``fsio`` outputs (object-store URIs work), re-encoding only the
    position-dependent records: partition seams and the one reset record
    per 4 KB block. Returns (dat_bytes, idx_bytes) written."""
    pos = 0
    last_reset = 0
    prev_id = prev_lat = prev_lon = 0
    last_index_id = 0
    dat_total = idx_total = 0
    seen_any = False
    segments = node_index_segments(nodes, num_chunks, max_nodes_per_row)
    with sink_segments(
        segments, "first_id", f"{out_prefix}.nodes.dat", f"{out_prefix}.idx"
    ) as (rows, (dat_out, idx_out)):
        for row in rows:
            ids = np.frombuffer(bytes(row["ids"]), dtype="<i8")
            lats = np.frombuffer(bytes(row["ilats"]), dtype="<i8")
            lons = np.frombuffer(bytes(row["ilons"]), dtype="<i8")
            lens = np.frombuffer(bytes(row["lens"]), dtype="<i8").copy()
            blob = bytes(row["blob"])
            if seen_any and ids[0] <= prev_id:
                raise ValueError("ids must be globally unique ascending")
            seen_any = True
            # original blob offsets (before any replacement)
            orig_starts = np.zeros(ids.size + 1, dtype=np.int64)
            np.cumsum(lens, out=orig_starts[1:])
            # UNPATCHED stream positions (pos + exclusive cumsum); patches
            # never mutate this array -- each patch's length delta joins a
            # running `shift` that applies to every index AFTER the last
            # patch, so boundary lookups are searchsorted(boundary - shift)
            # with `lo` past the patches. (The previous tail-update
            # `starts[j+1:] += diff` was O(chunk) PER 4KB RESET -- billions
            # of element writes at 7M+ nodes; this is O(log chunk).)
            starts = np.zeros(ids.size, dtype=np.int64)
            starts[0] = pos
            np.cumsum(lens[:-1], out=starts[1:])
            starts[1:] += pos
            repl: dict[int, bytes] = {}
            shift = 0
            lo = 0

            idx_buf = bytearray()  # one idx write per chunk, not one per 4KB reset

            def patch(j: int, new: bytes, is_reset: bool, boundary: int | None):
                nonlocal shift, lo, last_index_id, last_reset
                repl[j] = new
                if is_reset:
                    offset = int(starts[j]) + shift - boundary
                    if not 0 <= offset <= 255:
                        raise AssertionError("record straddle exceeds byte offset")
                    idx_buf.append(offset)
                    idx_buf.extend(encode_varints_msb([int(ids[j]) - last_index_id]))
                    last_index_id = int(ids[j])
                    last_reset = boundary
                shift += len(new) - int(lens[j])
                lo = j + 1

            # record 0: reset (start already past the pending boundary --
            # the previous chunk's last record straddled it) overrides the
            # seam patch; otherwise the seam patch re-encodes the deltas
            if pos >= last_reset + block_size:
                patch(
                    0, _record_bytes(int(ids[0]), int(lats[0]), int(lons[0])),
                    True, last_reset + block_size,
                )
            elif row["fresh"]:
                patch(
                    0,
                    _record_bytes(
                        int(ids[0]) - prev_id, int(lats[0]) - prev_lat, int(lons[0]) - prev_lon
                    ),
                    False, None,
                )
            while True:
                boundary = last_reset + block_size
                j = int(np.searchsorted(starts, boundary - shift, side="left", sorter=None))
                j = max(j, lo)
                if j >= ids.size:
                    break
                # reset: record j re-encodes against (0,0,0) = absolutes
                patch(j, _record_bytes(int(ids[j]), int(lats[j]), int(lons[j])), True, boundary)
            # assemble: blob slices between replaced records + replacements
            pieces = []
            cursor = 0
            for j in sorted(repl):
                if cursor < orig_starts[j]:
                    pieces.append(blob[cursor:orig_starts[j]])
                pieces.append(repl[j])
                cursor = int(orig_starts[j + 1])
            pieces.append(blob[cursor:])
            chunk = b"".join(pieces)
            dat_out.write(chunk)
            dat_total += len(chunk)
            if idx_buf:
                idx_out.write(idx_buf)
                idx_total += len(idx_buf)
            pos += int(orig_starts[-1]) + shift
            assert pos == dat_total, "position bookkeeping diverged"
            prev_id, prev_lat, prev_lon = int(ids[-1]), int(lats[-1]), int(lons[-1])
    return dat_total, idx_total
