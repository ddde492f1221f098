"""Ways data file sink: the reference's ``<name>`` + ``<name>.idx`` byte
formats (``WaysDataFile.cs:107-146, 232-247, 290-309``).

Format (varints MSB-first 7-bit, ``Write7BitEncodedInt``):

- data file, per way in ascending id order (``WriteWayData``):
  ``varint(id - lastId)`` (increment-only chain ACROSS ways),
  ``varint(n_nodes)``, then per node INTERLEAVED ``zz(dNodeId), zz(dLat),
  zz(dLon)`` -- the three per-way delta chains reset at each way
  (``DeltaWriter.Reset``), so a way's node block is position-independent.
- info file, per way (``WriteWayInfo``): ``varint(id)``,
  ``varint(dataOffset)`` (ABSOLUTE byte offset of the way's data record),
  ``int32le(minLat)``, ``int32le(minLon)``, ``zz(midLat-minLat)``,
  ``zz(midLon-minLon)``, ``zz(maxLat-midLat)``, ``zz(maxLon-midLon)``.
  Mid = (int)Average (truncation toward zero, ``SWay.cs:16``). The
  reference's in-memory skip index is rebuilt from the info file on load
  (``ReadOffsets``) -- nothing else is persisted.

Unlike the node store there are NO block-boundary resets: the only
cross-chunk state is the way-id delta chain and the running byte offset,
both O(1) per chunk. Executors therefore encode EVERYTHING (data records,
info id varints, info tails) vectorized via mapInArrow; the driver
re-encodes one id-delta varint per partition seam, vectorized-encodes the
absolute-offset varints per chunk (numpy, no per-way Python), splices the
three info piece streams with a vectorized scatter, and streams both
files into ``fsio`` outputs (``byterange.sink_segments``). The engine's
query-path ways table remains Parquet (CLI ``ways-file``); this sink is
the byte-parity bridge, shaped like ``node_store.write_nodes_index_file``.
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


def encode_ways_file_py(ways):
    """Pure-Python reference writer port (golden): ``ways`` is an
    ascending-id iterable of ``(id, nodes)`` with ``nodes`` a list of
    ``(node_id, lat, lon)``. Returns ``(data_bytes, info_bytes)``.
    Kept as the byte-parity golden of the distributed ways writer."""
    dat = bytearray()
    info = bytearray()
    last_way_id = 0
    for wid, nodes in ways:
        wid = int(wid)
        if wid < last_way_id:
            raise ValueError("way ids must be ascending")
        data_offset = len(dat)
        dat += encode_varints_msb([wid - last_way_id, len(nodes)])
        last_way_id = wid
        ln = la = lo = 0
        for nid, lat, lon in nodes:
            nid, lat, lon = int(nid), int(lat), int(lon)
            dat += encode_varints_msb(
                [zigzag_int(nid - ln), zigzag_int(lat - la), zigzag_int(lon - lo)]
            )
            ln, la, lo = nid, lat, lon
        lats = [int(n[1]) for n in nodes]
        lons = [int(n[2]) for n in nodes]
        min_lat, max_lat = min(lats), max(lats)
        min_lon, max_lon = min(lons), max(lons)
        # C# (int)Average: double mean truncated toward zero
        mid_lat = int(sum(lats) / len(lats))
        mid_lon = int(sum(lons) / len(lons))
        info += encode_varints_msb([wid, data_offset])
        info += int(min_lat).to_bytes(4, "little", signed=True)
        info += int(min_lon).to_bytes(4, "little", signed=True)
        info += encode_varints_msb(
            [zigzag_int(mid_lat - min_lat), zigzag_int(mid_lon - min_lon),
             zigzag_int(max_lat - mid_lat), zigzag_int(max_lon - mid_lon)]
        )
    return bytes(dat), bytes(info)


def decode_ways_file_py(dat: bytes):
    """Sequential reader port (``ReadWayData``) for roundtrip tests:
    returns the (id, nodes) list back from the data stream.
    Kept as the byte-parity oracle of the distributed writer's output."""
    from osm_pbf_convert_spark.codecs import zigzag_decode

    pos, n = 0, len(dat)

    def varint():
        nonlocal pos
        v = 0
        while True:
            b = dat[pos]
            pos += 1
            v = (v << 7) | (b & 0x7F)
            if not b & 0x80:
                return v

    def zz():
        return int(zigzag_decode(np.array([varint()], dtype=np.uint64))[0])

    out = []
    last_id = 0
    while pos < n:
        last_id += varint()
        cnt = varint()
        ln = la = lo = 0
        nodes = []
        for _ in range(cnt):
            ln += zz()
            la += zz()
            lo += zz()
            nodes.append((ln, la, lo))
        out.append((last_id, nodes))
    return out


def way_segments(ways_resolved: DataFrame, num_chunks: int | None = None) -> DataFrame:
    """Distributed encode: one row per Arrow batch carrying the batch's
    fully encoded data blob, per-way record lengths, pre-encoded info id
    varints and info tails, and the way ids. The first way of each
    PARTITION is delta-encoded against 0 (``fresh``); the driver patches
    that one varint against its running chain."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    spark = ways_resolved.sparkSession
    n = num_chunks or spark.sparkContext.defaultParallelism
    df = (
        ways_resolved.select(
            F.col("way_id").cast("long").alias("id"),
            F.col("nodes").cast("array<struct<id:long,ilat:long,ilon:long>>"),
            F.col("mid_ilat").cast("long"), F.col("mid_ilon").cast("long"),
            F.col("min_ilat").cast("long"), F.col("max_ilat").cast("long"),
            F.col("min_ilon").cast("long"), F.col("max_ilon").cast("long"),
        )
        .repartitionByRange(n, "id")
        .sortWithinPartitions("id")
    )

    def encode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        prev_id = 0
        fresh = True
        for batch in batches:
            if not batch.num_rows:
                continue
            ids = batch.column("id").to_numpy()
            # node columns concatenated across the batch (Arrow list
            # values, no per-node Python), way boundaries from counts
            nodes = batch.column("nodes")
            counts = nodes.value_lengths().to_numpy().astype(np.int64)
            nid, nlat, nlon = (a.to_numpy() for a in nodes.flatten().flatten())
            starts = np.zeros(ids.size, dtype=np.int64)
            np.cumsum(counts[:-1], out=starts[1:])
            # per-way-reset deltas: diff, then way-start entries = raw value
            def deltas(col):
                d = np.empty_like(col)
                d[0] = col[0]
                np.subtract(col[1:], col[:-1], out=d[1:])
                d[starts] = col[starts]
                return d

            did = np.empty_like(ids)
            did[0] = ids[0] - prev_id
            np.subtract(ids[1:], ids[:-1], out=did[1:])
            # flat value sequence: per way [dId, n, (zzNid, zzLat, zzLon)*n]
            nvals = 2 * ids.size + 3 * int(counts.sum())
            flat = np.empty(nvals, dtype=np.uint64)
            hdr_pos = starts * 3 + 2 * np.arange(ids.size, dtype=np.int64)
            flat[hdr_pos] = did.astype(np.uint64)
            flat[hdr_pos + 1] = counts.astype(np.uint64)
            node_rows = np.arange(int(counts.sum()), dtype=np.int64)
            way_of_node = np.repeat(np.arange(ids.size, dtype=np.int64), counts)
            node_base = node_rows * 3 + 2 * (way_of_node + 1)
            flat[node_base] = zigzag_encode(deltas(nid))
            flat[node_base + 1] = zigzag_encode(deltas(nlat))
            flat[node_base + 2] = zigzag_encode(deltas(nlon))
            blob = encode_varints_msb_np(flat)
            vlens = varint_lengths(flat)
            way_val_starts = hdr_pos  # first value index of each way
            way_lens = np.add.reduceat(vlens, way_val_starts)
            # info pieces: id varints; fixed+zigzag tails
            id_blob = encode_varints_msb_np(ids.astype(np.uint64))
            id_lens = varint_lengths(ids.astype(np.uint64))
            mid_lat, mid_lon, min_lat, max_lat, min_lon, max_lon = (
                batch.column(c).to_numpy()
                for c in ("mid_ilat", "mid_ilon", "min_ilat", "max_ilat", "min_ilon", "max_ilon")
            )
            zz_tail = np.empty(ids.size * 4, dtype=np.uint64)
            zz_tail[0::4] = zigzag_encode(mid_lat - min_lat)
            zz_tail[1::4] = zigzag_encode(mid_lon - min_lon)
            zz_tail[2::4] = zigzag_encode(max_lat - mid_lat)
            zz_tail[3::4] = zigzag_encode(max_lon - mid_lon)
            zz_blob = np.frombuffer(encode_varints_msb_np(zz_tail), dtype=np.uint8)
            zz_lens4 = varint_lengths(zz_tail).reshape(-1, 4)
            zz_lens = zz_lens4.sum(axis=1)
            # fixed part: minLat/minLon int32 LE per way
            fixed = np.empty((ids.size, 8), dtype=np.uint8)
            fixed[:, 0:4] = min_lat.astype("<i4").view(np.uint8).reshape(-1, 4)
            fixed[:, 4:8] = min_lon.astype("<i4").view(np.uint8).reshape(-1, 4)
            tail_blob, tail_lens = _interleave(
                [(fixed.ravel(), np.full(ids.size, 8, dtype=np.int64)), (zz_blob, zz_lens)]
            )
            # arrays ship as raw little-endian int64 buffers, as in the
            # node store: the driver np.frombuffer's them
            yield pa.RecordBatch.from_pydict(
                {
                    "first_id": [int(ids[0])],
                    "ids": [ids.astype("<i8").tobytes()],
                    "way_lens": [way_lens.astype("<i8").tobytes()],
                    "blob": [blob],
                    "id_blob": [id_blob], "id_lens": [id_lens.astype("<i8").tobytes()],
                    "tail_blob": [tail_blob.tobytes()],
                    "tail_lens": [tail_lens.astype("<i8").tobytes()],
                    "fresh": [fresh],
                }
            )
            prev_id = int(ids[-1])
            fresh = False

    return df.mapInArrow(
        encode,
        schema="first_id long, ids binary, way_lens binary, blob binary, "
               "id_blob binary, id_lens binary, tail_blob binary, "
               "tail_lens binary, fresh boolean",
    )


def _interleave(parts):
    """Vectorized variable-length interleave: ``parts`` is a list of
    ``(uint8 array, per-record lens)``; returns (out uint8 array, per-
    record total lens) with record i's pieces concatenated in order."""
    lens = [np.asarray(l, dtype=np.int64) for _, l in parts]
    n = lens[0].size
    total = sum(l for l in lens)
    out_starts = np.zeros(n, dtype=np.int64)
    np.cumsum(total[:-1], out=out_starts[1:])
    out = np.empty(int(total.sum()), dtype=np.uint8)
    piece_off = np.zeros(n, dtype=np.int64)
    for (buf, _), pl in zip(parts, lens):
        buf = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
        src_starts = np.zeros(n, dtype=np.int64)
        np.cumsum(pl[:-1], out=src_starts[1:])
        shift = np.repeat(out_starts + piece_off - src_starts, pl)
        idx = np.arange(buf.size, dtype=np.int64)
        out[idx + shift] = buf
        piece_off += pl
    return out, total


def write_ways_file(
    ways_resolved: DataFrame, out_file: str, num_chunks: int | None = None
) -> tuple[int, int]:
    """Assemble ``out_file`` + ``out_file + '.idx'`` byte-identical to
    the reference writer (golden-tested vs ``encode_ways_file_py``).
    Driver work per chunk is O(chunk) numpy: patch one seam varint,
    vector-encode the absolute data offsets, scatter-splice the info
    pieces, stream into ``fsio`` outputs."""
    base = 0
    prev_id = 0
    idx_total = 0
    seen = False
    with sink_segments(
        way_segments(ways_resolved, num_chunks), "first_id", out_file, out_file + ".idx"
    ) as (rows, (dat_out, idx_out)):
        for row in rows:
            ids = np.frombuffer(row["ids"], dtype="<i8")
            way_lens = np.frombuffer(row["way_lens"], dtype="<i8")
            blob = bytes(row["blob"])
            if seen and ids[0] <= prev_id:
                raise ValueError("way ids must be globally unique ascending")
            seen = True
            if row["fresh"]:
                # seam patch: first record's id delta was encoded vs 0
                old = encode_varints_msb([int(ids[0])])
                new = encode_varints_msb([int(ids[0]) - prev_id])
                blob = new + blob[len(old):]
                way_lens = way_lens.copy()
                way_lens[0] += len(new) - len(old)
            local = np.zeros(ids.size, dtype=np.int64)
            np.cumsum(way_lens[:-1], out=local[1:])
            offs = (base + local).astype(np.uint64)
            off_blob = np.frombuffer(encode_varints_msb_np(offs), dtype=np.uint8)
            off_lens = varint_lengths(offs)
            info, _ = _interleave(
                [
                    (np.frombuffer(row["id_blob"], dtype=np.uint8),
                     np.frombuffer(row["id_lens"], dtype="<i8")),
                    (off_blob, off_lens),
                    (np.frombuffer(row["tail_blob"], dtype=np.uint8),
                     np.frombuffer(row["tail_lens"], dtype="<i8")),
                ]
            )
            dat_out.write(blob)
            idx_out.write(info)
            base += len(blob)
            idx_total += info.size
            prev_id = int(ids[-1])
    return base, idx_total
