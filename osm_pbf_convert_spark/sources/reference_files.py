"""Distributed READERS for the reference's byte formats -- the interop
direction the sinks don't cover: a user with reference-produced files
(``NodesIndex.cs`` / ``WaysDataFile.cs`` artifacts) loads them straight
into DataFrames, parallelized by the formats' OWN index structures.

- ``read_nodes_index``: the ``.idx`` sparse index marks, per 4 KB block,
  the byte offset of the first record that starts in it -- exactly where
  the writer reset its delta chains (``NodesIndex.cs:113-133``). Those
  sync points make every block range independently decodable, so each
  becomes one task: vectorized varint decode + cumsum, no sequential
  scan of the whole file.
- ``read_ways_file``: the info file stores every way's ABSOLUTE id and
  data offset, so any run of ways is a self-contained split (the first
  record's id delta is re-seeded from the info id).
- ``read_rels_file``: the ``.rels`` format has NO sync-point index at
  all (``RelationsProcessor.cs:47-147`` reads it strictly serially), so
  the driver performs ONE vectorized skim -- the whole file is a flat
  MSB-varint stream, so ``decode_varints_msb`` recovers every value in
  one numpy pass, and a 2-touch-per-record hop walk recovers record
  boundaries and absolute-id seeds -- then executors re-decode their
  byte ranges independently (member chains reset per relation, so a
  record run plus its seed id is self-contained). The skim builds
  indexes only; all row materialization happens on executors.

Byte ranges are fetched per task through ``sources.fsio`` (pyarrow
filesystems): local paths and object-store URIs (``s3://``, ``gs://``,
``hdfs://``, ...) behave identically, each executor doing its own
ranged reads. Roundtrip-tested against the engine's own sinks and the
pure-Python writer ports.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession

from osm_pbf_convert_spark.codecs import decode_varints_msb, zigzag_decode
from osm_pbf_convert_spark.sources import fsio
from osm_pbf_convert_spark.sources.byterange import _struct_lists, scan_ranges

BLOCK_SIZE = 4096


def _parse_nodes_idx(idx: bytes, block_size: int = BLOCK_SIZE):
    """(record_start_abs, first_id) per indexed block (``LoadIndex``)."""
    starts, ids = [], []
    pos = 0
    last_id = 0
    block = 0
    n = len(idx)
    while pos < n:
        offset = idx[pos]
        pos += 1
        if offset == 255:
            break
        v = 0
        while True:
            b = idx[pos]
            pos += 1
            v = (v << 7) | (b & 0x7F)
            if not b & 0x80:
                break
        last_id += v
        block += 1
        starts.append(block * block_size + offset)
        ids.append(last_id)
    return starts, ids


def read_nodes_index(
    spark: SparkSession, prefix: str, block_size: int = BLOCK_SIZE
) -> DataFrame:
    """``{prefix}.nodes.dat`` + ``{prefix}.idx`` -> DataFrame(id, ilat,
    ilon). One task per index sync range; each range decodes with fresh
    delta state, exactly mirroring the writer's block resets. IO via
    ``fsio`` -- object-store URIs work.
    Kept as the read direction that round-trips the ``.nodes.dat`` writer."""
    dat_path = f"{prefix}.nodes.dat"
    with fsio.open_seekable(f"{prefix}.idx") as f:
        starts, _ = _parse_nodes_idx(f.read(), block_size)
    size = fsio.file_size(dat_path)
    bounds = np.array([0] + [s for s in starts if s < size] + [size], dtype=np.int64)
    keep = bounds[1:] > bounds[:-1]
    splits = pa.table({"start": bounds[:-1][keep], "end": bounds[1:][keep]})

    def decode(start, end):
        with fsio.open_seekable(dat_path) as f:
            f.seek(start)
            buf = f.read(end - start)
        vals = decode_varints_msb(buf)
        if vals.size % 3:
            raise ValueError("corrupt nodes.dat range (non-triplet varints)")
        trip = vals.reshape(-1, 3)
        yield pa.RecordBatch.from_pydict({
            "id": np.cumsum(trip[:, 0].astype(np.int64)),
            "ilat": np.cumsum(zigzag_decode(trip[:, 1])),
            "ilon": np.cumsum(zigzag_decode(trip[:, 2])),
        })

    return scan_ranges(spark, splits, decode, "id long, ilat long, ilon long")


def _record_runs(rec_starts: list, rec_ids: list, size: int, per_split: int) -> pa.Table:
    """Split table over runs of ``per_split`` self-contained records:
    (start, end, first_id, n) per run, byte ends from the next run's
    first record (or EOF)."""
    first = np.arange(0, len(rec_starts), per_split, dtype=np.int64)
    last = np.minimum(first + per_split, len(rec_starts))
    bounds = np.append(np.asarray(rec_starts, dtype=np.int64), size)
    return pa.table({
        "start": bounds[first],
        "end": bounds[last],
        "first_id": np.asarray(rec_ids, dtype=np.int64)[first],
        "n": last - first,
    })


def _segcum(d: np.ndarray, cnts: np.ndarray) -> np.ndarray:
    """Cumulative sum that restarts at every segment of ``cnts`` (the
    per-way / per-relation delta chains)."""
    if not d.size:
        return d
    c = np.cumsum(d)
    first = np.zeros(cnts.size, dtype=np.int64)
    np.cumsum(cnts[:-1], out=first[1:])
    fi = np.clip(first, 0, max(d.size - 1, 0))
    return c - np.repeat(c[fi] - d[fi], cnts)


def _parse_ways_info(info: bytes):
    """(id, data_offset) per way from the info file (``FindWayInfo``
    layout: varint id, varint offset, 8 fixed bytes, 4 zigzag varints)."""
    ids, offs = [], []
    pos = 0
    n = len(info)

    def varint(p):
        v = 0
        while True:
            b = info[p]
            p += 1
            v = (v << 7) | (b & 0x7F)
            if not b & 0x80:
                return v, p

    while pos < n:
        wid, pos = varint(pos)
        off, pos = varint(pos)
        pos += 8
        for _ in range(4):
            _, pos = varint(pos)
        ids.append(wid)
        offs.append(off)
    return ids, offs


def read_ways_file(
    spark: SparkSession, path: str, ways_per_split: int = 4096
) -> DataFrame:
    """``path`` + ``path + '.idx'`` -> DataFrame(id, nodes array<struct<
    id,ilat,ilon>>). The info file supplies absolute (id, offset) per
    way, so splits are arbitrary runs of ways: each task decodes its
    byte range and re-seeds the id chain from the split's first info
    id. IO via ``fsio`` -- object-store URIs work.
    Kept as the read direction that round-trips the ways writer."""
    with fsio.open_seekable(path + ".idx") as f:
        ids, offs = _parse_ways_info(f.read())
    splits = _record_runs(offs, ids, fsio.file_size(path), ways_per_split)

    def decode(start, end, first_id, n):
        with fsio.open_seekable(path) as f:
            f.seek(start)
            vals = decode_varints_msb(f.read(end - start))
        # hop walk (2 value touches per way), then vectorized
        # extraction: triplet chains reset per way -> segmented
        # cumsum over the flat node stream
        starts = np.empty(n, dtype=np.int64)
        cnts = np.empty(n, dtype=np.int64)
        p = 0
        for r in range(n):
            starts[r] = p
            c = int(vals[p + 1])
            cnts[r] = c
            p += 2 + 3 * c
        if p != vals.size:
            raise ValueError("corrupt ways range (trailing varints)")
        dids = vals[starts].astype(np.int64)
        base = np.repeat(starts + 2, cnts) + 3 * (
            np.arange(int(cnts.sum()), dtype=np.int64) - np.repeat(np.cumsum(cnts) - cnts, cnts)
        )
        yield pa.RecordBatch.from_pydict({
            "id": np.cumsum(dids) - dids[0] + first_id,
            "nodes": _struct_lists(
                cnts,
                id=_segcum(zigzag_decode(vals[base]), cnts),
                ilat=_segcum(zigzag_decode(vals[base + 1]), cnts),
                ilon=_segcum(zigzag_decode(vals[base + 2]), cnts),
            ),
        })

    return scan_ranges(
        spark, splits, decode, "id long, nodes array<struct<id:long,ilat:long,ilon:long>>"
    )


def _parse_rels_strings(data: bytes) -> list:
    """``.rels.strs`` -> role list indexed by role id: per record a
    MSB varint id then a .NET length-prefixed UTF-8 string
    (``RelationsFile.WriteStrings``)."""
    roles = []
    pos, n = 0, len(data)
    while pos < n:
        rid = 0
        while True:  # MSB varint id
            b = data[pos]
            pos += 1
            rid = (rid << 7) | (b & 0x7F)
            if not b & 0x80:
                break
        ln = 0
        shift = 0
        while True:  # .NET LSB-first 7-bit length
            b = data[pos]
            pos += 1
            ln |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        if rid != len(roles):
            raise ValueError("role ids must be dense first-appearance order")
        roles.append(data[pos:pos + ln].decode("utf-8"))
        pos += ln
    return roles


def _skim_rels_boundaries(path: str, file_size: int, window_bytes: int):
    """Driver boundary skim for the sync-point-free ``.rels`` format in
    FIXED-SIZE windows: peak driver memory is O(window + one entry per
    record), not O(file) -- a multi-GB rels file skims in ~window_bytes
    of buffer. Chain state (the running rel-id delta sum and any bytes
    of an incomplete trailing record or varint) carries across windows.

    Returns (record byte starts, record id seeds) as int lists.

    Record shape (hop walk): [dId, typeId, zz(minLat), zz(minLon),
    latSize, lonSize, cnt, cnt x 5 member values], all MSB varints.
    """
    rec_starts: list[int] = []
    rec_ids: list[int] = []
    last_id = 0
    buf = b""  # carried bytes: start of an incomplete record / varint
    base = 0  # absolute file offset of buf[0]
    read_pos = 0
    with fsio.open_seekable(path) as f:
        while read_pos < file_size or buf:
            if read_pos < file_size:
                f.seek(read_pos)
                chunk = f.read(min(window_bytes, file_size - read_pos))
                read_pos += len(chunk)
                buf += chunk
            at_eof = read_pos >= file_size
            b8 = np.frombuffer(buf, dtype=np.uint8)
            ends = np.nonzero(b8 < 0x80)[0]
            if ends.size == 0:  # not one complete varint in the buffer
                if at_eof:
                    raise ValueError("corrupt .rels stream (trailing varints)")
                continue
            prefix = int(ends[-1]) + 1  # bytes forming complete varints
            vals = decode_varints_msb(b8[:prefix])
            vstarts = np.empty(ends.size, dtype=np.int64)
            vstarts[0] = 0
            vstarts[1:] = ends[:-1] + 1
            n_vals = vals.size
            p = 0
            while p < n_vals:
                if p + 7 > n_vals:
                    break  # header incomplete in this window
                nxt = p + 7 + 5 * int(vals[p + 6])
                if nxt > n_vals:
                    break  # member values incomplete in this window
                last_id += int(vals[p])
                rec_starts.append(base + int(vstarts[p]))
                rec_ids.append(last_id)
                p = nxt
            if p == n_vals:
                if prefix == len(buf):
                    base += prefix
                    buf = b""
                elif at_eof:  # partial varint at EOF
                    raise ValueError("corrupt .rels stream (trailing varints)")
                else:
                    base += prefix
                    buf = buf[prefix:]
            else:  # incomplete record: carry from its first byte
                if at_eof:
                    raise ValueError(
                        "corrupt .rels stream (truncated header)"
                        if p + 7 > n_vals
                        else "corrupt .rels stream (trailing varints)"
                    )
                cut = int(vstarts[p])
                base += cut
                buf = buf[cut:]
    return rec_starts, rec_ids


def read_rels_file(
    spark: SparkSession, path: str, rels_per_split: int = 8192,
    skim_window_bytes: int = 8 << 20,
) -> DataFrame:
    """``path`` (+ ``path + '.strs'``) -> DataFrame(rel_id, min_ilat,
    min_ilon, max_ilat, max_ilon, members array<struct<member_type, ref,
    role, mid_ilat, mid_ilon>>) -- the same shape
    ``joins.assemble_relations`` produces and ``write_rels_file``
    consumes, closing the read-direction interop for all five formats.

    Values are returned RAW: the empty rect is (INT_MAX, INT_MAX,
    INT_MIN, INT_MIN) and member mids keep the reference's sentinels
    (int.MinValue for missing/way members, 0 for relation members) --
    the writer cannot distinguish them from real coordinates either.

    The format has no sync points, so a driver skim recovers record
    boundaries/id seeds before executors decode reseeded byte ranges;
    the skim streams in ``skim_window_bytes`` windows (bounded driver
    memory on multi-GB files). IO goes through ``fsio``: local paths
    and object-store URIs both work.
    Kept as the read direction that round-trips the ``.rels`` writer.
    """
    with fsio.open_seekable(path + ".strs") as f:
        role_arr = pa.array(_parse_rels_strings(f.read()), pa.string())

    file_size = fsio.file_size(path)
    rec_starts, rec_ids = _skim_rels_boundaries(path, file_size, skim_window_bytes)
    splits = _record_runs(rec_starts, rec_ids, file_size, rels_per_split)

    def decode(start, end, first_id, n):
        with fsio.open_seekable(path) as f:
            f.seek(start)
            vals = decode_varints_msb(f.read(end - start))
        starts = np.empty(n, dtype=np.int64)
        cnts = np.empty(n, dtype=np.int64)
        p = 0
        for r in range(n):
            starts[r] = p
            c = int(vals[p + 6])
            cnts[r] = c
            p += 7 + 5 * c
        if p != vals.size:
            raise ValueError("corrupt .rels range (trailing varints)")
        dids = vals[starts].astype(np.int64)
        min_lat = zigzag_decode(vals[starts + 2])
        min_lon = zigzag_decode(vals[starts + 3])
        base = np.repeat(starts + 7, cnts) + 5 * (
            np.arange(int(cnts.sum()), dtype=np.int64) - np.repeat(np.cumsum(cnts) - cnts, cnts)
        )
        yield pa.RecordBatch.from_pydict({
            "rel_id": np.cumsum(dids) - dids[0] + first_id,
            "min_ilat": min_lat,
            "min_ilon": min_lon,
            "max_ilat": min_lat + vals[starts + 4].astype(np.int64),
            "max_ilon": min_lon + vals[starts + 5].astype(np.int64),
            "members": _struct_lists(
                cnts,
                member_type=vals[base].astype(np.int32),
                ref=_segcum(zigzag_decode(vals[base + 1]), cnts),
                role=role_arr.take(pa.array(vals[base + 2].astype(np.int64))),
                mid_ilat=_segcum(zigzag_decode(vals[base + 3]), cnts),
                mid_ilon=_segcum(zigzag_decode(vals[base + 4]), cnts),
            ),
        })

    return scan_ranges(
        spark, splits, decode,
        "rel_id long, min_ilat long, min_ilon long, max_ilat long, "
        "max_ilon long, members array<struct<member_type:int,ref:long,"
        "role:string,mid_ilat:long,mid_ilon:long>>",
    )
