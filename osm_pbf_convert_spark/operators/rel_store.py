"""Relations file sink: the reference's ``.rels`` + ``.rels.strs`` byte
formats (``RelationsProcessor.cs:46-147, 173-262``).

Per relation, ascending id (``RelationsFile.Add``; all varints MSB-first
7-bit, ``StorageHelpers.Write7BitEncodedInt``):

``varint(id - lastId)`` (increment chain across relations),
``varint(typeId)`` (always 0 -- the reference's type detection is a
ToDo, ``RelationsProcessor.cs:257``), the bounding rect
(``BoundingRect.WriteTo``: ``zz(minLat), zz(minLon),
varint(maxLat-minLat), varint(maxLon-minLon)`` -- the EMPTY rect is
int.MaxValue/int.MinValue and its negative size wraps through ulong),
``varint(n_members)``, then per member ``byte(type)`` (0 node / 1 way /
2 relation -- values < 128, so the raw byte equals its varint),
``zz(dMemberId)`` (chain reset per relation), ``varint(roleId)``,
``zz(dMidLat)``, ``zz(dMidLon)`` (each its own per-relation chain).

Mid semantics (``RelationsProcessor.ProcessPrimitives``): found node ->
its coords (extends rect); missing node -> int.MinValue; way members ->
int.MinValue ALWAYS (a found way extends the rect but still stores the
sentinel); relation members -> 0 (deferred recursion). This is exactly
``joins.assemble_relations``'s null/0 convention, so the sink consumes
its output directly.

``.rels.strs``: role dictionary in FIRST-APPEARANCE order (sequential
``GetRoleId``), one record per role: ``varint(id)`` then the .NET
length-prefixed string (LSB-first 7-bit length + UTF-8 bytes --
``BinaryWriter.Write(string)``, NOT the project's MSB varint).

Like the ways file there are no block resets: executors encode whole
records as flat varint sequences via mapInArrow (first-appearance role
ids are resolved by a tiny distributed pre-pass and broadcast); the
driver patches one id-delta varint per partition seam and streams the
file into an ``fsio`` output (``byterange.sink_segments``).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np

from pyspark.sql import DataFrame

from osm_pbf_convert_spark.codecs import (
    encode_dotnet_string,
    encode_varints_msb,
    encode_varints_msb_np,
    zigzag_encode,
    zigzag_int,
)
from osm_pbf_convert_spark.sources.byterange import sink_segments

INT_MIN = -(2**31)
INT_MAX = 2**31 - 1
_U64 = 0xFFFFFFFFFFFFFFFF


def encode_strings_file_py(roles_in_order) -> bytes:
    """``RelationsFile.WriteStrings``: varint(id) + .NET string, ordered
    by id (= first-appearance order)."""
    out = bytearray()
    for i, role in enumerate(roles_in_order):
        out += encode_varints_msb([i])
        out += encode_dotnet_string(role)
    return bytes(out)


def encode_rels_file_py(rels):
    """Pure-Python reference writer port (golden): ``rels`` is an
    ascending-id iterable of ``(rel_id, rect, members)`` with ``rect`` =
    (min_lat, min_lon, max_lat, max_lon) or None (empty), ``members`` =
    list of (type, member_id, role, mid_lat, mid_lon). Returns
    ``(rels_bytes, strings_bytes, roles_in_order)``.
    Kept as the byte-parity golden of the distributed ``.rels`` writer."""
    dat = bytearray()
    role_ids: dict[str, int] = {}
    last_id = 0
    for rel_id, rect, members in rels:
        rel_id = int(rel_id)
        if rel_id < last_id:
            raise ValueError("relation ids must be ascending")
        if rect is None:
            min_lat, min_lon, max_lat, max_lon = INT_MAX, INT_MAX, INT_MIN, INT_MIN
        else:
            min_lat, min_lon, max_lat, max_lon = (int(v) for v in rect)
        vals = [
            rel_id - last_id, 0,
            zigzag_int(min_lat), zigzag_int(min_lon),
            (max_lat - min_lat) & _U64, (max_lon - min_lon) & _U64,
            len(members),
        ]
        last_id = rel_id
        lm = lla = llo = 0
        for mtype, mid, role, mid_lat, mid_lon in members:
            role = role or ""
            if role not in role_ids:
                role_ids[role] = len(role_ids)
            vals += [
                int(mtype), zigzag_int(int(mid) - lm), role_ids[role],
                zigzag_int(int(mid_lat) - lla), zigzag_int(int(mid_lon) - llo),
            ]
            lm, lla, llo = int(mid), int(mid_lat), int(mid_lon)
        dat += encode_varints_msb(vals)
    roles = [r for r, _ in sorted(role_ids.items(), key=lambda kv: kv[1])]
    return bytes(dat), encode_strings_file_py(roles), roles


def decode_rels_file_py(dat: bytes):
    """Sequential reader port for roundtrip tests: returns
    [(rel_id, (min_lat, min_lon, max_lat, max_lon), members)] with
    members = [(type, member_id, role_id, mid_lat, mid_lon)].
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

    def signed(v):  # ulong-wrapped size back to int64
        return v - (1 << 64) if v >= 1 << 63 else v

    out = []
    last_id = 0
    while pos < n:
        last_id += varint()
        type_id = varint()
        assert type_id == 0
        min_lat, min_lon = zz(), zz()
        max_lat = min_lat + signed(varint())
        max_lon = min_lon + signed(varint())
        cnt = varint()
        lm = lla = llo = 0
        members = []
        for _ in range(cnt):
            mtype = varint()
            lm += zz()
            rid = varint()
            lla += zz()
            llo += zz()
            members.append((mtype, lm, rid, lla, llo))
        out.append((last_id, (min_lat, min_lon, max_lat, max_lon), members))
    return out


def role_dictionary(assembled: DataFrame) -> list:
    """Distributed first-appearance role dictionary: roles ordered by
    their first (rel_id, member position) in the serial stream -- exactly
    the order the reference's sequential GetRoleId assigns. One row per
    distinct role comes back; the driver sorts them."""
    from pyspark.sql import functions as F

    first = (
        assembled.select(
            F.col("rel_id"), F.posexplode("members").alias("pos", "m")
        )
        .select(F.coalesce(F.col("m.role"), F.lit("")).alias("role"), "rel_id", "pos")
        .groupBy("role")
        .agg(F.min(F.struct("rel_id", "pos")).alias("first"))
        .collect()
    )
    return [r["role"] for r in sorted(first, key=lambda r: tuple(r["first"]))]


def rel_segments(assembled: DataFrame, roles: list, num_chunks: int | None = None) -> DataFrame:
    """Distributed encode: one pre-encoded blob row per Arrow batch; the
    first relation of each partition has its id delta encoded vs 0
    (``fresh``), patched by the driver.

    Fully vectorized like the node/way/spatial-block sinks: null
    handling (rect defaults, mid sentinels, empty roles) happens in
    Column-land, member fields travel as flat arrays, and the chain
    arithmetic (id deltas across relations, per-relation member chains
    via segmented deltas) is numpy scatter + one varint pass per batch.
    """
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import functions as F

    spark = assembled.sparkSession
    n = num_chunks or spark.sparkContext.defaultParallelism
    role_set = pa.array(roles, pa.string())
    mem = F.col("members")
    df = (
        assembled.select(
            F.col("rel_id").cast("long"),
            F.coalesce(F.col("min_ilat").cast("long"), F.lit(INT_MAX)).alias("min_lat"),
            F.coalesce(F.col("min_ilon").cast("long"), F.lit(INT_MAX)).alias("min_lon"),
            F.coalesce(F.col("max_ilat").cast("long"), F.lit(INT_MIN)).alias("max_lat"),
            F.coalesce(F.col("max_ilon").cast("long"), F.lit(INT_MIN)).alias("max_lon"),
            mem["member_type"].cast("array<long>").alias("m_types"),
            mem["ref"].cast("array<long>").alias("m_refs"),
            F.transform(mem, lambda m: F.coalesce(m["mid_ilat"].cast("long"), F.lit(INT_MIN))).alias("m_lats"),
            F.transform(mem, lambda m: F.coalesce(m["mid_ilon"].cast("long"), F.lit(INT_MIN))).alias("m_lons"),
            F.transform(mem, lambda m: F.coalesce(m["role"], F.lit(""))).alias("m_roles"),
        )
        .repartitionByRange(n, "rel_id")
        .sortWithinPartitions("rel_id")
    )

    def encode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        prev_id = 0
        fresh = True
        for batch in batches:
            if not batch.num_rows:
                continue
            nrels = batch.num_rows
            ids = batch.column("rel_id").to_numpy()
            cnts = batch.column("m_types").value_lengths().fill_null(0).to_numpy().astype(np.int64)
            total_m = int(cnts.sum())

            def flat(col):
                return batch.column(col).flatten().to_numpy()

            did = np.empty_like(ids)
            did[0] = ids[0] - prev_id
            np.subtract(ids[1:], ids[:-1], out=did[1:])
            mn_lat, mn_lon, mx_lat, mx_lon = (
                batch.column(c).to_numpy() for c in ("min_lat", "min_lon", "max_lat", "max_lon")
            )

            vals = np.empty(7 * nrels + 5 * total_m, dtype=np.uint64)
            rec_starts = np.zeros(nrels, dtype=np.int64)
            np.cumsum(7 + 5 * cnts[:-1], out=rec_starts[1:])
            vals[rec_starts] = did.astype(np.uint64)
            vals[rec_starts + 1] = 0
            vals[rec_starts + 2] = zigzag_encode(mn_lat)
            vals[rec_starts + 3] = zigzag_encode(mn_lon)
            vals[rec_starts + 4] = (mx_lat - mn_lat).astype(np.uint64)
            vals[rec_starts + 5] = (mx_lon - mn_lon).astype(np.uint64)
            vals[rec_starts + 6] = cnts.astype(np.uint64)
            if total_m:
                first_m = np.zeros(nrels, dtype=np.int64)
                np.cumsum(cnts[:-1], out=first_m[1:])
                r_of = np.repeat(np.arange(nrels), cnts)
                i_of = np.arange(total_m, dtype=np.int64) - np.repeat(first_m, cnts)
                base = (rec_starts + 7)[r_of] + 5 * i_of

                # reset indexes: first member of each NON-EMPTY relation
                # (an empty relation's first_m aliases the next relation's
                # -- or, when trailing, an arbitrary member -- so writing
                # through it would corrupt a mid-chain delta)
                fi = first_m[cnts > 0]

                def chain(a):
                    # per-relation reset: first member's delta is vs 0
                    d = a.copy()
                    d[1:] -= a[:-1]
                    d[fi] = a[fi]
                    return zigzag_encode(d)

                role_ids = pc.index_in(batch.column("m_roles").flatten(), value_set=role_set)
                vals[base] = flat("m_types").astype(np.uint64)
                vals[base + 1] = chain(flat("m_refs"))
                vals[base + 2] = role_ids.to_numpy().astype(np.uint64)
                vals[base + 3] = chain(flat("m_lats"))
                vals[base + 4] = chain(flat("m_lons"))
            blob = encode_varints_msb_np(vals)
            yield pa.RecordBatch.from_pydict(
                {"first_id": [int(ids[0])], "ids": [ids.astype("<i8").tobytes()],
                 "blob": [blob], "fresh": [fresh]}
            )
            prev_id = int(ids[-1])
            fresh = False

    return df.mapInArrow(
        encode, schema="first_id long, ids binary, blob binary, fresh boolean"
    )


def write_rels_file(
    assembled: DataFrame, out_file: str, num_chunks: int | None = None
) -> tuple[int, int]:
    """Assemble ``out_file`` (+ ``out_file + '.strs'``) byte-identical to
    the reference writer (golden-tested vs ``encode_rels_file_py``).
    Returns (rels_bytes, strings_bytes)."""
    roles = role_dictionary(assembled)
    total = 0
    prev_id = 0
    seen = False
    strs = encode_strings_file_py(roles)
    with sink_segments(
        rel_segments(assembled, roles, num_chunks), "first_id", out_file, out_file + ".strs"
    ) as (rows, (dat_out, strs_out)):
        for row in rows:
            ids = np.frombuffer(row["ids"], dtype="<i8")
            blob = bytes(row["blob"])
            if seen and ids[0] <= prev_id:
                raise ValueError("relation ids must be globally unique ascending")
            seen = True
            if row["fresh"]:
                old = encode_varints_msb([int(ids[0])])
                new = encode_varints_msb([int(ids[0]) - prev_id])
                blob = new + blob[len(old):]
            dat_out.write(blob)
            total += len(blob)
            prev_id = int(ids[-1])
        strs_out.write(strs)
    return total, len(strs)
