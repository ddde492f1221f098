"""Spatial block file sink: the reference's per-tile block format
(``SpatialBlock.cs:97-213``) -- the last of its five byte formats.

One file per spatial block, three ordered sections (the writer enforces
nodes -> ways -> rels; a single 0 byte separates sections, which the
readers consume as a zero id-delta terminator):

- node: ``zz(dId)`` (chain), ``zz(dLat)``, ``zz(dLon)`` (own chains),
  tags.
- way:  ``zz(dId)`` (chain), ``varint(type)``, ``varint(n)``, per node
  ``zz(dNodeId), zz(dLat), zz(dLon)`` (chains RESET per way), tags.
- rel:  ``zz(dId)`` (chain), ``varint(position)``, ``varint(relType)``,
  ``varint(roleId)``, ``zz(dMidLat)``, ``zz(dMidLon)`` -- both mid
  values go through the SAME delta chain (``SpatialBlock.cs:130-131``
  uses relLatWriter for lat AND lon; the lon delta is relative to the
  lat value -- reproduced for byte parity), ``varint(itemType)``,
  ``varint(itemId)``, tags.
- tags (``WriteTags``): ``varint(count)`` then per tag a marker byte:
  1 = ``varint(tagId)`` (full-tag dictionary hit), 2 = ``varint(keyId)``
  + .NET string value (key dictionary hit), 3 = .NET string key + .NET
  string value (no dictionary hit) -- the same three levels as
  ``operators/tags.TagDictionary``. .NET strings are LSB-7bit-length
  prefixed UTF-8 (``BinaryWriter.Write(string)``).

Every block file's delta chains are SELF-CONTAINED (they reset per
file), so unlike the node/ways/relations stores there is no cross-chunk
seam at all: each tile's file encodes independently on an executor
(groupBy(tile).applyInArrow) AND is written from that executor -- the
driver only counts files. The chain arithmetic is numpy-vectorized
(golden-tested against the pure-Python port below). The engine's
query-path spatial store remains the tile-partitioned Parquet table
(``plans/partitioning.py:write_spatial_table``); this sink is the
byte-parity bridge completing 5/5 reference formats.

Ambiguity note: the byte format cannot distinguish "ways section" from
"rels section" when a block holds rels but no ways -- both start after
the same single 0 separator (``SpatialBlock.cs`` readers share the
flaw). The writer therefore drops a 3-char ``.sections`` sidecar next
to each engine-written block naming the non-empty sections; the decoder
accepts that hint, and without it try-parses ways and backtracks to
rels on structural failure.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from osm_pbf_convert_spark.codecs import (
    delta_encode,
    encode_dotnet_string,
    encode_varints_msb,
    encode_varints_msb_np,
    varint_lengths,
    zigzag_encode,
    zigzag_int,
)


def _vint(out: bytearray, v: int) -> None:
    out += encode_varints_msb([v])


def _write_tag(out: bytearray, tag_id, key_id, key, value) -> None:
    """One ``WriteTags`` record, in the first of the 3 marker forms its
    fields allow."""
    if tag_id is not None:
        out.append(1)
        _vint(out, int(tag_id))
    elif key_id is not None and value is not None:
        out.append(2)
        _vint(out, int(key_id))
        out += encode_dotnet_string(value)
    elif key and value is not None:
        out.append(3)
        out += encode_dotnet_string(key)
        out += encode_dotnet_string(value)
    else:
        raise ValueError(f"invalid tag record {(tag_id, key_id, key, value)!r}")


def _write_tags(out: bytearray, tags) -> None:
    """``SpatialBlock.WriteTags``: count + 3-level marker records."""
    tags = tags or []
    _vint(out, len(tags))
    for t in tags:
        _write_tag(out, t.get("tag_id"), t.get("key_id"), t.get("key"), t.get("value"))


def encode_spatial_block_py(nodes=(), ways=(), rels=()) -> bytes:
    """Pure-Python reference writer port (golden) for ONE block file.

    nodes: (id, lat, lon, tags); ways: (id, type, node_list[(nid, lat,
    lon)], tags); rels: (id, position, rel_type, role_id, mid_lat,
    mid_lon, item_type, item_id, tags). tags = list of dicts with
    tag_id / key_id / key / value (exactly one of the 3 marker forms).
    Kept as the byte-parity golden of the distributed block writer.
    """
    out = bytearray()
    lid = lla = llo = 0
    for nid, lat, lon, tags in nodes:
        _vint(out, zigzag_int(int(nid) - lid))
        _vint(out, zigzag_int(int(lat) - lla))
        _vint(out, zigzag_int(int(lon) - llo))
        lid, lla, llo = int(nid), int(lat), int(lon)
        _write_tags(out, tags)
    wid = 0
    first = True
    for w_id, wtype, wnodes, tags in ways:
        if first:
            out.append(0)
            first = False
        _vint(out, zigzag_int(int(w_id) - wid))
        wid = int(w_id)
        _vint(out, int(wtype))
        _vint(out, len(wnodes))
        ln = la = lo = 0
        for nid, lat, lon in wnodes:
            _vint(out, zigzag_int(int(nid) - ln))
            _vint(out, zigzag_int(int(lat) - la))
            _vint(out, zigzag_int(int(lon) - lo))
            ln, la, lo = int(nid), int(lat), int(lon)
        _write_tags(out, tags)
    rid = 0
    rmid = 0  # the shared lat/lon chain (reference quirk)
    first = True
    for r_id, position, rel_type, role_id, mid_lat, mid_lon, item_type, item_id, tags in rels:
        if first:
            out.append(0)
            first = False
        _vint(out, zigzag_int(int(r_id) - rid))
        rid = int(r_id)
        _vint(out, int(position))
        _vint(out, int(rel_type))
        _vint(out, int(role_id))
        _vint(out, zigzag_int(int(mid_lat) - rmid))
        rmid = int(mid_lat)
        _vint(out, zigzag_int(int(mid_lon) - rmid))
        rmid = int(mid_lon)
        _vint(out, int(item_type))
        _vint(out, int(item_id))
        _write_tags(out, tags)
    return bytes(out)


def _tag_blob_list(tags: pa.ChunkedArray) -> list:
    """Per-record ``WriteTags`` bytes (b'\\x00' = zero tags) of an Arrow
    ``TAGS_SCHEMA`` column, read field by field: ``to_pylist`` would
    build a dict per tag, about 8x slower."""
    flat = pc.list_flatten(tags)
    fields = []
    for i, fill in enumerate((0, 0, "", "")):
        f = pc.struct_field(flat, [i])
        fields.append(np.where(f.is_valid().to_numpy(), f.fill_null(fill).to_numpy(), None))
    recs = zip(*fields)
    out = []
    for n in pc.fill_null(pc.list_value_length(tags), 0).to_numpy().tolist():
        buf = bytearray()
        _vint(buf, n)
        for _ in range(n):
            _write_tag(buf, *next(recs))
        out.append(bytes(buf))
    return out


def _splice(blob: bytes, rec_ends: np.ndarray, tag_blobs: list) -> bytes:
    """Interleave per-record varint spans with their tag bytes."""
    mv = memoryview(blob)
    parts = []
    prev = 0
    for e, tb in zip(rec_ends.tolist(), tag_blobs):
        parts.append(mv[prev:e])
        parts.append(tb)
        prev = e
    return b"".join(parts)


def _encode_nodes_np(ids, lats, lons, tag_blobs) -> bytes:
    flat = np.empty(ids.size * 3, dtype=np.uint64)
    flat[0::3] = zigzag_encode(delta_encode(ids))
    flat[1::3] = zigzag_encode(delta_encode(lats))
    flat[2::3] = zigzag_encode(delta_encode(lons))
    g = varint_lengths(flat)
    rec_ends = np.cumsum(g.reshape(-1, 3).sum(axis=1))
    return _splice(encode_varints_msb_np(flat), rec_ends, tag_blobs)


def _encode_ways_np(ids, wtypes, cnts, wn_ids, wn_lats, wn_lons, tag_blobs) -> bytes:
    """Way records: header (zz(dId), type, n) + per-node triplet chains
    that RESET per way, all varint-encoded in one vectorized pass."""
    nways = ids.size
    total_nodes = int(cnts.sum())
    nstarts = np.zeros(nways, dtype=np.int64)
    np.cumsum(cnts[:-1], out=nstarts[1:])

    # Reset indices only for non-empty ways: an empty way's nstart aliases the
    # NEXT way's first node (benign mid-chain, IndexError when trailing).
    reset_idx = nstarts[cnts > 0]

    def chain(a):
        d = a.copy()
        d[1:] -= a[:-1]
        d[reset_idx] = a[reset_idx]  # per-way chain reset
        return zigzag_encode(d)

    vals = np.empty(3 * nways + 3 * total_nodes, dtype=np.uint64)
    rec_starts = np.zeros(nways, dtype=np.int64)
    np.cumsum(3 + 3 * cnts[:-1], out=rec_starts[1:])
    vals[rec_starts] = zigzag_encode(delta_encode(ids))
    vals[rec_starts + 1] = wtypes.astype(np.uint64)
    vals[rec_starts + 2] = cnts.astype(np.uint64)
    if total_nodes:
        w_of = np.repeat(np.arange(nways), cnts)
        i_of = np.arange(total_nodes, dtype=np.int64) - np.repeat(nstarts, cnts)
        base = rec_starts[w_of] + 3 + 3 * i_of
        vals[base] = chain(wn_ids)
        vals[base + 1] = chain(wn_lats)
        vals[base + 2] = chain(wn_lons)
    g = varint_lengths(vals)
    rec_ends = np.cumsum(np.add.reduceat(g, rec_starts))
    return _splice(encode_varints_msb_np(vals), rec_ends, tag_blobs)


def _encode_rels_np(ids, pos_, rtypes, roles, mlats, mlons, itypes, iids, tag_blobs) -> bytes:
    n = ids.size
    m = np.empty(2 * n, dtype=np.int64)  # shared lat/lon chain quirk
    m[0::2] = mlats
    m[1::2] = mlons
    dm = delta_encode(m)
    vals = np.empty((n, 8), dtype=np.uint64)
    vals[:, 0] = zigzag_encode(delta_encode(ids))
    vals[:, 1] = pos_.astype(np.uint64)
    vals[:, 2] = rtypes.astype(np.uint64)
    vals[:, 3] = roles.astype(np.uint64)
    vals[:, 4] = zigzag_encode(dm[0::2])
    vals[:, 5] = zigzag_encode(dm[1::2])
    vals[:, 6] = itypes.astype(np.uint64)
    vals[:, 7] = iids.astype(np.uint64)
    vals = vals.ravel()
    g = varint_lengths(vals)
    rec_ends = np.cumsum(g.reshape(-1, 8).sum(axis=1))
    return _splice(encode_varints_msb_np(vals), rec_ends, tag_blobs)


TAGS_SCHEMA = "array<struct<tag_id:int,key_id:int,key:string,value:string>>"


def spatial_block_blobs(
    nodes: DataFrame | None = None,
    ways: DataFrame | None = None,
    rels: DataFrame | None = None,
    z: int = 6,
    out_dir: str | None = None,
) -> DataFrame:
    """Distributed per-tile block encode: entities are assigned their
    zoom-z tile (nodes by coords, ways/rels by mid), co-grouped by tile,
    and each tile's file is encoded WHOLE on an executor (vectorized
    chain arithmetic; golden-equal to ``encode_spatial_block_py``) --
    the block format's chains reset per file, so tiles are
    embarrassingly parallel. Returns (tile, n_bytes, sections, path,
    data binary).

    With ``out_dir`` set, each task writes ``block_<tile>.dat`` plus a
    ``.sections`` sidecar DIRECTLY from the executor and returns
    ``data=null`` (no blob bytes flow back through the plan); without
    it, the blob is returned. Way node lists travel as one Arrow
    ``list<struct>`` column whose flat field buffers feed the encoder,
    so it never touches per-node Python objects.

    Input schemas (nullable extras ignored):
    nodes(id, ilat, ilon, tags TAGS_SCHEMA?),
    ways(id, way_type, nodes array<struct<id,ilat,ilon>>, mid_ilat,
         mid_ilon, tags?),
    rels(id, position, rel_type, role_id, mid_ilat, mid_ilon,
         item_type, item_id, tags?).
    """
    from pyspark.sql import functions as F

    from osm_pbf_convert_spark.functions.cells import morton_cell_col, tile_col

    def _tile(lat, lon):
        return tile_col(morton_cell_col(lat.cast("int"), lon.cast("int")), z)

    null_long = F.lit(None).cast("long")
    no_nodes = F.lit(None).cast("array<struct<id:long,ilat:long,ilon:long>>").alias("wn")

    def tags_col(src):
        return (F.col("tags") if "tags" in src.columns else F.lit(None)).cast(
            TAGS_SCHEMA
        ).alias("tags")

    frames = []
    if nodes is not None:
        frames.append(
            nodes.select(
                F.lit(0).alias("kind"),
                F.col("id").cast("long"),
                _tile(F.col("ilat"), F.col("ilon")).alias("tile"),
                F.col("ilat").cast("long").alias("v1"),
                F.col("ilon").cast("long").alias("v2"),
                null_long.alias("v3"), null_long.alias("v4"),
                null_long.alias("v5"), null_long.alias("v6"),
                null_long.alias("item_type"), no_nodes,
                tags_col(nodes),
            )
        )
    if ways is not None:
        frames.append(
            ways.select(
                F.lit(1).alias("kind"),
                F.col("id").cast("long"),
                _tile(F.col("mid_ilat"), F.col("mid_ilon")).alias("tile"),
                F.col("way_type").cast("long").alias("v1"),
                null_long.alias("v2"), null_long.alias("v3"),
                null_long.alias("v4"), null_long.alias("v5"), null_long.alias("v6"),
                null_long.alias("item_type"),
                F.transform("nodes", lambda n: F.struct(
                    *(n[c].cast("long").alias(c) for c in ("id", "ilat", "ilon")))).alias("wn"),
                tags_col(ways),
            )
        )
    if rels is not None:
        frames.append(
            rels.select(
                F.lit(2).alias("kind"),
                F.col("id").cast("long"),
                _tile(F.col("mid_ilat"), F.col("mid_ilon")).alias("tile"),
                F.col("position").cast("long").alias("v1"),
                F.col("rel_type").cast("long").alias("v2"),
                F.col("role_id").cast("long").alias("v3"),
                F.col("mid_ilat").cast("long").alias("v4"),
                F.col("mid_ilon").cast("long").alias("v5"),
                F.col("item_id").cast("long").alias("v6"),
                F.col("item_type").cast("long").alias("item_type"), no_nodes,
                tags_col(rels),
            )
        )
    if not frames:
        raise ValueError("at least one of nodes/ways/rels required")
    df = frames[0]
    for f in frames[1:]:
        df = df.unionByName(f)

    out_schema = pa.schema([("tile", pa.int64()), ("n_bytes", pa.int64()),
                            ("sections", pa.string()), ("path", pa.string()),
                            ("data", pa.binary())])

    def encode(tbl: pa.Table) -> pa.Table:
        tile = tbl.column("tile")[0].as_py()
        tbl = tbl.sort_by([("kind", "ascending"), ("id", "ascending")])
        kind = tbl.column("kind").to_numpy()
        parts = []
        sections = ""

        def cols(t, *names):
            return [t.column(c).to_numpy().astype(np.int64) for c in names]

        nd = tbl.filter(pa.array(kind == 0))
        if nd.num_rows:
            sections += "n"
            parts.append(_encode_nodes_np(
                *cols(nd, "id", "v1", "v2"), _tag_blob_list(nd.column("tags")),
            ))

        wy = tbl.filter(pa.array(kind == 1))
        if wy.num_rows:
            sections += "w"
            cnts = pc.fill_null(pc.list_value_length(wy.column("wn")), 0)
            flat = [f.to_numpy() for f in pc.list_flatten(wy.column("wn")).flatten()]
            parts.append(b"\x00" + _encode_ways_np(
                *cols(wy, "id", "v1"), cnts.to_numpy().astype(np.int64), *flat,
                _tag_blob_list(wy.column("tags")),
            ))

        rl = tbl.filter(pa.array(kind == 2))
        if rl.num_rows:
            sections += "r"
            parts.append(b"\x00" + _encode_rels_np(
                *cols(rl, "id", "v1", "v2", "v3", "v4", "v5", "item_type", "v6"),
                _tag_blob_list(rl.column("tags")),
            ))

        data = b"".join(parts)
        path = None
        if out_dir is not None:
            # executor-side write: overwrite-idempotent under task retry.
            # fsio routes local paths AND object-store URIs (pyarrow fs
            # clients live in the Python workers -- no driver funnel).
            from osm_pbf_convert_spark.sources import fsio

            path = f"{out_dir}/block_{tile}.dat"
            with fsio.open_output(path) as f:
                f.write(data)
            with fsio.open_output(path + ".sections") as f:
                f.write(sections.encode())
        return pa.table({
            "tile": [tile], "n_bytes": [len(data)], "sections": [sections],
            "path": [path], "data": [None if path else data],
        }, schema=out_schema)

    return df.groupBy("tile").applyInArrow(
        encode,
        schema="tile long, n_bytes long, sections string, path string, data binary",
    )


def write_spatial_blocks(
    out_dir: str,
    nodes: DataFrame | None = None,
    ways: DataFrame | None = None,
    rels: DataFrame | None = None,
    z: int = 6,
) -> int:
    """Write one reference-format block file per zoom-z tile under
    ``out_dir`` (named ``block_<tile>.dat`` -- the reference names blocks
    by its split tree; tile ids are the stable analog), each with a
    ``.sections`` sidecar disambiguating the rels-without-ways byte
    ambiguity. Returns the block count.

    Tiles are self-contained, so files are written FROM THE EXECUTORS
    (the encode task itself, through ``fsio``) -- no per-file driver
    funnel; the driver action is a count. ``out_dir`` may be any URI
    ``fsio`` resolves (local, ``file://``, the Arrow-native object
    stores, the hermetic ``mock://`` test scheme); others raise."""
    from osm_pbf_convert_spark.sources import fsio

    fsio.makedirs(out_dir)
    return spatial_block_blobs(nodes, ways, rels, z, out_dir=out_dir).count()


def decode_spatial_block_py(blob: bytes, sections: str | None = None):
    """Sequential reader port (mirrors ``ReadAllNodes/Ways/Rels``) for
    roundtrip tests and the distributed directory reader: returns
    ``(nodes, ways, rels)`` in the writer's tuple shapes, with tags as
    the 3-form dicts.

    ``sections`` ('n'/'w'/'r' subset, e.g. from a ``.sections`` sidecar)
    names which sections are non-empty, resolving the format's inherent
    ways-vs-rels ambiguity deterministically. Without it, the bytes
    after the nodes separator are try-parsed as a ways section and, on
    structural failure (bad tag marker, overrun, invalid UTF-8), parsed
    again as rels -- the reference readers would silently misparse the
    same file (``SpatialBlock.cs`` writes one 0 before either section)."""
    pos, n = 0, len(blob)

    def varint():
        nonlocal pos
        v = 0
        while True:
            b = blob[pos]
            pos += 1
            v = (v << 7) | (b & 0x7F)
            if not b & 0x80:
                return v

    def unzz(v: int) -> int:
        return (v >> 1) ^ -(v & 1)

    def read_string() -> str:
        nonlocal pos
        ln = 0
        shift = 0
        while True:  # .NET LSB-first 7-bit length
            b = blob[pos]
            pos += 1
            ln |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        s = blob[pos : pos + ln].decode("utf-8")
        pos += ln
        return s

    def read_tags():
        cnt = varint()
        tags = []
        for _ in range(cnt):
            marker = blob[pos_ref()]
            advance()
            if marker == 1:
                tags.append({"tag_id": varint(), "key_id": None, "key": None, "value": None})
            elif marker == 2:
                kid = varint()
                tags.append({"tag_id": None, "key_id": kid, "key": None, "value": read_string()})
            elif marker == 3:
                k = read_string()
                tags.append({"tag_id": None, "key_id": None, "key": k, "value": read_string()})
            else:
                raise ValueError(f"bad tag marker {marker}")
        return tags

    def pos_ref():
        return pos

    def advance():
        nonlocal pos
        pos += 1

    def parse_nodes():
        # terminated by a zero id-delta byte (the next section's separator)
        nonlocal pos
        out = []
        lid = lla = llo = 0
        while pos < n:
            v = varint()
            if v == 0:
                break
            lid += unzz(v)
            lla += unzz(varint())
            llo += unzz(varint())
            out.append((lid, lla, llo, read_tags()))
        return out

    def parse_ways():
        nonlocal pos
        out = []
        wid = 0
        while pos < n:
            v = varint()
            if v == 0:
                break
            wid += unzz(v)
            wtype = varint()
            cnt = varint()
            ln = la = lo = 0
            wnodes = []
            for _ in range(cnt):
                ln += unzz(varint())
                la += unzz(varint())
                lo += unzz(varint())
                wnodes.append((ln, la, lo))
            out.append((wid, wtype, wnodes, read_tags()))
        return out

    def parse_rels():
        # runs to EOF; shared mid chain quirk mirrored
        nonlocal pos
        out = []
        rid = 0
        rmid = 0
        while pos < n:
            rid += unzz(varint())
            position = varint()
            rel_type = varint()
            role_id = varint()
            rmid += unzz(varint())
            mid_lat = rmid
            rmid += unzz(varint())
            mid_lon = rmid
            item_type = varint()
            item_id = varint()
            out.append((rid, position, rel_type, role_id, mid_lat, mid_lon,
                        item_type, item_id, read_tags()))
        return out

    nodes = parse_nodes()
    if pos >= n:
        return nodes, [], []
    if sections is not None:
        ways = parse_ways() if "w" in sections else []
        rels = parse_rels() if "r" in sections else []
        return nodes, ways, rels
    # no hint: try ways(+rels); backtrack to a rels-only remainder on
    # structural failure
    save = pos
    try:
        ways = parse_ways()
        rels = parse_rels()
    except (ValueError, IndexError, UnicodeDecodeError):
        pos = save
        ways = []
        rels = parse_rels()
    return nodes, ways, rels


def read_spatial_blocks(spark, block_dir: str) -> DataFrame:
    """Distributed reader over a directory of reference block files: one
    task per block (tiles are independent by construction), each reading
    its file and ``.sections`` sidecar through ``fsio`` (so a ``mock://``
    or object-store directory reads back like a local one). Returns the
    unified entity frame (kind 0/1/2 with the writer's column roles).
    Kept as the read direction that round-trips the block writer."""
    import re as _re

    from osm_pbf_convert_spark.sources import fsio
    from osm_pbf_convert_spark.sources.byterange import _struct_lists, scan_ranges

    files = fsio.expand_glob(block_dir.rstrip("/") + "/block_*.dat")
    if not files:
        raise FileNotFoundError(f"no block_*.dat under {block_dir}")
    splits = pa.table({
        "tile": [int(_re.search(r"block_(-?\d+)\.dat$", f).group(1)) for f in files],
        "path": files,
    })
    names = ["tile", "kind", "id", "v1", "v2", "v3", "v4", "v5", "v6",
             "wnodes", "item_type", "tags"]
    tags_t = pa.list_(pa.struct([("tag_id", pa.int32()), ("key_id", pa.int32()),
                                 ("key", pa.string()), ("value", pa.string())]))

    def decode(tile, path):
        try:
            with fsio.open_seekable(path + ".sections") as f:
                sections = f.read().decode().strip()
        except FileNotFoundError:
            sections = None
        with fsio.open_seekable(path) as f:
            nds, wys, rls = decode_spatial_block_py(f.read(), sections)

        def batch(kind, tags, **cols):
            n = len(tags)
            cols.update(tile=[tile] * n, kind=[kind] * n, tags=pa.array(tags, tags_t))
            return pa.RecordBatch.from_arrays(
                [pa.array(cols[c]) if c in cols else pa.nulls(n) for c in names], names=names
            )

        if nds:
            i, la, lo, tags = zip(*nds)
            yield batch(0, tags, id=i, v1=la, v2=lo)
        if wys:
            i, ty, wn, tags = zip(*wys)
            flat = np.array([t for w in wn for t in w], dtype=np.int64).reshape(-1, 3)
            wnodes = _struct_lists([len(w) for w in wn], id=flat[:, 0], ilat=flat[:, 1],
                                   ilon=flat[:, 2])
            yield batch(1, tags, id=i, v1=ty, wnodes=wnodes)
        if rls:
            i, p_, rt, ro, mla, mlo, it, ii, tags = zip(*rls)
            yield batch(2, tags, id=i, v1=p_, v2=rt, v3=ro, v4=mla, v5=mlo, v6=ii, item_type=it)

    schema = (
        "tile long, kind int, id long, v1 long, v2 long, v3 long, v4 long, "
        "v5 long, v6 long, wnodes array<struct<id:long,ilat:long,ilon:long>>, "
        "item_type long, tags " + TAGS_SCHEMA
    )
    return scan_ranges(spark, splits, decode, schema)
