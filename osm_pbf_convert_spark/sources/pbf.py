"""PBF-style payload decode: framed binary column -> nodes / ways / relations
DataFrames.

Spark-first re-expression of the reference's streaming decode pipeline
(``OSM-pbf-convert/PbfBlobParser.cs:49-102`` framing scan,
``OsmReader/PbfPrimitiveReader.cs:106-370`` block decode,
``OsmReader/PrimitiveDecoder.cs`` delta/granularity entity decode):

- the whole single-threaded blob loop becomes a ``mapInArrow`` over the
  pages table -- one Python worker per input partition, each decoding its
  batch of payloads with numpy-vectorized packed-varint decodes;
- blob-type filtering (``PbfFileProcessor.cs:42-43``) happens before the
  expensive block decode, inside the same pass;
- zlib blobs: full-buffer ``zlib.decompress`` (the reference skips a 2-byte
  zlib header then inflates -- same bytes out);
- dense-node coordinates: ``coord = 1e-9 * (offset + granularity * cumsum)``
  in float64, bit-identical to C# double math
  (``PrimitiveDecoder.cs:97-98``);
- plain (non-dense) nodes raise NotImplementedError exactly like the
  reference (``PrimitiveDecoder.cs:122-130``).

The parser layer (``parse_payload``) is pure Python+numpy and reusable
outside Spark (tests, oracles). The Spark layer never loops per *entity* in
Python -- only per page/blob, with all packed arrays decoded vectorized.

The Spark layer is ONE ``mapInArrow`` batch loop, ``_decode``: it parses
only the entity kinds asked for, assembles only the entity columns asked
for (``_entity_arrays``) and, for the fused decode, the page-local geo
extent (``_geo_extent``). Its output schema comes from the
``_ENTITY_COL_TYPES`` and ``_GEO_COL_TYPES`` tables, which the streaming
pipeline also derives its file-source schemas from. The public decoders
are thin wrappers over it:

- ``decode_nodes`` / ``decode_ways`` / ``decode_relations``: one kind,
  its own columns, the other kinds never parsed;
- ``decode_entities``: the tall kind 0/1/2 union, optionally pruned by
  ``columns``;
- ``decode_entities_geo``: the union plus kind=3 page-extent rows.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from osm_pbf_convert_spark.codecs import decode_varints, zigzag_decode
from osm_pbf_convert_spark.functions.cells import quantize_np

# protobuf wire types
_VARINT, _I64, _LEN, _I32 = 0, 1, 2, 5


def _read_varint(mv, pos: int) -> tuple[int, int]:
    res = 0
    shift = 0
    while True:
        b = mv[pos]
        pos += 1
        res |= (b & 0x7F) << shift
        if b < 0x80:
            return res & 0xFFFFFFFFFFFFFFFF, pos
        shift += 7


def _scan_fields(mv, start: int, end: int):
    """Yield (field_no, wire_type, value_or_slice) over one message."""
    pos = start
    while pos < end:
        key, pos = _read_varint(mv, pos)
        fno, wt = key >> 3, key & 0x7
        if wt == _VARINT:
            val, pos = _read_varint(mv, pos)
            yield fno, wt, val
        elif wt == _LEN:
            ln, pos = _read_varint(mv, pos)
            yield fno, wt, (pos, pos + ln)
            pos += ln
        elif wt == _I64:
            yield fno, wt, (pos, pos + 8)
            pos += 8
        elif wt == _I32:
            yield fno, wt, (pos, pos + 4)
            pos += 4
        else:
            raise ValueError(f"unsupported wire type {wt}")


def _packed_u64(mv, span) -> np.ndarray:
    return decode_varints(np.frombuffer(mv, dtype=np.uint8, count=span[1] - span[0], offset=span[0]))


def _packed_s64(mv, span) -> np.ndarray:
    return zigzag_decode(_packed_u64(mv, span))


@dataclass
class DecodedNodes:
    ids: np.ndarray = field(default_factory=lambda: np.empty(0, np.int64))
    lat: np.ndarray = field(default_factory=lambda: np.empty(0, np.float64))
    lon: np.ndarray = field(default_factory=lambda: np.empty(0, np.float64))
    tag_counts: np.ndarray = field(default_factory=lambda: np.empty(0, np.int32))
    tag_keys: list = field(default_factory=list)
    tag_vals: list = field(default_factory=list)


@dataclass
class DecodedWays:
    ids: list = field(default_factory=list)
    refs: list = field(default_factory=list)  # list[np.ndarray]
    tags: list = field(default_factory=list)  # list[dict]


@dataclass
class DecodedRelations:
    ids: list = field(default_factory=list)
    members: list = field(default_factory=list)  # list[(mtype, ref, role)]
    tags: list = field(default_factory=list)


@dataclass
class DecodedPayload:
    nodes: DecodedNodes = field(default_factory=DecodedNodes)
    ways: DecodedWays = field(default_factory=DecodedWays)
    relations: DecodedRelations = field(default_factory=DecodedRelations)
    n_blobs: int = 0
    n_data_blobs: int = 0
    n_bad_payloads: int = 0


def _decode_string_table(mv, span) -> np.ndarray:
    out = []
    for fno, wt, val in _scan_fields(mv, span[0], span[1]):
        if fno == 1 and wt == _LEN:
            out.append(bytes(mv[val[0]:val[1]]).decode("utf-8"))
    return np.asarray(out, dtype=object)


def _decode_dense(mv, span, strings, gran, lat_off, lon_off, out: DecodedNodes):
    ids = lats = lons = None
    kv = np.empty(0, np.int64)
    for fno, wt, val in _scan_fields(mv, span[0], span[1]):
        if wt != _LEN:
            continue
        if fno == 1:
            ids = _packed_s64(mv, val)
        elif fno == 8:
            lats = _packed_s64(mv, val)
        elif fno == 9:
            lons = _packed_s64(mv, val)
        elif fno == 10:
            kv = _packed_u64(mv, val).astype(np.int64)
    if ids is None:
        return
    if lats is None or lons is None or len(ids) != len(lats) or len(ids) != len(lons):
        raise ValueError("Dense node should have equal count of Ids, Longitudes and Latitudes")
    n = len(ids)
    ids = np.cumsum(ids, dtype=np.int64)
    lat_raw = np.cumsum(lats, dtype=np.int64)
    lon_raw = np.cumsum(lons, dtype=np.int64)
    # exact C# double math: 1e-9 * (offset + granularity * cumsum)
    lat = 1e-9 * (lat_off + gran * lat_raw).astype(np.float64)
    lon = 1e-9 * (lon_off + gran * lon_raw).astype(np.float64)

    counts = np.zeros(n, dtype=np.int32)
    keys: list = []
    vals: list = []
    if kv.size > n:  # at least one tag pair exists
        # reference semantics: zeros are terminators only at KEY positions
        # (PrimitiveDecoder.cs:102-109)
        zpos = np.nonzero(kv == 0)[0]
        starts = np.empty_like(zpos)
        if zpos.size:
            starts[0] = 0
            starts[1:] = zpos[:-1] + 1
        seg = zpos - starts
        if zpos.size == n and kv.size == int(zpos[-1]) + 1 and not (seg & 1).any():
            # fast path: every zero sits at a KEY position (no empty-string
            # values), so terminators == zeros and the demux vectorizes --
            # equivalent to the sequential parse by induction: each segment
            # between zeros has even pair length, so every zero lands on a
            # key position in the sequential scan too
            counts = (seg >> 1).astype(np.int32)
            pairs = kv[kv != 0]
            keys = strings[pairs[0::2]].tolist()
            vals = strings[pairs[1::2]].tolist()
        else:
            # rare: a zero at a VALUE position (value = string-table slot 0,
            # the empty string) or a non-exact stream -- sequential demux
            # preserves the reference's keys-only-terminate semantics
            i = 0
            for node in range(n):
                c = 0
                while i < kv.size and kv[i] != 0:
                    keys.append(strings[kv[i]])
                    vals.append(strings[kv[i + 1]])
                    i += 2
                    c += 1
                i += 1
                counts[node] = c
    out.ids = np.concatenate([out.ids, ids])
    out.lat = np.concatenate([out.lat, lat])
    out.lon = np.concatenate([out.lon, lon])
    out.tag_counts = np.concatenate([out.tag_counts, counts])
    out.tag_keys.extend(keys)
    out.tag_vals.extend(vals)


def _decode_tags(keys_span, vals_span, mv, strings) -> dict:
    if keys_span is None or vals_span is None:
        return {}
    k = _packed_u64(mv, keys_span).astype(np.int64)
    v = _packed_u64(mv, vals_span).astype(np.int64)
    if k.size == 0:
        return {}
    return dict(zip(strings[k].tolist(), strings[v].tolist()))


def _decode_ways_batch(mv, spans, strings, out: DecodedWays):
    """Batched decode of ALL way messages in a group: one vectorized varint
    pass over the concatenated refs / keys / values streams instead of
    3 small decodes per way. Per-way delta cumsum is recovered from the
    global cumsum minus per-way bases (identical values to per-way decode).
    """
    arr = np.frombuffer(mv, dtype=np.uint8)
    ids: list = []
    key_spans: list = []
    val_spans: list = []
    ref_spans: list = []
    for span in spans:
        wid = 0
        ks = vs = rs = None
        for fno, wt, val in _scan_fields(mv, span[0], span[1]):
            if fno == 1 and wt == _VARINT:
                wid = val
            elif fno == 2 and wt == _LEN:
                ks = val
            elif fno == 3 and wt == _LEN:
                vs = val
            elif fno == 8 and wt == _LEN:
                rs = val
        ids.append(wid)
        key_spans.append(ks)
        val_spans.append(vs)
        ref_spans.append(rs)

    # one O(block) pass: cumulative count of varint terminator bytes, so a
    # span's varint count is two lookups instead of a per-span sum
    ends_cum = np.cumsum(arr < 0x80, dtype=np.int64)

    def _batch_decode(span_list):
        """-> (flat uint64 values, per-span counts)."""
        pieces = [arr[a:b] for (a, b) in span_list if a is not None]
        if not pieces:
            return np.empty(0, np.uint64), np.zeros(len(span_list), np.int64)
        flat = decode_varints(np.concatenate(pieces))
        counts = np.zeros(len(span_list), np.int64)
        for i, s in enumerate(span_list):
            if s is None:
                continue
            counts[i] = ends_cum[s[1] - 1] - (ends_cum[s[0] - 1] if s[0] else 0)
        return flat, counts

    refs_flat, ref_counts = _batch_decode([(s[0], s[1]) if s else None for s in ref_spans])
    if refs_flat.size:
        deltas = zigzag_decode(refs_flat)
        cs = np.cumsum(deltas, dtype=np.int64)
        starts = np.zeros(len(ref_counts), np.int64)
        np.cumsum(ref_counts[:-1], out=starts[1:])
        # per-way values = global cumsum minus the base before each range
        bases = np.where(starts > 0, cs[np.maximum(starts - 1, 0)], 0)
        per_way_refs = cs - np.repeat(bases, ref_counts)
    else:
        per_way_refs = np.empty(0, np.int64)

    keys_flat, key_counts = _batch_decode(key_spans)
    vals_flat, _ = _batch_decode(val_spans)
    key_strs = strings[keys_flat.astype(np.int64)] if keys_flat.size else np.empty(0, object)
    val_strs = strings[vals_flat.astype(np.int64)] if vals_flat.size else np.empty(0, object)

    out.ids.extend(ids)
    rpos = 0
    kpos = 0
    for i in range(len(ids)):
        rc = int(ref_counts[i])
        out.refs.append(per_way_refs[rpos:rpos + rc])
        rpos += rc
        kc = int(key_counts[i])
        out.tags.append(
            dict(zip(key_strs[kpos:kpos + kc].tolist(), val_strs[kpos:kpos + kc].tolist()))
            if kc else {}
        )
        kpos += kc


def _decode_relation(mv, span, strings, out: DecodedRelations):
    rid = 0
    keys_span = vals_span = None
    roles = mids = mtypes = np.empty(0, np.int64)
    for fno, wt, val in _scan_fields(mv, span[0], span[1]):
        if fno == 1 and wt == _VARINT:
            rid = val
        elif fno == 2 and wt == _LEN:
            keys_span = val
        elif fno == 3 and wt == _LEN:
            vals_span = val
        elif fno == 8 and wt == _LEN:
            roles = _packed_u64(mv, val).astype(np.int64)
        elif fno == 9 and wt == _LEN:
            mids = np.cumsum(_packed_s64(mv, val), dtype=np.int64)
        elif fno == 10 and wt == _LEN:
            mtypes = _packed_u64(mv, val).astype(np.int64)
    role_strs = strings[roles] if roles.size else np.empty(0, object)
    out.ids.append(rid)
    out.members.append(
        list(zip(mtypes.astype(np.int32).tolist(), mids.tolist(), role_strs.tolist()))
    )
    out.tags.append(_decode_tags(keys_span, vals_span, mv, strings))


def _decode_block(block: bytes, out: DecodedPayload, want):
    mv = memoryview(block)
    strings = np.empty(0, object)
    gran, lat_off, lon_off = 100, 0, 0
    groups = []
    for fno, wt, val in _scan_fields(mv, 0, len(mv)):
        if fno == 1 and wt == _LEN:
            strings = _decode_string_table(mv, val)
        elif fno == 2 and wt == _LEN:
            groups.append(val)
        elif fno == 17 and wt == _VARINT:
            gran = val
        elif fno == 19 and wt == _VARINT:
            lat_off = zigzag_like_int64(val)
        elif fno == 20 and wt == _VARINT:
            lon_off = zigzag_like_int64(val)
    for g in groups:
        way_spans = []
        for fno, wt, val in _scan_fields(mv, g[0], g[1]):
            if wt != _LEN:
                continue
            if fno == 1:
                raise NotImplementedError(
                    "Reading of plain nodes is not implemented. Only dense nodes are supported."
                )
            if fno == 2 and "nodes" in want:
                _decode_dense(mv, val, strings, gran, lat_off, lon_off, out.nodes)
            elif fno == 3 and "ways" in want:
                way_spans.append(val)
            elif fno == 4 and "relations" in want:
                _decode_relation(mv, val, strings, out.relations)
        if way_spans:
            _decode_ways_batch(mv, way_spans, strings, out.ways)


def zigzag_like_int64(v: int) -> int:
    """PrimitiveBlock offsets are plain int64 varints (reference reads them
    with ReadInt64, not sint64) -- reinterpret the u64 as two's complement."""
    return v - (1 << 64) if v >= (1 << 63) else v


def parse_payload(payload: bytes, want=("nodes", "ways", "relations")) -> DecodedPayload:
    """Parse one framed payload: repeated [4B BE len][BlobHeader][Blob]."""
    out = DecodedPayload()
    if payload is None or len(payload) == 0:
        return out
    mv = memoryview(payload)
    pos = 0
    total = len(mv)
    while pos < total:
        hlen = int.from_bytes(mv[pos:pos + 4], "big")
        pos += 4
        btype = ""
        dsize = 0
        for fno, wt, val in _scan_fields(mv, pos, pos + hlen):
            if fno == 1 and wt == _LEN:
                btype = bytes(mv[val[0]:val[1]]).decode("utf-8")
            elif fno == 3 and wt == _VARINT:
                dsize = val
        pos += hlen
        blob_start, blob_end = pos, pos + dsize
        pos = blob_end
        out.n_blobs += 1
        if btype != "OSMData":  # scan-level type filter (PbfFileProcessor.cs:42-43)
            continue
        out.n_data_blobs += 1
        raw = defl = None
        for fno, wt, val in _scan_fields(mv, blob_start, blob_end):
            if fno == 1 and wt == _LEN:
                raw = val
            elif fno == 3 and wt == _LEN:
                defl = val
            elif fno == 4 and wt == _LEN:
                raise NotImplementedError("Blob of type BZip is not supported.")
            elif fno == 5 and wt == _LEN:
                raise NotImplementedError("Blob of type LZMA is not supported.")
        if raw is not None:
            block = bytes(mv[raw[0]:raw[1]])
        elif defl is not None:
            block = zlib.decompress(bytes(mv[defl[0]:defl[1]]))
        else:
            continue
        _decode_block(block, out, want)
    return out



def _safe_parse(buf, want, on_error: str, bad_counter=None):
    """parse_payload with corruption policy: 'raise' preserves reference
    parity (the C# reference crashes on malformed blobs); 'skip' is the
    100 TB production mode -- a corrupt payload yields zero entities,
    and when ``bad_counter`` (a SparkContext accumulator) is supplied the
    skip is COUNTED so corrupt payloads are distinguishable from
    legitimately empty ones (run_pipeline records it as a checkpoint
    metric)."""
    try:
        return parse_payload(buf, want=want)
    except NotImplementedError:
        raise  # unsupported-but-valid features should stay loud
    except Exception:
        if on_error == "raise":
            raise
        if bad_counter is not None:
            bad_counter.add(1)
        p = DecodedPayload()
        p.n_bad_payloads = 1
        return p


# ---------------------------------------------------------------------------
# Spark layer: one mapInArrow batch loop (``_decode``) and its wrappers
# ---------------------------------------------------------------------------


def _iter_binary(arr: pa.Array):
    """Zero-copy iteration over a (Large)Binary arrow array: yields
    memoryviews into the value buffer instead of per-row bytes copies."""
    if isinstance(arr, pa.ChunkedArray):
        for chunk in arr.chunks:
            yield from _iter_binary(chunk)
        return
    if arr.null_count == 0 and isinstance(arr, (pa.BinaryArray, pa.LargeBinaryArray)):
        width = 8 if isinstance(arr, pa.LargeBinaryArray) else 4
        dt = np.int64 if width == 8 else np.int32
        offsets = np.frombuffer(arr.buffers()[1], dtype=dt, count=len(arr) + 1 + arr.offset)
        offsets = offsets[arr.offset:]
        # IPC-stream buffers can expose format 'b' (signed); the parser
        # indexes bytes and needs unsigned semantics
        data = memoryview(arr.buffers()[2]).cast("B")
        for i in range(len(arr)):
            yield data[offsets[i]:offsets[i + 1]]
    else:
        for i in range(len(arr)):
            v = arr[i].as_py()
            yield v if v is not None else b""


_MAP_T = pa.map_(pa.string(), pa.string())
_MEMBER_T = pa.struct([("member_type", pa.int32()), ("ref", pa.int64()), ("role", pa.string())])

# The entity union layout, declared once as (name, Spark DDL type, Arrow
# type): every decoder's output schema, the streaming pipeline's
# file-source schemas and the PBF writer's input casts are built from
# this table and _GEO_COL_TYPES.
_ENTITY_COL_TYPES = (
    ("kind", "int", pa.int32()),
    ("id", "bigint", pa.int64()),
    ("lat", "double", pa.float64()),
    ("lon", "double", pa.float64()),
    ("ilat", "int", pa.int32()),
    ("ilon", "int", pa.int32()),
    ("tags", "map<string,string>", _MAP_T),
    ("refs", "array<bigint>", pa.list_(pa.int64())),
    ("members", "array<struct<member_type:int, ref:bigint, role:string>>", pa.list_(_MEMBER_T)),
)
# page-local geo extent, carried by the fused decode's kind=3 rows
_GEO_COL_TYPES = (
    ("n_geo", "bigint", pa.int64()),
    ("min_ilat", "int", pa.int32()),
    ("max_ilat", "int", pa.int32()),
    ("min_ilon", "int", pa.int32()),
    ("max_ilon", "int", pa.int32()),
)
# parse_payload's ``want`` name of entity kind 0 / 1 / 2
_KIND_WANT = ("nodes", "ways", "relations")


def _ddl(fields) -> str:
    """DDL schema string of (name, DDL type, ...) entries."""
    return ", ".join(f"{f[0]} {f[1]}" for f in fields)


def _tags_map_array(counts: np.ndarray, keys: list, vals: list) -> pa.MapArray:
    offsets = np.zeros(len(counts) + 1, dtype=np.int32)
    np.cumsum(counts, out=offsets[1:])
    return pa.MapArray.from_arrays(
        pa.array(offsets, pa.int32()),
        pa.array(keys, pa.string()),
        pa.array(vals, pa.string()),
    )


def _mask_list(arr: pa.ListArray, keep: np.ndarray) -> pa.ListArray:
    """Null out list entries where keep is False (empty-vs-null fidelity
    for the union schema)."""
    if keep.all():
        return arr
    mask = pa.array(~keep)  # True where null
    return pa.ListArray.from_arrays(
        arr.offsets, arr.values, mask=mask
    )


def _entity_arrays(per_row: list, columns: tuple):
    """Assemble the tall entity union for one input batch of parsed
    payloads: kind 0=node, 1=way, 2=relation, each page's nodes first,
    then its ways, then its relations. Returns (entities per page,
    {column: array}) or None when the batch decodes to zero entities.
    Only the entity ``columns`` requested are built -- coordinate
    quantization, the tag map, the refs CSR and the members structs are
    skipped when nobody asked for them -- while kind/id (cheap; they
    define the row layout) are always computed."""
    need_coords = bool({"lat", "lon", "ilat", "ilon"} & set(columns))
    need_tags = "tags" in columns
    need_refs = "refs" in columns
    need_members = "members" in columns
    n_n = np.fromiter((len(p.nodes.ids) for p in per_row), dtype=np.int64, count=len(per_row))
    n_w = np.fromiter((len(p.ways.ids) for p in per_row), dtype=np.int64, count=len(per_row))
    n_r = np.fromiter((len(p.relations.ids) for p in per_row), dtype=np.int64, count=len(per_row))
    repeats = n_n + n_w + n_r
    total = int(repeats.sum())
    if total == 0:
        return None
    kind_l, id_l, lat_l, lon_l = [], [], [], []
    tag_counts, tag_keys, tag_vals = [], [], []
    ref_counts, refs_flat = [], []
    mem_counts, mem_flat = [], []
    for p in per_row:
        nn, nw, nr = len(p.nodes.ids), len(p.ways.ids), len(p.relations.ids)
        kind_l.append(np.concatenate([
            np.zeros(nn, np.int32), np.ones(nw, np.int32), np.full(nr, 2, np.int32)
        ]))
        id_l.append(np.concatenate([
            p.nodes.ids, np.asarray(p.ways.ids, np.int64), np.asarray(p.relations.ids, np.int64)
        ]))
        if need_coords:
            lat_l.append(p.nodes.lat)
            lon_l.append(p.nodes.lon)
        if need_tags:
            dicts = p.ways.tags + p.relations.tags
            tag_counts.append(p.nodes.tag_counts)
            tag_counts.append(np.fromiter(map(len, dicts), dtype=np.int32, count=len(dicts)))
            tag_keys.extend(p.nodes.tag_keys)
            tag_vals.extend(p.nodes.tag_vals)
            for d in dicts:
                tag_keys.extend(d.keys())
                tag_vals.extend(d.values())
        if need_refs:
            for r in p.ways.refs:
                ref_counts.append(len(r))
                refs_flat.append(r)
        if need_members:
            mem_counts.extend(len(m) for m in p.relations.members)
            mem_flat.extend(m for ms in p.relations.members for m in ms)
    kind = np.concatenate(kind_l)
    ids = np.concatenate(id_l)
    nodes_mask = kind == 0
    ways_mask = kind == 1
    rels_mask = kind == 2
    out = {"kind": pa.array(kind, pa.int32()), "id": pa.array(ids, pa.int64())}
    if need_coords:
        lat = np.full(total, np.nan)
        lon = np.full(total, np.nan)
        lat[nodes_mask] = np.concatenate(lat_l) if lat_l else []
        lon[nodes_mask] = np.concatenate(lon_l) if lon_l else []
        ilat = np.zeros(total, np.int32)
        ilon = np.zeros(total, np.int32)
        ilat[nodes_mask] = quantize_np(lat[nodes_mask])
        ilon[nodes_mask] = quantize_np(lon[nodes_mask])
        out["lat"] = pa.array(lat, pa.float64())
        out["lon"] = pa.array(lon, pa.float64())
        out["ilat"] = pa.array(ilat, pa.int32())
        out["ilon"] = pa.array(ilon, pa.int32())
    if need_tags:
        # tags: per-entity counts were appended nodes-first per PAGE,
        # then ways, then rels -- same order as kind/id construction
        counts_all = np.concatenate(tag_counts) if tag_counts else np.empty(0, np.int32)
        out["tags"] = _tags_map_array(counts_all, tag_keys, tag_vals)
    if need_refs:
        # refs list: null for non-way rows (vectorized CSR offsets)
        per_row_refs = np.zeros(total, np.int64)
        per_row_refs[ways_mask] = np.asarray(ref_counts, np.int64)
        ref_off = np.zeros(total + 1, np.int32)
        ref_off[1:] = np.cumsum(per_row_refs).astype(np.int32)
        refs_child = (
            np.concatenate(refs_flat) if refs_flat else np.empty(0, np.int64)
        )
        refs_arr = pa.ListArray.from_arrays(
            pa.array(ref_off, pa.int32()), pa.array(refs_child, pa.int64()),
        )
        out["refs"] = _mask_list(refs_arr, ways_mask)
    if need_members:
        per_row_mem = np.zeros(total, np.int64)
        per_row_mem[rels_mask] = np.asarray(mem_counts, np.int64)
        mem_off = np.zeros(total + 1, np.int32)
        mem_off[1:] = np.cumsum(per_row_mem).astype(np.int32)
        mem_struct = pa.array(
            [{"member_type": t, "ref": r, "role": ro} for (t, r, ro) in mem_flat],
            type=_MEMBER_T,
        )
        out["members"] = _mask_list(
            pa.ListArray.from_arrays(pa.array(mem_off, pa.int32()), mem_struct),
            rels_mask,
        )
    return repeats, out


def _geo_extent(per_row: list):
    """Page-local geo extent for one input batch: one kind=3 row per page
    with >= 1 node, (n_geo, min/max ilat, min/max ilon) over the page's
    OWN decoded nodes -- row-for-row what joining each page to its nodes
    and aggregating per url gives (``join_pages_geo``), with no shuffle.
    Returns (rows per page, {column: array}) or None when no page has a
    node."""
    counts = np.fromiter((len(p.nodes.ids) for p in per_row), dtype=np.int64, count=len(per_row))
    keep = counts > 0
    if not keep.any():
        return None
    n_geo = counts[keep]
    starts = np.zeros(len(n_geo), np.int64)
    np.cumsum(n_geo[:-1], out=starts[1:])
    ilat = quantize_np(np.concatenate([p.nodes.lat for p in per_row]))
    ilon = quantize_np(np.concatenate([p.nodes.lon for p in per_row]))
    out = {
        "kind": pa.array(np.full(len(n_geo), 3, np.int32), pa.int32()),
        "n_geo": pa.array(n_geo, pa.int64()),
        "min_ilat": pa.array(np.minimum.reduceat(ilat, starts), pa.int32()),
        "max_ilat": pa.array(np.maximum.reduceat(ilat, starts), pa.int32()),
        "min_ilon": pa.array(np.minimum.reduceat(ilon, starts), pa.int32()),
        "max_ilon": pa.array(np.maximum.reduceat(ilon, starts), pa.int32()),
    }
    return keep.astype(np.int64), out


def _decode(df: DataFrame, payload_col: str, passthrough, on_error: str, bad_counter,
            kinds=(0, 1, 2), columns: tuple | None = None, geo: bool = False) -> DataFrame:
    """The one decode pass behind every public decoder: parse each
    payload once (only the entity ``kinds`` asked for), emit the
    ``passthrough`` columns followed by the entity ``columns`` (all of
    them by default, in the caller's order, duplicates dropped). With
    ``geo`` it also emits one kind=3 page-extent row per page with nodes
    (``_geo_extent``) and appends the geo columns; geo rows carry every
    passthrough column, entity rows only the first. Columns a row kind
    does not carry are null."""
    pcols = list(passthrough)
    entity = {f[0]: f for f in _ENTITY_COL_TYPES}
    sel = tuple(entity) if columns is None else tuple(dict.fromkeys(columns))
    bad = set(sel) - set(entity)
    if bad:
        raise ValueError(f"unknown entity columns: {sorted(bad)}")
    want = tuple(_KIND_WANT[k] for k in sorted(kinds))
    in_df = df.select(*pcols, payload_col)
    computed = [entity[c] for c in sel] + (list(_GEO_COL_TYPES) if geo else [])
    out_schema = _ddl(
        [(c, in_df.schema[c].dataType.simpleString()) for c in pcols] + computed
    )
    names = pcols + [c for c, _, _ in computed]
    entity_pcols = pcols[:1] if geo else pcols

    def fn(batches):
        for batch in batches:
            per_row = [
                _safe_parse(buf, want, on_error, bad_counter)
                for buf in _iter_binary(batch.column(payload_col))
            ]
            parts = [(entity_pcols, _entity_arrays(per_row, sel))]
            if geo:
                parts.append((pcols, _geo_extent(per_row)))
            for carried, part in parts:
                if part is None:
                    continue
                repeats, arrays = part
                idx = pa.array(np.repeat(np.arange(batch.num_rows, dtype=np.int64), repeats))
                n = len(idx)
                yield pa.RecordBatch.from_arrays(
                    [batch.column(c).take(idx) if c in carried
                     else pa.nulls(n, batch.schema.field(c).type) for c in pcols]
                    + [arrays[c] if c in arrays else pa.nulls(n, at) for c, _, at in computed],
                    names=names,
                )

    return in_df.mapInArrow(fn, out_schema)


def decode_nodes(df: DataFrame, payload_col: str = "html", passthrough: tuple = ("url",), on_error: str = "raise", bad_counter=None) -> DataFrame:
    """pages -> nodes(passthrough..., id, lat, lon, ilat, ilon, tags).

    ilat/ilon are the reference's exact int32 quantization
    (Helpers.cs:3-6, C# truncation toward zero).
    """
    return _decode(df, payload_col, passthrough, on_error, bad_counter, kinds={0},
                   columns=("id", "lat", "lon", "ilat", "ilon", "tags"))


def decode_ways(df: DataFrame, payload_col: str = "html", passthrough: tuple = ("url",), on_error: str = "raise", bad_counter=None) -> DataFrame:
    """pages -> ways(passthrough..., id, refs, tags)."""
    return _decode(df, payload_col, passthrough, on_error, bad_counter, kinds={1},
                   columns=("id", "refs", "tags"))


def decode_relations(df: DataFrame, payload_col: str = "html", passthrough: tuple = ("url",), on_error: str = "raise", bad_counter=None) -> DataFrame:
    """pages -> relations(passthrough..., id, members, tags)."""
    return _decode(df, payload_col, passthrough, on_error, bad_counter, kinds={2},
                   columns=("id", "members", "tags"))


def decode_entities(df: DataFrame, payload_col: str = "html", passthrough: tuple = ("url",), on_error: str = "raise", bad_counter=None, columns: tuple | None = None) -> DataFrame:
    """ONE decode pass over the payloads emitting every entity kind in a
    tall union schema: kind 0=node, 1=way, 2=relation; node columns null on
    way rows and vice versa. Use when a pipeline consumes nodes AND ways
    (e.g. the flagship join): persist this and filter by kind -- halves the
    decode cost vs calling decode_nodes + decode_ways separately.

    ``columns`` prunes the ARROW ASSEMBLY, not just the projection
    (Catalyst cannot see inside the Python stage, so a downstream
    ``.select`` alone still pays for coordinate quantization and the
    refs/members builds): pass the subset of entity columns a consumer
    needs (e.g. ``("kind", "tags")`` for tag statistics) and only those
    arrays are built. Emitted values are identical to the full decode's
    (pytest-pinned).
    """
    return _decode(df, payload_col, passthrough, on_error, bad_counter, columns=columns)


def decode_entities_geo(
    df: DataFrame, payload_col: str = "html", on_error: str = "raise", bad_counter=None
) -> DataFrame:
    """Fused decode: ONE parse per payload emits BOTH the entity union rows
    of ``decode_entities`` (kind 0/1/2) AND one page-local geo-extent row
    per page as kind=3 -- the streaming pipeline's bronze table, so its
    pages_geo stage is a projection instead of a second parse of every
    payload.

    Output schema = every non-payload source column, url first (geo rows
    carry them; entity rows carry only ``url``) + the entity union columns
    + the geo extent columns. kind=3 rows: one row per page with >= 1
    node, extent from the page's OWN nodes, ``text`` passed through
    byte-identical; zero-node pages emit no geo row (inner-join
    semantics). Entity rows have the geo columns null and vice versa --
    columnar nulls are ~free in the parquet sink.
    """
    if "url" not in df.columns:
        raise ValueError("decode_entities_geo needs a url column")
    pcols = ["url"] + [c for c in df.columns if c not in (payload_col, "url")]
    return _decode(df, payload_col, pcols, on_error, bad_counter, geo=True)
