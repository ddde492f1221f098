"""Distributed reader AND writer for standalone ``.osm.pbf`` files.

Reader: byte-range splits that self-synchronize to blob-frame
boundaries (below). Writer: ``write_pbf_file`` re-encodes entity
DataFrames into framed blocks on executors and streams them into one
file -- ``read -> write -> read`` is a lossless circle (tested).

The reference's primary input mode is a single multi-GB OSM extract
processed as ONE sequential stream of ``[4-byte BE length][BlobHeader]
[Blob]`` frames (``OSM-pbf-convert/PbfFileProcessor.cs:24-83``, framing
``PbfBlobParser.cs:44-102``; its dev dataset is
``oberbayern-latest.osm.pbf``, ``Properties/launchSettings.json:5``).
This module parallelizes the SAME file shape the Spark way: the file is
cut into fixed byte-range splits, and each split's task SELF-SYNCHRONIZES
to the first provable frame boundary inside its range -- the format has
no sync markers, so a boundary is proven structurally:

1. the 4-byte BE header length is in the spec's plausible band
   (BlobHeader <= 64 KiB),
2. the bytes it frames parse STRICTLY as a BlobHeader message (only
   fields type/indexdata/datasize; ``type`` is ``OSMHeader``/``OSMData``;
   ``datasize`` <= the spec's 32 MiB Blob cap),
3. the implied frame end lands on EOF or on another offset whose header
   passes (1)+(2) -- the chained check squeezes the false-positive
   probability to ~2^-100 territory.

Candidate offsets are pre-filtered with one vectorized numpy pass over
the split (the 4-byte length band rejects ~99.998% of offsets), so the
Python-level validator runs a handful of times per split. A frame
belongs to the split containing its FIRST byte; the owning task reads
across its split end to finish the frame (the standard Hadoop
input-split contract), so every blob is emitted exactly once and splits
never coordinate.

The emitted frame rows feed the existing ``sources.pbf`` decoders
unchanged: each row's ``payload`` is the original frame bytes, which is
exactly the ``parse_payload`` wire shape. ``url`` carries
``<path>#<offset>`` lineage so every downstream operator (zone maps,
checkpoint metrics, joins) keeps its per-blob identity column.

All paths go through ``sources.fsio`` (pyarrow's filesystem layer):
local and ``file://`` read via ``LocalFileSystem``, ``s3://`` /
``gs://`` / ``hdfs://`` / ``abfs://`` via the matching Arrow-native
client, each executor task doing its own ranged reads -- the split
planning is O(files) metadata lookups on the driver, the bytes never
funnel through it. The ``mock://`` scheme exercises the same generic
path hermetically in tests (see ``fsio.py``).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession

from osm_pbf_convert_spark.sources import fsio
from osm_pbf_convert_spark.sources.byterange import scan_ranges, sink_segments

# OSM PBF spec hard caps (fileformat.proto): BlobHeader <= 64 KiB,
# Blob <= 32 MiB. The reference trusts them implicitly (int32 reads).
MAX_HEADER_BYTES = 64 * 1024
MAX_BLOB_BYTES = 32 * 1024 * 1024
_TYPES = (b"OSMData", b"OSMHeader")


def _open_for_split(path: str):
    """Seekable input for one scan task: plain ``open`` on local paths
    (zero extra layers on the hot path), ``fsio`` ranged-read handle on
    any URI scheme."""
    if fsio.is_local(path):
        return open(fsio.local_path(path), "rb")
    return fsio.open_seekable(path)


def _parse_blob_header(buf: bytes):
    """STRICT BlobHeader parse: returns (type_bytes, datasize) or None.

    Only the three spec fields are accepted (1=type, 2=indexdata,
    3=datasize) and the message must consume exactly ``buf`` -- any
    deviation disqualifies the candidate offset.
    """
    pos, end = 0, len(buf)
    btype = None
    dsize = None

    def varint(p):
        v = 0
        shift = 0
        while p < end:
            b = buf[p]
            p += 1
            v |= (b & 0x7F) << shift
            if b < 0x80:
                return v, p
            shift += 7
            if shift > 63:
                return None, p
        return None, p

    while pos < end:
        key, pos = varint(pos)
        if key is None:
            return None
        fno, wt = key >> 3, key & 0x7
        if fno == 1 and wt == 2:
            ln, pos = varint(pos)
            if ln is None or pos + ln > end or btype is not None:
                return None
            btype = buf[pos:pos + ln]
            pos += ln
        elif fno == 2 and wt == 2:  # indexdata: opaque, skipped
            ln, pos = varint(pos)
            if ln is None or pos + ln > end:
                return None
            pos += ln
        elif fno == 3 and wt == 0:
            dsize, pos = varint(pos)
            if dsize is None:
                return None
        else:
            return None
    if btype not in _TYPES:
        return None
    if dsize is None or not 0 < dsize <= MAX_BLOB_BYTES:
        return None
    return btype, dsize


def _frame_at(read_at, off: int, file_size: int):
    """Validate a frame boundary at ``off`` against the file; returns
    (next_off, blob_type, header_len, datasize) or None."""
    if off + 4 > file_size:
        return None
    hlen = int.from_bytes(read_at(off, 4), "big")
    if not 8 <= hlen <= MAX_HEADER_BYTES or off + 4 + hlen > file_size:
        return None
    parsed = _parse_blob_header(read_at(off + 4, hlen))
    if parsed is None:
        return None
    btype, dsize = parsed
    nxt = off + 4 + hlen + dsize
    if nxt > file_size:
        return None
    return nxt, btype, hlen, dsize


def _sync(read_at, window: np.ndarray, base: int, end: int, file_size: int):
    """First provable frame boundary in [base, end), or None.

    ``window`` holds the file bytes [base, base+len) (len >= end-base+3
    when available) for the vectorized candidate pre-filter; validation
    reads the file directly via ``read_at``.
    """
    if window.size < 4:
        return None
    w = window.astype(np.uint32)
    h = (w[:-3] << 24) | (w[1:-2] << 16) | (w[2:-1] << 8) | w[3:]
    cand = np.nonzero((h >= 8) & (h <= MAX_HEADER_BYTES))[0]
    for p in cand.tolist():
        off = base + p
        if off >= end:
            break
        fr = _frame_at(read_at, off, file_size)
        if fr is None:
            continue
        nxt = fr[0]
        # chained check: EOF or a second valid header right after
        if nxt == file_size or _frame_at(read_at, nxt, file_size) is not None:
            return off
    return None


def _walk_split(f, start: int, end: int, file_size: int,
                on_error: str = "raise", bad_bytes=None):
    """Yield (offset, blob_type, frame_bytes) for every frame starting in
    [start, end); the last one may extend past ``end``.

    ``on_error``: "raise" preserves reference parity (the C# processor
    crashes on a malformed stream); "resync" is the 100 TB production
    mode -- a corrupt region is skipped by scanning forward to the next
    provable frame boundary. ``bad_bytes`` (a Spark accumulator)
    receives the skipped bytes this split can PROVE are damage (found
    after a decoded frame, or before the first frame at offset 0); a
    LOWER bound, because damage at a split's leading edge is locally
    indistinguishable from a legitimate mid-frame split start. It is
    also DIAGNOSTIC-ONLY: accumulator updates inside a transformation
    are re-applied on task retry/speculation, so the count can
    overcount under failures. The exact, retry-safe global measure is
    ``file_size - sum(n_bytes)`` over the returned frames."""

    def read_at(off, n):
        f.seek(off)
        return f.read(n)

    # pre-filter window: the split plus 3 bytes so the u32 at end-1 exists
    f.seek(start)
    raw = f.read(end - start + 3)
    window = np.frombuffer(raw, dtype=np.uint8)
    off = _sync(read_at, window, start, end, file_size)
    if start == 0 and end > 0 and off != 0:
        # offset 0 must be a boundary (interior splits legitimately start
        # mid-frame; the file head does not)
        if on_error != "resync":
            raise ValueError(
                f"no valid blob frame at offset 0 (not a .osm.pbf file?); "
                f"first provable frame boundary: {off}"
            )
        if bad_bytes is not None:
            bad_bytes.add(off if off is not None else end)
    while off is not None and off < end:
        fr = _frame_at(read_at, off, file_size)
        if fr is None:
            if on_error != "resync":  # corrupt tail after a valid sync
                raise ValueError(f"invalid frame at offset {off}")
            nxt_off = _sync(
                read_at, window[off + 1 - start:], off + 1, end, file_size
            )
            if bad_bytes is not None:
                bad_bytes.add((nxt_off if nxt_off is not None else end) - off)
            off = nxt_off
            continue
        nxt, btype, hlen, dsize = fr
        # frames fully inside the scan window slice from it; only the
        # last frame of a split (crossing `end`) needs a second read
        if nxt - start <= len(raw):
            frame = raw[off - start:nxt - start]
        else:
            frame = read_at(off, 4 + hlen + dsize)
        yield off, btype.decode(), frame
        off = nxt


def pbf_blob_frames(
    spark: SparkSession, path: str, split_bytes: int = 64 * 1024 * 1024,
    on_error: str = "raise", bad_bytes=None,
) -> DataFrame:
    """One row per blob frame of a standalone ``.osm.pbf`` file, decoded
    in parallel byte-range splits: (url, path, offset, blob_type,
    n_bytes, payload). ``payload`` is the original frame bytes --
    exactly what ``parse_payload`` consumes -- and ``url`` is the
    ``<path>#<offset>`` per-blob lineage identity.

    ``on_error="resync"`` (with an optional ``bad_bytes`` accumulator)
    skips corrupt FRAMING by scanning to the next provable boundary --
    the production mode for damaged extracts; corruption INSIDE an
    intact frame (bad zlib, garbage protobuf) surfaces one layer up in
    the decoders' own ``on_error="skip"`` / ``bad_counter`` policy.

    ``path`` may be one file, a glob (``extracts/*.osm.pbf``), or a
    list of either -- region extract SETS read as one DataFrame, each
    file split independently (per-file lineage keeps them apart)."""
    if on_error not in ("raise", "resync"):
        raise ValueError("on_error must be 'raise' or 'resync'")
    patterns = [path] if isinstance(path, str) else list(path)
    files = []
    for pat in patterns:
        matched = fsio.expand_glob(pat)
        if not matched:
            raise FileNotFoundError(f"no files match {pat!r}")
        files.extend(matched)
    bounds = []
    for uri in files:
        size = fsio.file_size(uri)
        bounds.extend(
            {"path": uri, "start": s, "end": min(s + split_bytes, size), "file_size": size}
            for s in range(0, max(size, 1), split_bytes)
        )
    splits = pa.Table.from_pylist(bounds)

    def decode(path, start, end, file_size):
        with _open_for_split(path) as f:
            frames = list(_walk_split(f, start, end, file_size, on_error, bad_bytes))
        if frames:
            offs, types, payloads = zip(*frames)
            yield pa.RecordBatch.from_pydict({
                "url": [f"{path}#{off}" for off in offs],
                "path": [path] * len(offs),
                "offset": offs,
                "blob_type": types,
                "n_bytes": [len(p) for p in payloads],
                "payload": payloads,
            })

    return scan_ranges(
        spark, splits, decode,
        "url string, path string, offset long, blob_type string, "
        "n_bytes long, payload binary",
    )


def read_pbf_nodes(spark, path, split_bytes: int = 64 * 1024 * 1024, **kw) -> DataFrame:
    """Nodes of a standalone ``.osm.pbf`` file (distributed decode)."""
    from osm_pbf_convert_spark.sources.pbf import decode_nodes

    return decode_nodes(
        pbf_blob_frames(spark, path, split_bytes), payload_col="payload", **kw
    )


def read_pbf_ways(spark, path, split_bytes: int = 64 * 1024 * 1024, **kw) -> DataFrame:
    """Ways of a standalone ``.osm.pbf`` file. Kept as the read half of the
    file writer's round-trip tests."""
    from osm_pbf_convert_spark.sources.pbf import decode_ways

    return decode_ways(
        pbf_blob_frames(spark, path, split_bytes), payload_col="payload", **kw
    )


def read_pbf_relations(spark, path, split_bytes: int = 64 * 1024 * 1024, **kw) -> DataFrame:
    """Relations of a standalone ``.osm.pbf`` file. Kept as the read half
    of the file writer's round-trip tests."""
    from osm_pbf_convert_spark.sources.pbf import decode_relations

    return decode_relations(
        pbf_blob_frames(spark, path, split_bytes), payload_col="payload", **kw
    )


def read_pbf_entities(spark, path, split_bytes: int = 64 * 1024 * 1024, **kw) -> DataFrame:
    """All entity kinds of a standalone ``.osm.pbf`` file in one pass. Kept
    as the read half of the file writer's round-trip tests."""
    from osm_pbf_convert_spark.sources.pbf import decode_entities

    return decode_entities(
        pbf_blob_frames(spark, path, split_bytes), payload_col="payload", **kw
    )


# ---------------------------------------------------------------------------
# write direction: DataFrames -> standalone .osm.pbf
# ---------------------------------------------------------------------------


def pbf_block_frames(
    nodes: DataFrame | None = None,
    ways: DataFrame | None = None,
    relations: DataFrame | None = None,
    entities_per_block: int = 8000,
    compress: bool = True,
    granularity: int = 100,
    num_chunks: int | None = None,
) -> DataFrame:
    """Distributed encode of OSM entities into framed PBF blobs:
    (seq, n_bytes, frame binary), where concatenating frames in seq
    order after an OSMHeader frame yields a valid ``.osm.pbf``.

    Inputs use the decoders' schemas, so decode -> write -> decode is a
    lossless circle: nodes(id, lat, lon, tags map), ways(id, refs,
    tags), relations(id, members array<struct<member_type,ref,role>>,
    tags). Coordinates re-quantize via ``coords_to_raw`` (the decode
    inverse), bit-exact for any value the decoder produced. Entities
    sort globally by (kind, id) and chunk into blocks of
    ``entities_per_block`` per task -- blocks are self-contained (all
    delta chains reset per block), so encoding is embarrassingly
    parallel.
    """
    from pyspark.sql import functions as F
    from pyspark import TaskContext

    from osm_pbf_convert_spark.sources.pbf import _ENTITY_COL_TYPES
    from osm_pbf_convert_spark.sources.pbf_encoder import (
        DenseNodesSpec,
        RelationSpec,
        WaySpec,
        coords_to_raw,
        encode_primitive_block,
        frame_blob,
    )

    # cast every input to the decoders' entity column types; the columns
    # a kind does not carry are typed nulls
    types = {c: t for c, t, _ in _ENTITY_COL_TYPES}
    frames = []
    for kind, src, own in ((0, nodes, ("lat", "lon")), (1, ways, ("refs",)),
                           (2, relations, ("members",))):
        if src is None:
            continue
        frames.append(
            src.select(
                F.lit(kind).alias("kind"), F.col("id").cast(types["id"]),
                *[(F.col(c) if c in own else F.lit(None)).cast(types[c]).alias(c)
                  for c in ("lat", "lon", "refs", "members")],
                (F.col("tags") if "tags" in src.columns else F.lit(None))
                .cast(types["tags"]).alias("tags"),
            )
        )
    if not frames:
        raise ValueError("at least one of nodes/ways/relations required")
    df = frames[0]
    for f in frames[1:]:
        df = df.unionByName(f)
    spark = df.sparkSession
    n = num_chunks or spark.sparkContext.defaultParallelism
    df = df.repartitionByRange(n, "kind", "id").sortWithinPartitions("kind", "id")

    def encode(batches):
        pid = TaskContext.get().partitionId()
        block_idx = 0
        pend: list = []  # buffered rows of the current kind

        def flush():
            nonlocal block_idx, pend
            if not pend:
                return None
            kind = pend[0][0]
            if kind == 0:
                spec = DenseNodesSpec(
                    ids=[r[1] for r in pend],
                    lats_raw=coords_to_raw([r[2] for r in pend], granularity, 0),
                    lons_raw=coords_to_raw([r[3] for r in pend], granularity, 0),
                    tags=[r[4] for r in pend],
                )
                block = encode_primitive_block(dense=spec, granularity=granularity)
            elif kind == 1:
                block = encode_primitive_block(
                    ways=[WaySpec(id=r[1], refs=r[2], tags=r[4]) for r in pend]
                )
            else:
                block = encode_primitive_block(
                    relations=[
                        RelationSpec(
                            id=r[1],
                            members=[
                                (m["member_type"], m["ref"], m["role"] or "")
                                for m in r[2]
                            ],
                            tags=r[4],
                        )
                        for r in pend
                    ]
                )
            out = (pid * 10_000_000 + block_idx, frame_blob(block, compress=compress))
            block_idx += 1
            pend = []
            return out

        def emit(rows):
            return pa.RecordBatch.from_pydict({
                "seq": [s for s, _ in rows],
                "n_bytes": [len(fr) for _, fr in rows],
                "frame": [fr for _, fr in rows],
            })

        for batch in batches:
            out_rows = []
            c = batch.to_pydict()
            for kind, id_, lat, lon, refs, members, tags in zip(
                c["kind"], c["id"], c["lat"], c["lon"], c["refs"], c["members"], c["tags"]
            ):
                # Arrow maps arrive as lists of (key, value) pairs
                tags = dict(tags or ())
                if kind == 0:
                    vals = (0, id_, lat, lon, tags)
                elif kind == 1:
                    vals = (1, id_, refs or [], None, tags)
                else:
                    vals = (2, id_, members or [], None, tags)
                if pend and (pend[0][0] != kind or len(pend) >= entities_per_block):
                    out_rows.append(flush())
                pend.append(vals)
            if len(pend) >= entities_per_block:
                out_rows.append(flush())
            if out_rows:
                yield emit(out_rows)
        last = flush()
        if last is not None:
            yield emit([last])

    return df.mapInArrow(encode, schema="seq long, n_bytes long, frame binary")


def write_pbf_file(
    out_path: str,
    nodes: DataFrame | None = None,
    ways: DataFrame | None = None,
    relations: DataFrame | None = None,
    entities_per_block: int = 8000,
    compress: bool = True,
    granularity: int = 100,
    num_chunks: int | None = None,
) -> int:
    """Assemble a standalone ``.osm.pbf`` from entity DataFrames: an
    OSMHeader frame, then the executor-encoded OSMData frames in (kind,
    id) order. Blob frames are self-contained, so the driver only
    streams pre-encoded bytes in seq order (the single-file format's
    inherent serial tail, same as the reference store sinks). Returns
    total bytes written. Completes the file-level interop circle:
    ``read_pbf_*`` of the output decodes to the input rows."""
    from osm_pbf_convert_spark.sources.pbf_encoder import field_bytes, frame_blob

    frames = pbf_block_frames(
        nodes, ways, relations, entities_per_block, compress, granularity,
        num_chunks,
    )
    header_block = field_bytes(4, b"OsmSchema-V0.6") + field_bytes(4, b"DenseNodes")
    hdr = frame_blob(header_block, blob_type="OSMHeader", compress=False)
    total = len(hdr)
    with sink_segments(frames, "seq", out_path) as (rows, (f,)):
        f.write(hdr)
        for row in rows:
            f.write(row["frame"])
            total += len(row["frame"])
    return total
