"""Spatial operators: point-in-rect, point-in-polygon via a
broadcast packed cell-interval index, and kNN via tile ring expansion.

- point-in-rect keeps the reference's exact half-open semantics:
  ``MinLat < lat && MaxLat >= lat && MinLon < lon && MaxLon >= lon``
  (min-EXCLUSIVE, max-inclusive -- ``OSM-pbf-convert/BoundingRect.cs:62-65``).
- point-in-polygon generalizes the reference's rect-containment + KD-tree
  descent (``SpatialIndex.cs:175-184``): polygons are compiled ONCE on the
  driver into per-zoom tile cover sets (full tiles: containment decided;
  edge tiles: exact ray-cast needed), broadcast as packed numpy arrays, and
  probed with ``np.searchsorted`` inside an Arrow UDF (``arrow_udf``). At
  100 TB the polygon side is a few MB broadcast -- no shuffle at all on the
  points side.
- kNN: candidate generation by Morton-tile ring expansion (pure Column
  bit-math, no UDF), equi-join on tile, then ``Window.partitionBy(query)``
  top-k. Optional salting for hot tiles (city-skew, SURVEY.md §4).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from osm_pbf_convert_spark.functions.cells import _spread_col, quantize_np

# ---------------------------------------------------------------------------
# rect
# ---------------------------------------------------------------------------


def in_rect(
    ilat: Column, ilon: Column, min_lat: int, max_lat: int, min_lon: int, max_lon: int
) -> Column:
    """Reference containment: min-exclusive, max-inclusive."""
    return (
        (F.lit(min_lat) < ilat)
        & (F.lit(max_lat) >= ilat)
        & (F.lit(min_lon) < ilon)
        & (F.lit(max_lon) >= ilon)
    )


# ---------------------------------------------------------------------------
# point-in-polygon: broadcast packed cell-interval index
# ---------------------------------------------------------------------------


def _ray_cast(ilat: np.ndarray, ilon: np.ndarray, ring_lat: np.ndarray, ring_lon: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray casting (half-open edges). Points on a
    horizontal edge follow the (y1 > y) != (y2 > y) rule -- deterministic."""
    inside = np.zeros(ilat.shape[0], dtype=bool)
    x = ilon.astype(np.float64)
    y = ilat.astype(np.float64)
    n = len(ring_lat)
    for i in range(n):
        y1, x1 = float(ring_lat[i]), float(ring_lon[i])
        y2, x2 = float(ring_lat[(i + 1) % n]), float(ring_lon[(i + 1) % n])
        cond = (y1 > y) != (y2 > y)
        with np.errstate(divide="ignore", invalid="ignore"):
            xs = (x2 - x1) * (y - y1) / (y2 - y1) + x1
        inside ^= cond & (x < xs)
    return inside


def _segments_hit_rects(
    ring_lat: np.ndarray, ring_lon: np.ndarray,
    lat_lo: np.ndarray, lat_hi: np.ndarray, lon_lo: np.ndarray, lon_hi: np.ndarray,
) -> np.ndarray:
    """True per rect when ANY ring segment intersects it.

    Exact test per (segment, rect): the segment's AABB overlaps the rect AND
    the 4 rect corners are not all strictly on one side of the segment's
    supporting line. Cross products run in float64 (coords are int32, the
    product can need >53 bits), so "strictly one side" uses a conservative
    eps: near-degenerate cases fall back to EDGE, never to a false FULL."""
    hit = np.zeros(len(lat_lo), dtype=bool)
    eps = 1 << 16  # quantized-unit^2 slack vs float64 rounding of ~2^64 products
    n = len(ring_lat)
    for i in range(n):
        y1, x1 = float(ring_lat[i]), float(ring_lon[i])
        y2, x2 = float(ring_lat[(i + 1) % n]), float(ring_lon[(i + 1) % n])
        aabb = (
            (max(x1, x2) >= lon_lo) & (min(x1, x2) <= lon_hi)
            & (max(y1, y2) >= lat_lo) & (min(y1, y2) <= lat_hi)
        )
        if not aabb.any():
            continue
        dx, dy = x2 - x1, y2 - y1
        crosses = [
            dx * (la - y1) - dy * (lo - x1)
            for la, lo in ((lat_lo, lon_lo), (lat_lo, lon_hi), (lat_hi, lon_lo), (lat_hi, lon_hi))
        ]
        pos = np.ones(len(lat_lo), dtype=bool)
        neg = np.ones(len(lat_lo), dtype=bool)
        for c in crosses:
            pos &= c > eps
            neg &= c < -eps
        hit |= aabb & ~(pos | neg)
    return hit


@dataclass
class CompiledPolygons:
    """Driver-compiled, broadcastable PIP index at one zoom level.

    tiles: sorted int64 tile ids that any polygon covers
    starts/stops: searchsorted-style CSR ranges into poly_ids/flags
    poly_ids: polygon id per (tile, polygon) pair
    full: True when the tile is fully inside that polygon (no exact test)
    rings: {poly_id: (ring_ilat, ring_ilon)} for the exact edge test
    """

    z: int
    tiles: np.ndarray
    starts: np.ndarray
    poly_ids: np.ndarray
    full: np.ndarray
    rings: dict


def _tile_xy(ilat: np.ndarray, ilon: np.ndarray, z: int):
    """tile x (from lon) / y (from lat): top z bits of the biased-uint32."""
    ty = ((ilat.astype(np.int64) + 2**31) >> (32 - z)).astype(np.int64)
    tx = ((ilon.astype(np.int64) + 2**31) >> (32 - z)).astype(np.int64)
    return tx, ty


def _xy_to_tile(tx: np.ndarray, ty: np.ndarray, z: int) -> np.ndarray:
    """Interleave z-bit tile coords back into the Morton-prefix tile id.

    The engine's tile id is ``cell >> (64-2z)`` of the biased Morton cell:
    even bits = biased-lon top bits, odd bits = biased-lat top bits.
    """
    from osm_pbf_convert_spark.functions.cells import _spread_np

    return (_spread_np(tx) | (_spread_np(ty) << np.uint64(1))).astype(np.int64)


def biased_tile_col(ilat: Column, ilon: Column, z: int) -> Column:
    """Tile id from the BIASED coordinates (ilat+2^31 as uint32), so tile ids
    sort geographically (south-west -> north-east). Pure Column bit-math."""
    by = F.shiftright((ilat.cast("long") + F.lit(2**31)).bitwiseAND(F.lit(0xFFFFFFFF)), 32 - z)
    bx = F.shiftright((ilon.cast("long") + F.lit(2**31)).bitwiseAND(F.lit(0xFFFFFFFF)), 32 - z)
    return _spread_col(bx).bitwiseOR(F.shiftleft(_spread_col(by), 1))


def compile_polygons(polygons: list[tuple[int, list[tuple[float, float]]]], z: int = 10) -> CompiledPolygons:
    """polygons: [(polygon_id, [(lat_deg, lon_deg), ...])].

    For each polygon, rasterize its bbox tile range at zoom z and classify
    every tile: corners+center all inside and no ring vertex inside the tile
    -> FULL; else if bbox-overlapping -> EDGE candidate.
    """
    tile_map: dict[int, list[tuple[int, bool]]] = {}
    rings = {}
    for pid, ring in polygons:
        ring_lat = quantize_np(np.array([p[0] for p in ring]))
        ring_lon = quantize_np(np.array([p[1] for p in ring]))
        rings[pid] = (ring_lat.astype(np.int64), ring_lon.astype(np.int64))
        tx0, ty0 = _tile_xy(ring_lat.min(keepdims=True), ring_lon.min(keepdims=True), z)
        tx1, ty1 = _tile_xy(ring_lat.max(keepdims=True), ring_lon.max(keepdims=True), z)
        txs = np.arange(tx0[0], tx1[0] + 1)
        tys = np.arange(ty0[0], ty1[0] + 1)
        if len(txs) * len(tys) > 262144:
            raise ValueError(f"polygon {pid} covers too many tiles at z={z}; lower z")
        gx, gy = np.meshgrid(txs, tys)
        gx, gy = gx.ravel(), gy.ravel()
        tile_ids = _xy_to_tile(gx, gy, z)
        # tile corner coords back in unbiased int32 space
        size = np.int64(1) << (32 - z)
        lon_lo = gx * size - 2**31
        lat_lo = gy * size - 2**31
        lon_hi = lon_lo + size - 1
        lat_hi = lat_lo + size - 1
        # classify: all 4 corners + center inside -> candidate FULL, unless
        # any ring SEGMENT intersects the tile rect (a vertex-only test
        # misses thin concave slits whose segments cross a tile with both
        # endpoints outside it -> false FULL -> PIP false positives)
        corners_inside = np.ones(len(gx), dtype=bool)
        for la, lo in ((lat_lo, lon_lo), (lat_lo, lon_hi), (lat_hi, lon_lo), (lat_hi, lon_hi),
                       ((lat_lo + lat_hi) // 2, (lon_lo + lon_hi) // 2)):
            corners_inside &= _ray_cast(la, lo, rings[pid][0], rings[pid][1])
        boundary_hit = _segments_hit_rects(
            rings[pid][0], rings[pid][1], lat_lo, lat_hi, lon_lo, lon_hi
        )
        full = corners_inside & ~boundary_hit
        for t, f in zip(tile_ids.tolist(), full.tolist()):
            tile_map.setdefault(t, []).append((pid, f))

    tiles_sorted = np.array(sorted(tile_map), dtype=np.int64)
    starts = np.zeros(len(tiles_sorted) + 1, dtype=np.int64)
    poly_ids: list[int] = []
    full_flags: list[bool] = []
    for i, t in enumerate(tiles_sorted):
        for pid, f in tile_map[int(t)]:
            poly_ids.append(pid)
            full_flags.append(f)
        starts[i + 1] = len(poly_ids)
    return CompiledPolygons(
        z=z,
        tiles=tiles_sorted,
        starts=starts,
        poly_ids=np.array(poly_ids, dtype=np.int64),
        full=np.array(full_flags, dtype=bool),
        rings=rings,
    )


def assign_polygons(
    spark: SparkSession, points: DataFrame, index: CompiledPolygons
) -> DataFrame:
    """points(…, ilat, ilon) -> one output row per (point, containing
    polygon): all input columns + ``polygon_id``.

    The compiled index is broadcast (a few MB even for large admin sets);
    the probe is a vectorized Arrow UDF: searchsorted on the tile array,
    exact ray-cast only for edge tiles, the per-point polygon lists built
    from offsets.
    """
    bc = spark.sparkContext.broadcast(index)
    from pyspark.sql.types import ArrayType, LongType

    @F.arrow_udf(ArrayType(LongType()))
    def probe(ilat: pa.Array, ilon: pa.Array) -> pa.Array:
        idx: CompiledPolygons = bc.value
        la = ilat.to_numpy().astype(np.int64)
        lo = ilon.to_numpy().astype(np.int64)
        tx, ty = _tile_xy(la, lo, idx.z)
        tiles = _xy_to_tile(tx, ty, idx.z)
        pos = np.searchsorted(idx.tiles, tiles)
        ok = (pos < len(idx.tiles)) & (idx.tiles[np.minimum(pos, len(idx.tiles) - 1)] == tiles)
        # one candidate per (point, polygon entry of its tile): the
        # tiles' [start, end) entry ranges concatenated
        hit = np.flatnonzero(ok)
        first = idx.starts[pos[hit]]
        n = idx.starts[pos[hit] + 1] - first
        row = np.repeat(hit, n)
        j = np.arange(row.size) + np.repeat(first - np.cumsum(n) + n, n)
        pid = idx.poly_ids[j]
        keep = idx.full[j]
        # edge-tile candidates: one vectorized ray cast per polygon
        for p in np.unique(pid[~keep]).tolist():
            m = np.flatnonzero(~idx.full[j] & (pid == p))
            rlat, rlon = idx.rings[p]
            keep[m] = _ray_cast(la[row[m]], lo[row[m]], rlat, rlon)
        offsets = np.zeros(la.size + 1, dtype=np.int32)
        np.cumsum(np.bincount(row[keep], minlength=la.size), out=offsets[1:])
        return pa.ListArray.from_arrays(pa.array(offsets), pa.array(pid[keep]))

    with_pids = points.withColumn("_pids", probe(F.col("ilat"), F.col("ilon")))
    return (
        with_pids.filter(F.size("_pids") > 0)
        .withColumn("polygon_id", F.explode("_pids"))
        .drop("_pids")
    )


# ---------------------------------------------------------------------------
# kNN via tile ring expansion
# ---------------------------------------------------------------------------


def knn_join(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    z: int = 8,
    ring: int = 1,
    salt: int = 0,
    point_id: str = "id",
    query_id: str = "query_id",
) -> DataFrame:
    """For each query point, the k nearest points (squared planar int-coord
    distance) among points in the query tile's ring-neighborhood at zoom z.

    Contract: cell-bounded kNN -- exact within the searched neighborhood
    (standard grid-kNN; enlarge `ring`/lower `z` for wider guarantees).

    Scale shape: queries explode x(2r+1)^2, equi-join on tile (SMJ/AQE),
    window top-k per query. `salt>0` replicates hot-tile point rows across
    `salt` buckets to defuse city-skew: points get a deterministic salt from
    their id, queries explode over all salt values.
    """
    pts = points.select(
        F.col(point_id).alias("_pid"),
        F.col("ilat").alias("_p_ilat"),
        F.col("ilon").alias("_p_ilon"),
    ).withColumn("_tile", biased_tile_col(F.col("_p_ilat"), F.col("_p_ilon"), z))
    # Round 8: neighbor tiles are computed by exploding a LITERAL (dx, dy)
    # offset array and bit-spreading ONCE after the explode, instead of the
    # old per-neighbor Morton increment chains inside one (2r+1)^2-branch
    # array expression. Same tile set (pytest-pinned); the old tree cost
    # ~0.35 s of per-execution driver optimization/codegen at ring=1 --
    # paid TWICE per query (broadcast build + probe) -- on a 5-row input.
    qbase = queries.select(
        F.col(query_id).alias("_qid"),
        F.col("ilat").alias("_q_ilat"),
        F.col("ilon").alias("_q_ilon"),
    )
    by = F.shiftright((F.col("_q_ilat").cast("long") + F.lit(2**31)).bitwiseAND(F.lit(0xFFFFFFFF)), 32 - z)
    bx = F.shiftright((F.col("_q_ilon").cast("long") + F.lit(2**31)).bitwiseAND(F.lit(0xFFFFFFFF)), 32 - z)
    offs = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dy in range(-ring, ring + 1) for dx in range(-ring, ring + 1)
    ])
    nx = F.col("_bx") + F.col("_o.dx")
    ny = F.col("_by") + F.col("_o.dy")
    lim = F.lit((1 << z) - 1)
    qs = (
        qbase.withColumn("_by", by).withColumn("_bx", bx)
        .select("*", F.explode(offs).alias("_o"))
        .filter((nx >= 0) & (nx <= lim) & (ny >= 0) & (ny <= lim))
        .withColumn("_tile", _spread_col(nx).bitwiseOR(F.shiftleft(_spread_col(ny), 1)))
        .drop("_by", "_bx", "_o")
    )
    if salt > 0:
        pts = pts.withColumn("_salt", F.pmod(F.hash("_pid"), F.lit(salt)))
        qs = qs.withColumn("_salt", F.explode(F.array(*[F.lit(s) for s in range(salt)])))
        join_keys = ["_tile", "_salt"]
    else:
        join_keys = ["_tile"]
    cand = qs.join(pts, join_keys, "inner")
    dlat = (cand["_p_ilat"].cast("double") - cand["_q_ilat"].cast("double"))
    dlon = (cand["_p_ilon"].cast("double") - cand["_q_ilon"].cast("double"))
    cand = cand.withColumn("dist2", dlat * dlat + dlon * dlon)
    # no dedup needed: every point maps to exactly ONE (tile, salt) and a
    # query's neighbor-tile array is distinct (distinct (dx,dy) offsets,
    # out-of-range dropped not clamped), so each (query, point) pair can
    # match at most once -- a dropDuplicates here would be a full extra
    # shuffle of the candidate set, the largest relation in the query
    w = Window.partitionBy("_qid").orderBy(F.asc("dist2"), F.asc("_pid"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(query_id),
            F.col("_pid").alias(point_id),
            "dist2",
            "rank",
        )
    )
