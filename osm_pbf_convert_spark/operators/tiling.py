"""Raster / vector tiling: heat-map grid counts, per-zoom tile counts, and a
hierarchical tile pyramid (zooms 0-15).

- heat map (``OSM-pbf-convert/HeatMapProcessor.cs:24-47``): fixed
  16384x32768 grid, ``row=(uint)(ilat+int.MaxValue)>>18``,
  ``col=(uint)(ilon+int.MaxValue)>>17`` -- one groupBy/count, bit-exact
  cell math via ``heat_row_col``/``heat_col_col``.
- windowed tile counts: per-(event-time window, zoom-z tile) counts
  over geo-tagged events.
- tile pyramid (north rule raster<->vector, zooms 0-15): aggregate ONCE at
  the finest zoom, then roll coarser levels up from the previous level
  (``tile_{z-1} = tile_z >> 2``). Each rollup shuffles only the previous
  level's aggregate (<= 4^z rows), never the input -- at 100 TB the input
  is scanned exactly once for all 16 zoom levels.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_pbf_convert_spark.codecs import decode_varints_msb

from osm_pbf_convert_spark.functions.cells import (
    heat_col_col,
    heat_row_col,
    morton_cell_col,
    tile_col,
)


def heat_map(nodes: DataFrame) -> DataFrame:
    """(row, col, cnt) counts on the reference's fixed raster grid."""
    return (
        nodes.groupBy(
            heat_row_col(F.col("ilat")).alias("row"),
            heat_col_col(F.col("ilon")).alias("col"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def tile_counts(nodes: DataFrame, z: int) -> DataFrame:
    """(tile, cnt) at zoom z from ilat/ilon via the Morton cell prefix."""
    cell = morton_cell_col(F.col("ilat"), F.col("ilon"))
    return nodes.groupBy(tile_col(cell, z).alias("tile")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def windowed_tile_counts(points: DataFrame, z: int = 8, window: str = "1 hour") -> DataFrame:
    """points(ts, ilat, ilon) -> (window_start, tile, cnt): per event-time
    window counts at zoom z (the ``tile_windows`` catalog query)."""
    cell = morton_cell_col(F.col("ilat"), F.col("ilon"))
    return (
        points.groupBy(
            F.window("ts", window).alias("w"), tile_col(cell, z).alias("tile")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"), "tile", "cnt"
        )
    )


def tile_pyramid(nodes: DataFrame, max_z: int = 15, min_z: int = 0) -> DataFrame:
    """(z, tile, cnt) for all zooms in [min_z, max_z], rolled up from the
    finest zoom.

    Round-7 rework (previously GROUPING SETS): the old plan's Expand
    multiplied every INPUT row by the level count before the partial
    aggregate -- 16x the node rows flowing into hash aggregation, the
    single most expensive e2e stage at bench scale and 16x wasted work at
    100 TB node counts. Now the input is aggregated ONCE at ``max_z``
    (plain groupBy -- map-side combine, one shuffle of per-partition
    distinct finest tiles), and every coarser zoom is derived by
    truncating the finest tile's Morton prefix (``tile_z >> 2*(max_z-z)``)
    and re-aggregating the FINEST COUNTS -- the Expand now multiplies the
    (much smaller) finest aggregate, not the input. One input scan for
    all 16 levels (plan-pinned); the second shuffle carries levels x
    finest-tile partials, bounded by the pyramid size, never by input
    rows.

    (min_z == 0 still yields tile 0 = global count, from the same rollup.)
    """
    if not 0 <= min_z <= max_z <= 15:
        raise ValueError("need 0 <= min_z <= max_z <= 15")
    cell = morton_cell_col(F.col("ilat"), F.col("ilon"))
    finest = nodes.groupBy(tile_col(cell, max_z).alias("tile")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return pyramid_from_finest(finest, max_z, min_z)


def pyramid_from_finest(finest: DataFrame, max_z: int, min_z: int = 0) -> DataFrame:
    """(z, tile, cnt) for all zooms in [min_z, max_z], derived from a
    finest-zoom aggregate ``(tile, cnt)`` at ``max_z`` by truncating the
    Morton prefix and re-aggregating. Input is the (small) tile table, so
    this is also the per-micro-batch rollup step of the streaming pipeline
    (streaming/pipeline.py), where the finest counts are the running
    stateful aggregate."""
    zooms = list(range(min_z, max_z + 1))
    levels = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(z).alias("z"),
                    F.shiftrightunsigned(F.col("tile"), 2 * (max_z - z)).alias("tile"),
                )
                for z in zooms
            ]
        )
    )
    return (
        finest.select(levels.alias("e"), "cnt")
        .groupBy(F.col("e.z").alias("z"), F.col("e.tile").alias("tile"))
        .agg(F.sum("cnt").alias("cnt"))
    )


def export_heat_map_bytes(heat_df, rows: int = 16384, cols: int = 32768) -> bytes:
    """Serialize a heat-map count grid in the REFERENCE'S binary format:
    MSB-first 7-bit varint per cell, row-major, zeros included
    (``HeatMapProcessor.Finish``: Write7BitEncodedInt over int[16384,32768]).

    Driver-side materialization of the (sparse) aggregate into the dense
    dump -- intended for bounded grids / cropped regions; the full global
    grid at reference dimensions is a ~0.5 GB artifact: use the
    distributed band sink (``heat_map_bands`` / ``write_heat_map_file``
    below, byte-identical by golden test) for it. Kept as the golden the
    band sink is tested against.
    """
    from osm_pbf_convert_spark.codecs import encode_varints_msb

    cells = heat_df.select("row", "col", "cnt").toArrow()
    grid = np.zeros((rows, cols), dtype=np.int64)
    grid[cells.column("row").to_numpy(), cells.column("col").to_numpy()] = (
        cells.column("cnt").to_numpy()
    )
    return encode_varints_msb(grid.ravel().tolist())


def heat_map_bands(
    heat_df: DataFrame, rows: int = 16384, cols: int = 32768, band_rows: int = 512,
    on_out_of_range: str = "error",
) -> DataFrame:
    """Distributed encoder for the reference heat-map byte format: the grid
    is split into ``rows/band_rows`` horizontal bands, each band encoded to
    its exact byte slice ON AN EXECUTOR (vectorized MSB-varint, zeros
    included). Returns (band, n_bytes, data binary), range-partitioned
    and in band order; concatenating ``data`` in band order is byte-equal
    to ``export_heat_map_bytes`` of the whole grid -- without ever
    materializing the ~0.5 GB dense dump on the driver (the full-grid
    scale path the driver-side export is not).

    Empty bands are preserved (all-zero slices) via a range outer-join, so
    the band set is always complete.

    ``on_out_of_range``: "error" (default) fails the job if any cell falls
    outside [0, rows) x [0, cols) -- silently dropping cells would make
    the byte dump LOOK complete while under-counting; "drop" restores the
    old filter semantics for callers that crop a larger grid on purpose.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    from osm_pbf_convert_spark.codecs import encode_varints_msb_np

    if rows % band_rows:
        raise ValueError("band_rows must divide rows")
    if on_out_of_range not in ("error", "drop"):
        raise ValueError("on_out_of_range must be 'error' or 'drop'")
    n_bands = rows // band_rows
    spark = heat_df.sparkSession
    bands = spark.range(n_bands).select(F.col("id").cast("int").alias("band"))
    in_range = (
        (F.col("row") >= 0) & (F.col("row") < rows)
        & (F.col("col") >= 0) & (F.col("col") < cols)
    )
    if on_out_of_range == "drop":
        cells = heat_df.filter(in_range).withColumn(
            "band", (F.col("row") / band_rows).cast("int")
        )
    else:
        # out-of-range cells land in sentinel band -1 and fail the encode
        # task with a counted error (no extra pre-scan action needed)
        cells = heat_df.withColumn(
            "band", F.when(in_range, (F.col("row") / band_rows).cast("int")).otherwise(F.lit(-1))
        )
    full = bands.join(cells, "band", "left")
    if on_out_of_range == "error":
        full = full.unionByName(cells.filter(F.col("band") == -1))

    out_schema = pa.schema([("band", pa.int32()), ("n_bytes", pa.int64()),
                            ("data", pa.binary())])

    def encode_band(tbl: pa.Table) -> pa.Table:
        band = tbl.column("band")[0].as_py()
        if band < 0:
            bad = tbl.select(["row", "col"]).slice(0, 3).to_pylist()
            raise ValueError(
                f"heat_map_bands: {tbl.num_rows} cell(s) outside [0,{rows})x[0,{cols}), "
                f"e.g. {bad}; pass on_out_of_range='drop' to crop"
            )
        grid = np.zeros((band_rows, cols), dtype=np.int64)
        hit = tbl.filter(pc.is_valid(tbl.column("row")))
        if hit.num_rows:
            r, c, n = (hit.column(k).to_numpy().astype(np.int64) for k in ("row", "col", "cnt"))
            grid[r - band * band_rows, c] = n
        data = encode_varints_msb_np(grid.ravel())
        return pa.table({"band": [band], "n_bytes": [len(data)], "data": [data]},
                        schema=out_schema)

    # range-partitioned by band, so the grouped output comes back in
    # band order (the sink streams it without another sort)
    return full.repartitionByRange(n_bands, "band").groupBy("band").applyInArrow(
        encode_band, schema="band int, n_bytes long, data binary"
    )


def read_heat_map_file(
    spark, path: str, rows: int = 16384, cols: int = 32768,
    split_bytes: int = 32 * 1024 * 1024, sparse: bool = True,
) -> DataFrame:
    """Distributed reader for a reference ``.heat.map`` file -> DataFrame
    (row, col, cnt), the inverse of ``write_heat_map_file``.

    The format is a dense row-major run of rows*cols MSB varints with no
    index, so a byte split cannot know its starting CELL index locally.
    Two distributed passes fix that (the same trick Spark's text source
    uses for line offsets): pass 1 counts varint ends (bytes < 0x80) per
    byte range -- one vectorized popcount per split -- and a driver
    prefix-sum turns the counts into each split's absolute cell offset;
    pass 2 decodes each range (a varint belongs to the split where it
    ENDS; up to 9 continuation bytes are re-read from before the range
    start) and emits cells at offset + arange. ``sparse=True`` drops
    zero cells executor-side, so the returned frame is aggregate-sized,
    not grid-sized. Total varint count is validated against rows*cols.
    Kept as the read direction that round-trips the heat-map writer.
    """
    import pyarrow as pa

    from osm_pbf_convert_spark.sources import fsio
    from osm_pbf_convert_spark.sources.byterange import scan_ranges

    size = fsio.file_size(path)
    starts = np.arange(0, max(size, 1), split_bytes, dtype=np.int64)
    ends = np.minimum(starts + split_bytes, size)

    def count_ends(start, end):
        with fsio.open_seekable(path) as f:
            f.seek(start)
            b = np.frombuffer(f.read(end - start), dtype=np.uint8)
        yield pa.RecordBatch.from_pydict({"start": [start], "n_vals": [int((b < 0x80).sum())]})

    splits = pa.table({"start": starts, "end": ends})
    counts = dict(scan_ranges(spark, splits, count_ends, "start long, n_vals long").collect())
    n_vals = np.array([counts[s] for s in starts.tolist()], dtype=np.int64)
    if int(n_vals.sum()) != rows * cols:
        raise ValueError(f"{path}: {int(n_vals.sum())} varints, expected {rows * cols}")

    def decode(start, end, cell_off):
        back = min(start, 9)  # a uint64 varint is <= 10 bytes
        with fsio.open_seekable(path) as f:
            f.seek(start - back)
            b = np.frombuffer(f.read(back + end - start), dtype=np.uint8)
        ends = np.nonzero(b < 0x80)[0]
        # first varint ending at/after start: may START before it --
        # include its continuation bytes from the backread
        first_end = int(np.searchsorted(ends, back))
        if first_end == ends.size:
            return  # no varint ends in this range
        begin = 0 if first_end == 0 else int(ends[first_end - 1]) + 1
        last = int(ends[np.searchsorted(ends, b.size) - 1])
        vals = decode_varints_msb(b[begin:last + 1])
        idx = cell_off + np.arange(vals.size, dtype=np.int64)
        if sparse:
            keep = vals != 0
            vals, idx = vals[keep], idx[keep]
        yield pa.RecordBatch.from_pydict({
            "row": (idx // cols).astype(np.int32),
            "col": (idx % cols).astype(np.int32),
            "cnt": vals.astype(np.int64),
        })

    offsets = pa.table({"start": starts, "end": ends, "cell_off": np.cumsum(n_vals) - n_vals})
    return scan_ranges(spark, offsets, decode, "row int, col int, cnt long")


def write_heat_map_file(heat_df: DataFrame, out_file: str, rows: int = 16384,
                        cols: int = 32768, band_rows: int = 512) -> int:
    """Assemble the reference ``.heat.map`` byte stream: bands encode in
    parallel on executors; the driver only streams the (already encoded)
    slices, in band order, into an ``fsio`` output
    (``byterange.sink_segments``: local paths and Arrow-native
    object-store URIs). Returns total bytes written."""
    from osm_pbf_convert_spark.sources.byterange import sink_segments

    total = 0
    with sink_segments(heat_map_bands(heat_df, rows, cols, band_rows), "band", out_file) as (
        bands, (out,)
    ):
        for r in bands:
            out.write(r["data"])
            total += len(r["data"])
    return total
