"""Spatial cell / tile functions: int32 quantization, 64-bit Morton cells,
zoom-z tile ids, heat-map raster grid.

Semantics are bit-identical to the reference:

- quantization ``(int)(deg/180*int.MaxValue)`` truncating toward zero
  (reference ``OSM-pbf-convert/Helpers.cs:3-10``);
- Morton cell: lon bits on EVEN positions, lat bits on ODD positions --
  the reference shifts lat left by 1 *before* interleaving
  (``OSM-pbf-convert/NodesIndexBlobProcessor.cs:259-279``). This is an
  idiosyncratic layout; do not swap for a textbook Morton or tile
  assignments drift;
- zoom-z tile id = top 2z bits of the cell (Morton prefix);
- heat-map grid ``row=(uint)(ilat+int.MaxValue)>>18``,
  ``col=(uint)(ilon+int.MaxValue)>>17`` with C# unchecked int32 wraparound
  (``OSM-pbf-convert/HeatMapProcessor.cs:28-29``).

Everything exists in three parallel forms:
1. numpy (used inside Arrow decode UDFs and in tests),
2. PySpark ``Column`` expressions (pure JVM, whole-stage-codegen friendly --
   the hot path; no Python UDF anywhere),
3. ANSI-SQL strings (same arithmetic, runnable by DuckDB for the oracle
   parity checks).

The Column/SQL forms use magic-number bit spreading (5 shift+mask rounds)
instead of the reference's 32-iteration loop -- same function, O(1) depth.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

INT32_MAX = 2147483647
_EVEN_MASK = 0x5555555555555555  # 6148914691236517205
_EVEN_MASK_NO62 = 0x1555555555555555  # even bits 0..60 (drop bit 62)
_BIT63 = -0x8000000000000000

# ---------------------------------------------------------------------------
# numpy forms
# ---------------------------------------------------------------------------


def quantize_np(deg: np.ndarray) -> np.ndarray:
    """deg -> int32, C# truncation toward zero."""
    scaled = np.asarray(deg, dtype=np.float64) / 180.0 * INT32_MAX
    return np.trunc(scaled).astype(np.int64).astype(np.int32)


def _spread_np(x: np.ndarray) -> np.ndarray:
    """Spread the 32 low bits of x to the even bit positions of a uint64."""
    x = np.asarray(x).astype(np.uint64) & np.uint64(0xFFFFFFFF)
    x = (x | (x << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    x = (x | (x << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    x = (x | (x << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    x = (x | (x << np.uint64(2))) & np.uint64(0x3333333333333333)
    x = (x | (x << np.uint64(1))) & np.uint64(0x5555555555555555)
    return x


def _compact_np(x: np.ndarray) -> np.ndarray:
    """Inverse of _spread_np: gather even bits into the low 32 bits."""
    x = np.asarray(x).astype(np.uint64) & np.uint64(0x5555555555555555)
    x = (x | (x >> np.uint64(1))) & np.uint64(0x3333333333333333)
    x = (x | (x >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    x = (x | (x >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    x = (x | (x >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    x = (x | (x >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return x


def morton_cell_np(ilat: np.ndarray, ilon: np.ndarray) -> np.ndarray:
    """64-bit cell, reference layout (lat odd bits / lon even bits).
    Kept as the test oracle of ``morton_cell_col`` / ``morton_cell_sql``.

    Returned as int64 (two's-complement view of the reference's ulong) so it
    round-trips through Spark LongType / Parquet INT64 unchanged.
    """
    ilat = np.asarray(ilat, dtype=np.int64)
    ilon = np.asarray(ilon, dtype=np.int64)
    cell = _spread_np(ilon) | (_spread_np(ilat) << np.uint64(1))
    return cell.astype(np.int64)


def morton_decode_np(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """cell -> (ilat, ilon) int32. Kept as a test oracle: inverts
    ``morton_cell_np`` in the cell round-trip tests."""
    c = np.asarray(cell).astype(np.uint64)
    ilon = _compact_np(c)
    ilat = _compact_np(c >> np.uint64(1))
    return (
        ilat.astype(np.uint32).view(np.int32).astype(np.int32),
        ilon.astype(np.uint32).view(np.int32).astype(np.int32),
    )


def tile_np(cell: np.ndarray, z: int) -> np.ndarray:
    """zoom-z tile id = top 2z bits of the cell (0 <= z <= 15). Kept as
    the test oracle of ``tile_col`` / ``tile_sql``."""
    if z == 0:
        return np.zeros(np.asarray(cell).shape, dtype=np.int64)
    c = np.asarray(cell).astype(np.uint64)
    return (c >> np.uint64(64 - 2 * z)).astype(np.int64)


def heat_cell_np(ilat: np.ndarray, ilon: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Reference heat-map raster grid (16384 x 32768). Kept as the test
    oracle of ``heat_row_col``/``heat_col_col`` and their SQL forms."""
    ilat = np.asarray(ilat, dtype=np.int64)
    ilon = np.asarray(ilon, dtype=np.int64)
    row = ((ilat + INT32_MAX) & 0xFFFFFFFF) >> 18
    col = ((ilon + INT32_MAX) & 0xFFFFFFFF) >> 17
    return row, col


# ---------------------------------------------------------------------------
# PySpark Column forms (pure JVM expressions -- whole-stage codegen)
# ---------------------------------------------------------------------------


def quantize_col(deg: Column) -> Column:
    """deg double -> int32 column with C# truncation-toward-zero. Kept as
    the Column twin that tests check against ``quantize_np``.

    Spark's CAST(double AS long/int) truncates toward zero like C#'s
    ``(int)``, so a plain cast is exact.
    """
    return (deg / F.lit(180.0) * F.lit(float(INT32_MAX))).cast("long").cast("int")


def _spread_col(x: Column) -> Column:
    x = x.cast("long").bitwiseAND(F.lit(0xFFFFFFFF))
    x = (x.bitwiseOR(F.shiftleft(x, 16))).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
    x = (x.bitwiseOR(F.shiftleft(x, 8))).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
    x = (x.bitwiseOR(F.shiftleft(x, 4))).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
    x = (x.bitwiseOR(F.shiftleft(x, 2))).bitwiseAND(F.lit(0x3333333333333333))
    x = (x.bitwiseOR(F.shiftleft(x, 1))).bitwiseAND(F.lit(_EVEN_MASK))
    return x


def morton_cell_col(ilat: Column, ilon: Column) -> Column:
    """Morton cell as a pure Column expression (no UDF).

    The top bit (lat bit 31 -> cell bit 63) is OR'd in separately so every
    intermediate stays non-negative -- the same formulation works verbatim
    in DuckDB SQL (see morton_cell_sql) for oracle parity.
    """
    lon_s = _spread_col(ilon)
    lat_s = _spread_col(ilat)
    low = lon_s.bitwiseOR(F.shiftleft(lat_s.bitwiseAND(F.lit(_EVEN_MASK_NO62)), 1))
    return F.when(ilat < 0, low.bitwiseOR(F.lit(_BIT63))).otherwise(low)


def tile_col(cell: Column, z: int) -> Column:
    """zoom-z tile id: arithmetic shift + mask (identical to logical shift
    of the unsigned cell for z >= 1)."""
    if z == 0:
        return F.lit(0).cast("long")
    if not 1 <= z <= 15:
        raise ValueError("z must be in 0..15")
    return F.shiftright(cell, 64 - 2 * z).bitwiseAND(F.lit((1 << (2 * z)) - 1))


def heat_row_col(ilat: Column) -> Column:
    return F.shiftright(
        (ilat.cast("long") + F.lit(INT32_MAX)).bitwiseAND(F.lit(0xFFFFFFFF)), 18
    )


def heat_col_col(ilon: Column) -> Column:
    return F.shiftright(
        (ilon.cast("long") + F.lit(INT32_MAX)).bitwiseAND(F.lit(0xFFFFFFFF)), 17
    )


# ---------------------------------------------------------------------------
# ANSI-SQL string forms (DuckDB-compatible, for oracle parity)
# ---------------------------------------------------------------------------


def spread_sql(x: str) -> str:
    e = f"(CAST(({x}) AS BIGINT) & 4294967295)"
    e = f"(({e} | ({e} << 16)) & 281470681808895)"
    e = f"(({e} | ({e} << 8)) & 71777214294589695)"
    e = f"(({e} | ({e} << 4)) & 1085102592571150095)"
    e = f"(({e} | ({e} << 2)) & 3689348814741910323)"
    e = f"(({e} | ({e} << 1)) & {_EVEN_MASK})"
    return e


def morton_cell_sql(ilat: str, ilon: str) -> str:
    lon_s = spread_sql(ilon)
    lat_s = spread_sql(ilat)
    low = f"({lon_s} | (({lat_s} & {_EVEN_MASK_NO62}) << 1))"
    return (
        f"(CASE WHEN ({ilat}) < 0 THEN ({low} | (-9223372036854775807 - 1)) "
        f"ELSE {low} END)"
    )


def tile_sql(cell: str, z: int) -> str:
    if z == 0:
        return "CAST(0 AS BIGINT)"
    return f"((({cell}) >> {64 - 2 * z}) & {(1 << (2 * z)) - 1})"


def heat_row_sql(ilat: str) -> str:
    return f"(((CAST(({ilat}) AS BIGINT) + {INT32_MAX}) & 4294967295) >> 18)"


def heat_col_sql(ilon: str) -> str:
    return f"(((CAST(({ilon}) AS BIGINT) + {INT32_MAX}) & 4294967295) >> 17)"
