"""Hierarchical spatial cell index (S2-style, 64-bit, pure bit math).

Semantics mirror the reference's S2 usage — point -> cell at level L
(/root/reference/osms2split/src/s2splitter.cpp:96-105), cell -> parent by
trailing-bit arithmetic (/root/reference/s2util/s2util.h:68-77), cell ->
center/corners (/root/reference/s2util/s2util.h:38-66), hex id round-trip
(/root/reference/s2util/s2util.h:79-92) — re-derived from scratch on a single
Web-Mercator face (no native s2 lib in the sandbox).

Layout (61 significant bits, always positive in int64):

    id = (morton_L << (2*(30-L) + 1)) | (1 << (2*(30-L)))

where ``morton_L`` interleaves the level-L tile coordinates x (even bits) and
y (odd bits). Exactly as in S2, the lowest set bit encodes the level, parents
are prefix-truncations, and every descendant of ``c`` lies in
``[c - lsb(c) + 1, c + lsb(c) - 1]`` — so containment tests become *range
predicates on a long column* and equality-after-indexing drives the spatial
join (SURVEY.md §2 G10).

Three interchangeable backends, parity-tested against each other:

* ``cell_col`` — pure Catalyst column expressions (JVM, whole-stage codegen);
  the hot path.
* ``cell_ids_np`` — vectorized numpy (int64 bit ops), exposed as an
  Arrow-batched pandas UDF for pipelines that are already in pandas space.
* ``cell_sql`` — an ANSI-ish SQL string for the DuckDB correctness oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geoutils_spark.constants import MAX_CELL_LEVEL, MERC_LAT_MAX

# Bit-spread (Morton / Z-order) constants.
#
# The *encode* direction uses a multiplication-based nibble interleave (in
# the style of Bit Twiddling Hacks' "Interleave bits by multiplication", but
# 4 bits at a time so every intermediate stays < 2^25 — safe under Spark's
# ANSI overflow checking): s4(b) = (((b*0x1111) & 0x8421) * 0x249 >> 9) & 0x55
# places nibble bit i at position 2i, and each step references its input
# exactly ONCE. The classic OR-ladder ((x | x<<s) & m) references its child
# twice per step — under predicate-pushdown inlining that doubles the
# Catalyst tree per step (2^5 per spread) and can OOM the optimizer on deep
# pipelines, so the ladder is reserved for the SQL oracle dialect and numpy.

# OR-ladder masks (kept for the SQL oracle dialect, where expression size is
# irrelevant and unsigned shifts are awkward).
_SPREAD = [
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
]
# Reverse (compact) masks.
_COMPACT = [
    (1, 0x3333333333333333),
    (2, 0x0F0F0F0F0F0F0F0F),
    (4, 0x00FF00FF00FF00FF),
    (8, 0x0000FFFF0000FFFF),
    (16, 0x00000000FFFFFFFF),
]


# ---------------------------------------------------------------------------
# Column-expression backend (hot path — stays inside whole-stage codegen)
#
# NOTE ON EXPRESSION SIZE: every bit-spread/compact step references its child
# twice, so composing these Column helpers on top of *other big expressions*
# doubles the Catalyst tree per step (2^5x per spread). Pass plain column
# attributes in, or use the `with_*` DataFrame transformers below, which
# materialize each step as its own projection: CollapseProject keeps
# non-cheap multi-use producers separate, and whole-stage codegen evaluates
# each step once into a local — the right physical shape at any scale.
# ---------------------------------------------------------------------------

def _spread4_col(nib: Column) -> Column:
    """Spread one nibble so bit i lands at bit 2i (multiply trick)."""
    v = (nib * F.lit(0x1111)).bitwiseAND(F.lit(0x8421))
    return F.shiftright(v * F.lit(0x249), 9).bitwiseAND(F.lit(0x55))


def _spread_col(c: Column) -> Column:
    """Spread the low 30 bits of ``c`` so bit i lands at bit 2i.

    Eight independent nibble spreads OR'd together: the input column is
    referenced 8 times total (vs 2^5 compounding for the OR-ladder), keeping
    Catalyst trees linear under pushdown inlining."""
    out = _spread4_col(c.bitwiseAND(F.lit(15)))
    for k in range(1, 8):
        nib = F.shiftright(c, 4 * k).bitwiseAND(F.lit(15))
        out = out.bitwiseOR(F.shiftleft(_spread4_col(nib), 8 * k))
    return out


def _compact_col(c: Column) -> Column:
    """Inverse of ``_spread_col``: gather even bits back down."""
    c = c.bitwiseAND(F.lit(0x5555555555555555))
    for shift, mask in _COMPACT:
        c = (c.bitwiseOR(F.shiftright(c, shift))).bitwiseAND(F.lit(mask))
    return c


def lon_to_unit_col(lon: Column) -> Column:
    """lon degrees -> u in [0,1) (Web-Mercator x)."""
    return (lon + F.lit(180.0)) / F.lit(360.0)


def lat_to_unit_col(lat: Column) -> Column:
    """lat degrees -> v in [0,1) (Web-Mercator y, north -> 0).

    Uses ln(tan r + 1/cos r) (== asinh(tan r)) so the DuckDB oracle can
    evaluate the *identical* formula (DuckDB lacks asinh).
    """
    clamped = F.least(F.greatest(lat, F.lit(-MERC_LAT_MAX)), F.lit(MERC_LAT_MAX))
    r = F.radians(clamped)
    merc = F.log(F.tan(r) + F.lit(1.0) / F.cos(r))
    return (F.lit(1.0) - merc / F.lit(float(np.pi))) / F.lit(2.0)


def _unit_to_tile_col(u: Column, level: int) -> Column:
    n = 1 << level
    t = F.floor(u * F.lit(float(n))).cast("long")
    return F.least(F.greatest(t, F.lit(0)), F.lit(n - 1))


def tile_xy_col(lon: Column, lat: Column, level: int) -> tuple[Column, Column]:
    """Slippy-map tile (x, y) at ``level`` — same Mercator math the reference
    uses for projection (/root/reference/osm2assimp/convertlatlng.cpp:27-35)."""
    return (
        _unit_to_tile_col(lon_to_unit_col(lon), level),
        _unit_to_tile_col(lat_to_unit_col(lat), level),
    )


def cell_from_tile_col(x: Column, y: Column, level: int) -> Column:
    """Encode level-``level`` tile coords into a cell id."""
    morton = _spread_col(x).bitwiseOR(F.shiftleft(_spread_col(y), 1))
    s = 2 * (MAX_CELL_LEVEL - level)
    return F.shiftleft(morton, s + 1).bitwiseOR(F.lit(1 << s))


def cell_col(lon: Column, lat: Column, level: int) -> Column:
    """Point -> cell id at ``level`` (reference F11 analog,
    /root/reference/osms2split/src/s2splitter.cpp:96-105)."""
    x, y = tile_xy_col(lon, lat, level)
    return cell_from_tile_col(x, y, level)


def cell_lsb_col(cell: Column) -> Column:
    """Lowest set bit of a cell id (encodes its level)."""
    return cell.bitwiseAND(-cell)


def cell_parent_col(cell: Column, level: int) -> Column:
    """Parent at coarser ``level`` — trailing-bit truncation, exactly the
    reference's S2CellId::parent semantics (/root/reference/s2util/s2util.h:68-77)."""
    new_lsb = 1 << (2 * (MAX_CELL_LEVEL - level))
    return cell.bitwiseAND(F.lit(-new_lsb)).bitwiseOR(F.lit(new_lsb))


def cell_range_col(cell: Column) -> tuple[Column, Column]:
    """[range_min, range_max] spanning every descendant of ``cell`` —
    containment as a sargable range predicate."""
    lsb = cell_lsb_col(cell)
    return cell - lsb + F.lit(1), cell + lsb - F.lit(1)


def cell_level_col(cell: Column) -> Column:
    """Recover the level from the trailing-zero count."""
    # log2 of a power of two is exact in double for 2^0..2^60.
    tz = F.floor(F.log2(cell_lsb_col(cell).cast("double"))).cast("int")
    return (F.lit(MAX_CELL_LEVEL) - tz / F.lit(2)).cast("int")


def cell_to_tile_col(cell: Column, level: int) -> tuple[Column, Column]:
    """Cell id -> level-L tile coords (must be the cell's own level)."""
    s = 2 * (MAX_CELL_LEVEL - level)
    pos = F.shiftright(cell, s + 1)
    return _compact_col(pos), _compact_col(F.shiftright(pos, 1))


def cell_center_col(cell: Column, level: int) -> tuple[Column, Column]:
    """Cell center (lon, lat) — reference s2util 'center' op
    (/root/reference/s2util/s2util.h:38-47)."""
    x, y = cell_to_tile_col(cell, level)
    n = float(1 << level)
    u = (x.cast("double") + F.lit(0.5)) / F.lit(n)
    v = (y.cast("double") + F.lit(0.5)) / F.lit(n)
    lon = u * F.lit(360.0) - F.lit(180.0)
    lat = F.degrees(F.atan(F.sinh(F.lit(float(np.pi)) * (F.lit(1.0) - F.lit(2.0) * v))))
    return lon, lat


def cell_corners_col(cell: Column, level: int) -> Column:
    """Cell -> array of 4 corner structs (lon, lat), CCW from NW —
    reference s2util 'corners' op (/root/reference/s2util/s2util.h:49-66)."""
    x, y = cell_to_tile_col(cell, level)
    n = float(1 << level)

    def corner(dx: int, dy: int) -> Column:
        u = (x.cast("double") + F.lit(float(dx))) / F.lit(n)
        v = (y.cast("double") + F.lit(float(dy))) / F.lit(n)
        lon = u * F.lit(360.0) - F.lit(180.0)
        lat = F.degrees(
            F.atan(F.sinh(F.lit(float(np.pi)) * (F.lit(1.0) - F.lit(2.0) * v)))
        )
        return F.struct(lon.alias("lon"), lat.alias("lat"))

    return F.array(corner(0, 0), corner(0, 1), corner(1, 1), corner(1, 0))


def cell_to_hex_col(cell: Column) -> Column:
    """Cell id -> 16-char lowercase hex token, the reference's `s2_<hex16>`
    filename scheme (/root/reference/osms2split/src/s2splitter.cpp:60-72)."""
    return F.lpad(F.lower(F.hex(cell)), 16, "0")


def hex_to_cell_col(hexstr: Column) -> Column:
    """Hex token -> cell id; right-pads short tokens with zeros exactly like
    the reference parser (/root/reference/s2util/s2util.h:79-92)."""
    return F.conv(F.rpad(hexstr, 16, "0"), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# DataFrame transformers — stepwise materialization (bounded expression size)
# ---------------------------------------------------------------------------

def _with_spread(df: DataFrame, src: str, out: str) -> DataFrame:
    """Bit-spread ``src`` into ``out`` via one small projection per step."""
    df = df.withColumn(out, F.col(src))
    for shift, mask in _SPREAD:
        c = F.col(out)
        df = df.withColumn(out, (c.bitwiseOR(F.shiftleft(c, shift))).bitwiseAND(F.lit(mask)))
    return df


def _with_compact(df: DataFrame, src: str, out: str) -> DataFrame:
    df = df.withColumn(out, F.col(src).bitwiseAND(F.lit(0x5555555555555555)))
    for shift, mask in _COMPACT:
        c = F.col(out)
        df = df.withColumn(out, (c.bitwiseOR(F.shiftright(c, shift))).bitwiseAND(F.lit(mask)))
    return df


def with_tile_xy(df: DataFrame, lon: str, lat: str, level: int,
                 x: str = "tile_x", y: str = "tile_y") -> DataFrame:
    """Add slippy tile coords at ``level`` as columns ``x``/``y``."""
    df = df.withColumn("__u", lon_to_unit_col(F.col(lon)))
    df = df.withColumn("__v", lat_to_unit_col(F.col(lat)))
    df = df.withColumn(x, _unit_to_tile_col(F.col("__u"), level))
    df = df.withColumn(y, _unit_to_tile_col(F.col("__v"), level))
    return df.drop("__u", "__v")


def with_cell_from_tile(df: DataFrame, x: str, y: str, level: int, out: str) -> DataFrame:
    df = _with_spread(df, x, "__sx")
    df = _with_spread(df, y, "__sy")
    s = 2 * (MAX_CELL_LEVEL - level)
    morton = F.col("__sx").bitwiseOR(F.shiftleft(F.col("__sy"), 1))
    df = df.withColumn(out, F.shiftleft(morton, s + 1).bitwiseOR(F.lit(1 << s)))
    return df.drop("__sx", "__sy")


def with_cell(df: DataFrame, lon: str, lat: str, level: int, out: str = "cell_id",
              keep_tile_xy: tuple[str, str] | None = None) -> DataFrame:
    """Point -> cell id, materialized stepwise (the production encoder).

    ``keep_tile_xy=(xname, yname)`` also retains the level-``level`` tile
    coords — operators that later need the cell's grid position (neighbor
    rings, centers) should keep them instead of decoding the id (decode is the
    one remaining OR-ladder and belongs on cold paths only)."""
    x, y = keep_tile_xy if keep_tile_xy else ("__tx", "__ty")
    df = with_tile_xy(df, lon, lat, level, x, y)
    df = with_cell_from_tile(df, x, y, level, out)
    return df if keep_tile_xy else df.drop(x, y)


def with_cell_tile_xy(df: DataFrame, cell: str, level: int,
                      x: str = "tile_x", y: str = "tile_y") -> DataFrame:
    """Decode a cell-id column back to its level-``level`` tile coords."""
    s = 2 * (MAX_CELL_LEVEL - level)
    df = df.withColumn("__pos", F.shiftright(F.col(cell), s + 1))
    df = _with_compact(df, "__pos", x)
    df = df.withColumn("__pos2", F.shiftright(F.col("__pos"), 1))
    df = _with_compact(df, "__pos2", y)
    return df.drop("__pos", "__pos2")


def with_neighbor_cells(df: DataFrame, cell: str, level: int, out: str = "nb_cells",
                        ring: int = 1) -> DataFrame:
    """Materialize the neighborhood cell array (decode once, 9 re-encodes on
    attribute inputs — bounded tree)."""
    df = with_cell_tile_xy(df, cell, level, "__nx", "__ny")
    df = df.withColumn(out, neighbor_cells_from_tile_col(F.col("__nx"), F.col("__ny"), level, ring))
    return df.drop("__nx", "__ny")


def neighbor_cells_from_tile_col(x: Column, y: Column, level: int, ring: int = 1) -> Column:
    n = 1 << level
    out = []
    for dx in range(-ring, ring + 1):
        for dy in range(-ring, ring + 1):
            nx = F.pmod(x + F.lit(dx), F.lit(n))
            ny = y + F.lit(dy)
            cellc = cell_from_tile_col(nx, ny, level)
            out.append(
                F.when((ny >= 0) & (ny < n), cellc).otherwise(F.lit(None).cast("long"))
            )
    return F.array_compact(F.array(*out))


def with_cell_center(df: DataFrame, cell: str, level: int,
                     lon: str = "center_lon", lat: str = "center_lat") -> DataFrame:
    df = with_cell_tile_xy(df, cell, level, "__cx", "__cy")
    n = float(1 << level)
    u = (F.col("__cx").cast("double") + F.lit(0.5)) / F.lit(n)
    v = (F.col("__cy").cast("double") + F.lit(0.5)) / F.lit(n)
    df = df.withColumn(lon, u * F.lit(360.0) - F.lit(180.0))
    df = df.withColumn(
        lat, F.degrees(F.atan(F.sinh(F.lit(float(np.pi)) * (F.lit(1.0) - F.lit(2.0) * v))))
    )
    return df.drop("__cx", "__cy")


# ---------------------------------------------------------------------------
# numpy backend (Arrow-batched pandas UDFs)
# ---------------------------------------------------------------------------

def _spread_np(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.int64)
    for shift, mask in _SPREAD:
        v = (v | (v << shift)) & mask
    return v


def _compact_np(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.int64) & 0x5555555555555555
    for shift, mask in _COMPACT:
        v = (v | (v >> shift)) & mask
    return v


def lonlat_to_unit_np(lon: np.ndarray, lat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    lat = np.clip(lat, -MERC_LAT_MAX, MERC_LAT_MAX)
    u = (lon + 180.0) / 360.0
    r = np.radians(lat)
    v = (1.0 - np.log(np.tan(r) + 1.0 / np.cos(r)) / np.pi) / 2.0
    return u, v


def tile_xy_np(lon: np.ndarray, lat: np.ndarray, level: int) -> tuple[np.ndarray, np.ndarray]:
    n = 1 << level
    u, v = lonlat_to_unit_np(np.asarray(lon, float), np.asarray(lat, float))
    x = np.clip(np.floor(u * n).astype(np.int64), 0, n - 1)
    y = np.clip(np.floor(v * n).astype(np.int64), 0, n - 1)
    return x, y


def cell_from_tile_np(x: np.ndarray, y: np.ndarray, level: int) -> np.ndarray:
    morton = _spread_np(x) | (_spread_np(y) << 1)
    s = 2 * (MAX_CELL_LEVEL - level)
    return (morton << (s + 1)) | (1 << s)


def cell_ids_np(lon: np.ndarray, lat: np.ndarray, level: int) -> np.ndarray:
    x, y = tile_xy_np(lon, lat, level)
    return cell_from_tile_np(x, y, level)


def cell_to_tile_np(cell: np.ndarray, level: int) -> tuple[np.ndarray, np.ndarray]:
    s = 2 * (MAX_CELL_LEVEL - level)
    pos = np.asarray(cell, np.int64) >> (s + 1)
    return _compact_np(pos), _compact_np(pos >> 1)


def cell_parent_np(cell: np.ndarray, level: int) -> np.ndarray:
    cell = np.asarray(cell, np.int64)
    new_lsb = np.int64(1 << (2 * (MAX_CELL_LEVEL - level)))
    return (cell & -new_lsb) | new_lsb


def make_cell_udf(level: int):
    """Pandas-UDF form of the encoder: (lon, lat) -> cell id. Arrow-batched
    numpy bit math — no per-row Python (BASELINE.json hot-path constraint)."""

    @F.pandas_udf(T.LongType())
    def cell_udf(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(cell_ids_np(lon.to_numpy(), lat.to_numpy(), level))

    return cell_udf


# ---------------------------------------------------------------------------
# SQL-text backend (DuckDB oracle). Emits the *same arithmetic* as the column
# backend so floor/ln boundary behavior matches bit-for-bit at sane levels.
# ---------------------------------------------------------------------------

def _spread_sql(e: str) -> str:
    for shift, mask in _SPREAD:
        e = f"((({e}) | (({e}) << {shift})) & {mask})"
    return e


def lon_to_unit_sql(lon: str) -> str:
    return f"((({lon}) + 180.0) / 360.0)"


def lat_to_unit_sql(lat: str) -> str:
    clamped = f"LEAST(GREATEST(({lat}), {-MERC_LAT_MAX}), {MERC_LAT_MAX})"
    r = f"RADIANS({clamped})"
    return f"((1.0 - LN(TAN({r}) + 1.0 / COS({r})) / PI()) / 2.0)"


def tile_x_sql(lon: str, level: int) -> str:
    n = 1 << level
    return (
        f"LEAST(GREATEST(CAST(FLOOR({lon_to_unit_sql(lon)} * {n}.0) AS BIGINT), 0), {n - 1})"
    )


def tile_y_sql(lat: str, level: int) -> str:
    n = 1 << level
    return (
        f"LEAST(GREATEST(CAST(FLOOR({lat_to_unit_sql(lat)} * {n}.0) AS BIGINT), 0), {n - 1})"
    )


def cell_sql(lon: str, lat: str, level: int) -> str:
    """Full point->cell encoder as one SQL expression (DuckDB dialect)."""
    x = tile_x_sql(lon, level)
    y = tile_y_sql(lat, level)
    return cell_from_tile_sql(x, y, level)


def cell_from_tile_sql(x: str, y: str, level: int) -> str:
    """Tile (x, y) -> cell id (DuckDB twin of cell_from_tile_col) —
    pure integer bit math, for oracles that enumerate tiles directly."""
    morton = f"({_spread_sql(x)} | ({_spread_sql(y)} << 1))"
    s = 2 * (MAX_CELL_LEVEL - level)
    return f"((({morton}) << {s + 1}) | {1 << s})"


# ---------------------------------------------------------------------------
# Bing/Azure quadkeys — base-4 Morton interop
# ---------------------------------------------------------------------------

def quadkey_col(lon: Column, lat: Column, level: int) -> Column:
    """Bing-style quadkey (base-4 Morton string, digit = y_bit<<1 | x_bit
    — exactly this module's cell bit order, so a quadkey is the cell id's
    Morton rendered base-4): the interop key for Bing/Azure Maps tile
    URLs. Prefix-nesting for free (parent = substring), like geohash."""
    if not 1 <= level <= 23:
        raise ValueError(f"quadkey level in [1, 23] required, got {level}")
    x, y = tile_xy_col(lon, lat, level)
    morton = _spread_col(x).bitwiseOR(F.shiftleft(_spread_col(y), 1))
    return F.lpad(F.conv(morton.cast("string"), 10, 4), level, "0")


def quadkey_sql(x_col: str, y_col: str, level: int) -> str:
    """DuckDB twin over STAGED tile columns (the spread macro expands its
    argument ~2^5 times — stage x/y in a CTE)."""
    morton = f"({_spread_sql(x_col)} | ({_spread_sql(y_col)} << 1))"
    return f"lpad(to_base({morton}, 4), {level}, '0')"
