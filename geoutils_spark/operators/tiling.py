"""Tile and cell assignment.

The engine's analog of osms2split: every record is assigned its level-L cell
(file naming `s2_<hex16>`, /root/reference/osms2split/src/s2splitter.cpp:60-72)
and its slippy z/x/y map tiles (same Mercator math the reference uses to
project geometry, /root/reference/osm2assimp/convertlatlng.cpp:27-35).
The per-cell partitioned sink is ``sources.sinks.write_partitioned_by_cell``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geoutils_spark.functions import cells as C


def with_tiles(df: DataFrame, lon: str, lat: str, zooms: tuple = (10, 14, 16)) -> DataFrame:
    """Add tile_z{z}_x / tile_z{z}_y columns for each zoom."""
    for z in zooms:
        df = C.with_tile_xy(df, lon, lat, z, f"tile_z{z}_x", f"tile_z{z}_y")
    return df


def with_cell_assignment(df: DataFrame, lon: str, lat: str, level: int,
                         parent_level: int | None = None) -> DataFrame:
    """cell_id + cell_token (`s2_<hex16>`-style) + optional coarser parent."""
    df = C.with_cell(df, lon, lat, level, "cell_id")
    df = df.withColumn("cell_token",
                       F.concat(F.lit("s2_"), C.cell_to_hex_col(F.col("cell_id"))))
    if parent_level is not None:
        df = df.withColumn("cell_parent",
                           C.cell_parent_col(F.col("cell_id"), parent_level))
    return df

