"""Seeded parquet inputs and their expected answers.

The program under test only ever sees the parquet files written here. The
seed-independent parts are written once per cache by a short, untimed Spark
step: the html of ``fixtures.pages_df`` (its ``text`` column dropped) and
the 18 fixture buildings of ``fixtures.polygons_df``. DuckDB writes the
seeded input files from them. The expected values are computed once per
input, by DuckDB (the same bbox oracle the ``geo_spatial_join`` registry
entry uses, plus the SQL twins of the tile math) and by the reference text
extractor, and cached as JSON next to the input.

The seed offsets the integer keys that coordinates are derived from
(``functions.keys``), and with them the hot key of ``tile_write``; html
depends on ``page_id`` only, so the reference text sizes are computed once
per size.
"""

from __future__ import annotations

import json
import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from geoutils_spark.functions import cells as C
from geoutils_spark.functions import keys as K
from geoutils_spark.functions.textextract import extract_text_series_v1_reference
from geoutils_spark.queries import _grid_sql
from geoutils_spark.sources import fixtures

# Bumped whenever generated bytes or expected values change meaning, so a
# stale cache is never read.
INPUT_VERSION = 3

# A country-sized box (England and Wales) for the write workload.
COUNTRY_EXTENTS = (-5.7, 50.0, 1.8, 55.8)
HOT_FRACTION = 0.2

# Order-independent integer checksum of (page_id, way_id): way ids of the
# 18 fixture buildings are < 64, so page_id * 64 + way_id is injective; the
# mix keeps each term below 2^31 so the sum cannot overflow at any size
# this benchmark runs.
CHECKSUM_MUL = 2654435761
CHECKSUM_MOD = 2147483647


def key_offset(seed: int) -> int:
    """Seed -> key offset, small enough that key * KEY_MIX stays in int64."""
    return (seed % 100_000) * 10_007


def checksum_sql(page_id: str, way_id: str) -> str:
    return f"((({page_id}) * 64 + ({way_id})) * {CHECKSUM_MUL}) % {CHECKSUM_MOD}"


def _row_group(n: int) -> int:
    # Several row groups per core, so Spark splits the one file across tasks.
    return max(n // 32, 1024)


def _spark_write(df, path: str) -> None:
    tmp = path + ".tmp"
    df.write.mode("overwrite").parquet(tmp)
    os.replace(tmp, path)


def _copy(con, select_sql: str, path: str, n: int) -> None:
    tmp = path + ".tmp"
    con.execute(f"COPY ({select_sql}) TO '{tmp}' "
                f"(FORMAT PARQUET, ROW_GROUP_SIZE {_row_group(n)})")
    os.replace(tmp, path)


class Inputs:
    """Generated files for one (workload, size, seed), under ``root``."""

    def __init__(self, root: str, workload: str, n: int, seed: int):
        self.workload, self.n, self.seed = workload, n, seed
        base = os.path.join(root, f"v{INPUT_VERSION}")
        self.dir = os.path.join(base, f"{workload}-n{n}-s{seed}")
        self.data = os.path.join(self.dir, "input.parquet")
        self.expected_path = os.path.join(self.dir, "expected.json")
        self.buildings = os.path.join(base, "buildings.parquet")
        self.html = os.path.join(base, f"html-n{n}.parquet")
        self.text_sizes = os.path.join(base, f"html-n{n}-text-bytes.parquet")

    def ensure(self, spark_step) -> dict:
        """Write the input and its expected answers unless cached; return
        the expected answers. ``spark_step()`` must call
        ``write_spark_files`` with a SparkSession; it runs only if the
        seed-independent files are missing."""
        if os.path.exists(self.expected_path):
            with open(self.expected_path) as f:
                return json.load(f)
        os.makedirs(self.dir, exist_ok=True)
        if self.workload == "flagship":
            if not (os.path.exists(self.html) and os.path.exists(self.buildings)):
                spark_step()
            if not os.path.exists(self.text_sizes):
                self._write_text_sizes()
        con = duckdb.connect()
        try:
            if self.workload == "flagship":
                expected = self._make_pages(con)
            else:
                expected = self._make_points(con)
        finally:
            con.close()
        expected["input_bytes"] = os.path.getsize(self.data)
        tmp = self.expected_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(expected, f, indent=1, sort_keys=True)
        os.replace(tmp, self.expected_path)
        return expected

    # -- flagship: pages with html ------------------------------------------

    def write_spark_files(self, spark) -> None:
        """The 18 fixture buildings and the html of ``n`` fixture pages."""
        if not os.path.exists(self.buildings):
            _spark_write(fixtures.polygons_df(spark)
                         .filter(F.col("kind") == "building").coalesce(1),
                         self.buildings)
        if not os.path.exists(self.html):
            _spark_write(fixtures.pages_df(spark, self.n).select("page_id", "html"),
                         self.html)

    def _write_text_sizes(self) -> None:
        """The reference extractor's text size of every page."""
        tbl = pq.read_table(self.html)
        text = extract_text_series_v1_reference(tbl.column("html").to_pandas())
        sizes = pd.DataFrame({
            "page_id": tbl.column("page_id").to_numpy(),
            "text_bytes": text.map(lambda t: len(t.encode("utf-8"))).astype("int64"),
        })
        tmp = self.text_sizes + ".tmp"
        sizes.to_parquet(tmp, index=False)
        os.replace(tmp, self.text_sizes)

    def _make_pages(self, con) -> dict:
        html, sizes = f"{self.html}/*.parquet", self.text_sizes
        off = key_offset(self.seed)
        _copy(con, f"SELECT page_id, page_id + {off} AS page_key, html "
                   f"FROM read_parquet('{html}') ORDER BY page_id", self.data, self.n)
        pts = (f"SELECT page_id, {K.key_lon_sql('page_key')} AS lon, "
               f"{K.key_lat_sql('page_key')} AS lat FROM read_parquet('{self.data}')")
        cols = [
            "count(*) AS matched",
            f"sum({checksum_sql('p.page_id', 'g.way_id')}) AS checksum",
            f"sum({C.tile_x_sql('p.lon', 14)}) AS tile_x_sum",
            f"sum({C.tile_y_sql('p.lat', 14)}) AS tile_y_sum",
            "sum(t.text_bytes) AS text_bytes",
        ]
        row = con.execute(f"""
            WITH grid AS ({_grid_sql()})
            SELECT {', '.join(cols)}
            FROM ({pts}) p JOIN grid g
              ON p.lon >= g.minx AND p.lon < g.maxx
             AND p.lat >= g.miny AND p.lat < g.maxy
            JOIN read_parquet('{sizes}') t ON t.page_id = p.page_id
        """).fetchone()
        names = [c.rsplit(" AS ", 1)[1] for c in cols]
        return {"rows": self.n, **{k: int(v) for k, v in zip(names, row)}}

    # -- tile_write: points -------------------------------------------------

    def _make_points(self, con) -> dict:
        off = key_offset(self.seed)
        hot_n = int(self.n * HOT_FRACTION)
        key = f"(CASE WHEN range < {hot_n} THEN 0 ELSE range END + {off})"
        # functions.keys puts lat at a fixed offset from lon, so key -> (lon,
        # lat) traces one diagonal line; a second, mixed key for lat spreads
        # the points over the whole box (56 level-8 partitions, not 15), so
        # the partitions sharing a task with the hot one vary little by seed.
        lat_key = f"(({key} * 1009) % 1000003)"
        ext = COUNTRY_EXTENTS
        _copy(con, f"SELECT range AS page_id, {K.key_lon_sql(key, ext)} AS lon, "
                   f"{K.key_lat_sql(lat_key, ext)} AS lat FROM range({self.n})",
              self.data, self.n)
        pts = f"SELECT page_id, lon, lat FROM read_parquet('{self.data}')"
        # Partition key of the write: the level-8 parent of the level-15
        # cell, i.e. the level-8 tile (tile scaling by 2^k is exact).
        rows = con.execute(f"""
            SELECT count(*), max(n) FROM (
              SELECT count(*) AS n FROM ({pts})
              GROUP BY {C.tile_x_sql('lon', 8)}, {C.tile_y_sql('lat', 8)})
        """).fetchone()
        return {"rows": self.n, "partitions": int(rows[0]),
                "max_partition_rows": int(rows[1])}
