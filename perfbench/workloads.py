"""The two workloads: what each loads at set-up, what one rep runs, and
how a rep's answer is checked against the expected values in inputs.py.

Each rep is one Spark action (closed loop, one client). ``flagship`` ends
in one aggregate row that carries every column whose work the rep claims;
``tile_write`` ends in a partitioned parquet write with lineage manifests.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geoutils_spark.functions import cells as C
from geoutils_spark.functions.textextract import extract_text_udf
from geoutils_spark.operators.spatial_join import spatial_join
from geoutils_spark.operators.tiling import with_cell_assignment, with_tiles
from geoutils_spark.plans.manifests import read_manifests, write_with_manifests
from geoutils_spark.sources import fixtures
from perfbench.inputs import CHECKSUM_MOD, CHECKSUM_MUL

LEVEL = 15            # cover level of the spatial join
PARENT_LEVEL = 8      # partition level of tile_write
FLAGSHIP_ZOOMS = (14,)
WRITE_ZOOMS = (10, 14, 16)


def _checksum(page_id: str, way_id: str):
    key = F.col(page_id) * F.lit(64) + F.col(way_id)
    return F.sum(F.pmod(key * F.lit(CHECKSUM_MUL), F.lit(CHECKSUM_MOD))).alias("checksum")


class Workload:
    name = ""
    rows = 0           # input rows per rep, at the benchmark's size
    joins = True       # runs the spatial join

    def load(self, spark, inputs, scratch: str) -> dict:
        """Set-up: read the input and, for the join, the 18 fixture
        buildings (``inputs.Inputs`` paths); no action."""
        state = {"spark": spark, "input": spark.read.parquet(inputs.data),
                 "scratch": scratch}
        if self.joins:
            state["polys"] = spark.read.parquet(inputs.buildings)
        return state

    def frame(self, state: dict) -> DataFrame:
        raise NotImplementedError

    def encode(self, pts: DataFrame) -> DataFrame:
        """The cells/tiling calls this workload makes on its points."""
        raise NotImplementedError

    def prepare_rep(self, state: dict) -> None:
        """Untimed housekeeping before a rep."""

    def after_rep(self, state: dict) -> dict:
        """Untimed answer fields read back after a rep."""
        return {}

    def rep(self, state: dict) -> tuple[dict, DataFrame | None]:
        """One timed action; returns its answer and the frame it ran."""
        df = self.frame(state)
        row = df.collect()[0]
        return {k: (int(v) if v is not None else None)
                for k, v in row.asDict().items()}, df

    def check(self, answer: dict, expected: dict) -> list[str]:
        """Names of the answer fields that differ from the expected ones."""
        return [k for k in self.checked if answer.get(k) != expected.get(k)]


class Flagship(Workload):
    """pages (html) -> geo -> Arrow text extraction -> z14 tiles ->
    level-15 spatial join -> one aggregate that keeps every column."""
    name, rows = "flagship", 75_000
    checked = ("matched", "checksum", "tile_x_sum", "tile_y_sum", "text_bytes")

    def frame(self, state: dict) -> DataFrame:
        pages = fixtures.with_page_geo(state["input"])
        pages = pages.withColumn("text", extract_text_udf(F.col("html")))
        pages = with_tiles(pages, "lon", "lat", zooms=FLAGSHIP_ZOOMS)
        pts = pages.select("page_id", "lon", "lat", "tile_z14_x", "tile_z14_y",
                           F.octet_length("text").alias("text_bytes"))
        joined = spatial_join(
            pts, state["polys"], level=LEVEL,
            point_cols=("page_id", "text_bytes", "tile_z14_x", "tile_z14_y"))
        return joined.agg(
            F.count(F.lit(1)).alias("matched"),
            _checksum("page_id", "way_id"),
            F.sum("tile_z14_x").alias("tile_x_sum"),
            F.sum("tile_z14_y").alias("tile_y_sum"),
            F.sum("text_bytes").alias("text_bytes"),
        )

    def encode(self, pts: DataFrame) -> DataFrame:
        # the level-15 cell spatial_join computes, plus the tiles
        return with_tiles(C.with_cell(pts, "lon", "lat", LEVEL), "lon", "lat",
                          zooms=FLAGSHIP_ZOOMS)


class TileWrite(Workload):
    """points (20% on one hot key) -> level-15 cells with level-8 parents
    -> z10/z14/z16 tiles -> parquet partitioned by parent cell, with
    per-partition manifests."""
    name, rows, joins = "tile_write", 1_500_000, False
    checked = ("partitions", "max_partition_rows")

    def frame(self, state: dict) -> DataFrame:
        return self.encode(state["input"])

    def encode(self, pts: DataFrame) -> DataFrame:
        df = with_cell_assignment(pts, "lon", "lat", level=LEVEL,
                                  parent_level=PARENT_LEVEL)
        return with_tiles(df, "lon", "lat", zooms=WRITE_ZOOMS)

    def out_dir(self, state: dict) -> str:
        return os.path.join(state["scratch"], "tile_write_out")

    def prepare_rep(self, state: dict) -> None:
        shutil.rmtree(self.out_dir(state), ignore_errors=True)

    def rep(self, state: dict) -> tuple[dict, DataFrame | None]:
        summary = write_with_manifests(self.frame(state), self.out_dir(state),
                                       "cell_parent")
        return {"rows": summary["rows_written"]}, None

    def after_rep(self, state: dict) -> dict:
        """Read back what the rep wrote (untimed): parquet footers, file
        bytes and manifests."""
        out = self.out_dir(state)
        footer_rows = stored = 0
        for root, _, files in os.walk(out):
            for fn in files:
                if fn.endswith(".parquet"):
                    p = os.path.join(root, fn)
                    footer_rows += pq.read_metadata(p).num_rows
                    stored += os.path.getsize(p)
        counts = [m["n_rows"] for m in read_manifests(out).values()]
        return {"footer_rows": footer_rows, "manifest_rows": sum(counts),
                "partitions": len(counts), "max_partition_rows": max(counts, default=0),
                "stored_bytes": stored}

    def check(self, answer: dict, expected: dict) -> list[str]:
        bad = super().check(answer, expected)
        return bad + [k for k in ("rows", "footer_rows", "manifest_rows")
                      if answer.get(k) != expected["rows"]]


WORKLOADS = {w.name: w for w in (Flagship(), TileWrite())}


def plan_guard(workload: Workload, state: dict) -> None:
    """Refuse to time a flagship plan that lost work its metric claims:
    the optimized plan must hold the z14 tile expressions and two Arrow
    UDF nodes (text extraction and the ray-cast refine)."""
    if workload.name != "flagship":
        return
    plan = workload.frame(state)._jdf.queryExecution().optimizedPlan().toString()
    n_arrow = plan.count("ArrowEvalPython")
    missing = [w for w in ("tile_z14_x", "tile_z14_y", "extract_text_udf",
                           "point_in_polygon_udf") if w not in plan]
    if n_arrow != 2 or missing:
        raise RuntimeError(
            f"plan guard: flagship plan has {n_arrow} ArrowEvalPython nodes "
            f"(want 2) and lacks {missing}; refusing to report")
