"""jobs/spatial_pipeline.py: the timed aggregate keeps tile assignment and
both Arrow UDFs (text extraction, ray-cast refine) in its plan."""

from pyspark.sql import functions as F

from geoutils_spark.operators.spatial_join import spatial_join
from geoutils_spark.operators.tiling import with_tiles
from geoutils_spark.sources import fixtures
from jobs.spatial_pipeline import flagship_frame, summarize


def test_flagship_plan_keeps_tiles_and_udfs(spark, tmp_path):
    path = str(tmp_path / "pages")
    fixtures.pages_df(spark, 1000).drop("text").write.parquet(path)
    pages = spark.read.parquet(path)
    polys = fixtures.polygons_df(spark).filter(F.col("kind") == "building")
    agg = summarize(flagship_frame(pages, polys, 15))

    plan = agg._jdf.queryExecution().optimizedPlan().toString()
    assert "tile_z14_x" in plan and "tile_z14_y" in plan
    assert plan.count("ArrowEvalPython") == 2

    row = agg.collect()[0]
    pts = with_tiles(fixtures.with_page_geo(pages), "lon", "lat", zooms=(14,))
    want = spatial_join(pts, polys, level=15,
                        point_cols=("page_id", "tile_z14_x", "tile_z14_y")).agg(
        F.count("*").alias("n"), F.sum("tile_z14_x").alias("tx"),
        F.sum("tile_z14_y").alias("ty")).collect()[0]
    assert row["n"] == want["n"] > 0
    assert (row["tx"], row["ty"]) == (want["tx"], want["ty"])
    assert row["tl"] > 0
