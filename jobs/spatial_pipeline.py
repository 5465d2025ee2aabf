"""spark-submit entry: the flagship spatial-join + tile-assignment pipeline.

    spark-submit --master local[N] --py-files dist/geoutils_spark.zip \
        jobs/spatial_pipeline.py --input /path/pages_parquet [--reps 3] \
        [--out /path] [--resume]

Reads a pages table (url, warc_ts, html, ...) from parquet — the deployment
shape; Iceberg is a format switch — then: deterministic text extraction ->
z14 tile assignment -> polygon spatial join -> aggregate. The aggregate sums
the extraction and tile columns, so Catalyst cannot prune either stage out
of the timed plan. Prints one JSON line per rep plus a summary.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def flagship_frame(pages, polys, level: int):
    """pages -> geo -> text extraction -> z14 tiles -> spatial join: one row
    per (page, polygon) match with page_id, text_len, tile_z14_x/y, way_id
    and cell_id."""
    from pyspark.sql import functions as F

    from geoutils_spark.functions.textextract import extract_text_udf
    from geoutils_spark.operators.spatial_join import spatial_join
    from geoutils_spark.operators.tiling import with_tiles
    from geoutils_spark.sources import fixtures

    pages = fixtures.with_page_geo(pages)
    pages = pages.withColumn("text", extract_text_udf(F.col("html")))
    pages = with_tiles(pages, "lon", "lat", zooms=(14,))
    point_cols = ("page_id", "text_len", "tile_z14_x", "tile_z14_y")
    pts = pages.select("page_id", "lon", "lat", "tile_z14_x", "tile_z14_y",
                       F.length("text").alias("text_len"))
    return spatial_join(pts, polys, level=level, point_cols=point_cols)


def summarize(joined):
    """The timed action's aggregate: one row over every built column."""
    from pyspark.sql import functions as F

    return joined.agg(F.count("*").alias("n"), F.sum("text_len").alias("tl"),
                      F.sum("tile_z14_x").alias("tx"),
                      F.sum("tile_z14_y").alias("ty"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="pages parquet path")
    ap.add_argument("--reps", type=int, default=1,
                    help="timed repetitions (first rep doubles as warmup)")
    ap.add_argument("--out", default=None,
                    help="write cell-partitioned assignments + manifests here")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--level", type=int, default=15)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.appName("geoutils_spark_pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from geoutils_spark.sources import fixtures

    pages = spark.read.parquet(args.input)
    n_pages = pages.count()
    polys = fixtures.polygons_df(spark).filter(F.col("kind") == "building")
    joined = flagship_frame(pages, polys, args.level)

    if args.out:
        from geoutils_spark.plans.manifests import write_with_manifests

        t0 = time.time()
        out_df = joined.withColumn("way_part", F.col("way_id").cast("string"))
        summary = write_with_manifests(
            out_df, args.out, "way_part", resume=args.resume,
            lineage={"job": "spatial_pipeline", "pages": n_pages,
                     "level": args.level})
        dt = time.time() - t0
        print(json.dumps({"rows": summary["rows_written"], "pages": n_pages,
                          "sec": round(dt, 3),
                          "pages_per_sec": round(n_pages / dt, 1),
                          "job": summary}))
    else:
        best, rows = 1e18, 0
        for rep in range(args.reps):
            t0 = time.time()
            rows = summarize(joined).collect()[0]["n"]
            dt = time.time() - t0
            best = min(best, dt)
            print(json.dumps({"rep": rep, "rows": rows, "sec": round(dt, 3),
                              "pages_per_sec": round(n_pages / dt, 1)}))
        print(json.dumps({"rows": rows, "pages": n_pages,
                          "sec": round(best, 3), "reps": args.reps,
                          "pages_per_sec": round(n_pages / best, 1)}))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
