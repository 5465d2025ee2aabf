"""The traced run: one traced full rep, then one timed call into the public
functions of each layer, each on an input materialised beforehand.

Layer timings come from spans the benchmark records around its own calls
(trace.py). Counts and bytes come from Spark: SQL metrics of the executed
plan the benchmark holds (``ArrowEvalPython``, ``BroadcastExchange``), and,
for the manifest writer whose plan stays inside the library, the job group
and the stages' shuffle-write bytes from the status store.
"""

from __future__ import annotations

import time

import numpy as np
import pyarrow.parquet as pq
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geoutils_spark.functions.textextract import extract_text_series, extract_text_udf
from geoutils_spark.operators.spatial_join import ray_cast_np, spatial_join, with_covering_cells
from geoutils_spark.plans.manifests import write_with_manifests
from geoutils_spark.sources import fixtures
from perfbench.workloads import LEVEL, Workload

# Per-layer metrics and their units; a workload reports 0 for a layer its
# pipeline does not call.
PER_LAYER = {
    "sources.scan_s": "s",
    "textextract.udf_s": "s",
    "textextract.py_bytes_sent": "bytes",
    "textextract.py_bytes_received": "bytes",
    "textextract.kernel_us_per_row": "us",
    "cells.encode_s": "s",
    "spatial_join.cover_s": "s",
    "spatial_join.cover_cells": "count",
    "spatial_join.broadcast_bytes": "bytes",
    "spatial_join.probe_s": "s",
    "spatial_join.candidates": "count",
    "spatial_join.refine_s": "s",
    "spatial_join.matched": "count",
    "spatial_join.hit_ratio": "ratio",
    "spatial_join.refine_py_bytes_sent": "bytes",
    "spatial_join.kernel_us_per_candidate": "us",
    "manifests.write_s": "s",
    "manifests.spark_jobs": "count",
    "manifests.shuffle_bytes": "bytes",
    "manifests.partitions": "count",
    "manifests.max_partition_share": "ratio",
    "trace.unaccounted_s": "s",
    "trace.overhead_s": "s",
}
# Spans whose durations add up to a rep.
LAYER_SPANS = ("sources.scan", "textextract.udf", "cells.encode", "spatial_join.cover",
               "spatial_join.exact", "manifests.write")
KERNEL_SAMPLE = 2000        # html rows for the in-process extraction kernel
CANDIDATE_SAMPLE = 20000    # candidate pairs for the in-process ray cast
KERNEL_REPS = 5


# -- executed-plan metrics -----------------------------------------------------

def plan_nodes(spark, df: DataFrame):
    """Every physical node of ``df``'s executed plan, through AQE stages."""
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(node.plan())
        else:
            yield node
            stack.extend(conv.asJava(node.children()))


def plan_metric(spark, df: DataFrame, node_name: str, metric: str, contains: str = "") -> int:
    """Sum of SQL metric ``metric`` over nodes called ``node_name`` whose
    description contains ``contains`` (e.g. the UDF an ``ArrowEvalPython``
    runs)."""
    total = 0
    for node in plan_nodes(spark, df):
        if node.nodeName() == node_name and contains in node.toString():
            found = node.metrics().get(metric)
            total += found.get().value() if found.isDefined() else 0
    return total


def group_shuffle_bytes(spark, group: str) -> tuple[int, int]:
    """(jobs, shuffle-write bytes) of the Spark jobs run under ``group``."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    store = spark._jsc.sc().statusStore()
    stages = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    return len(jobs), sum(store.lastStageAttempt(s).shuffleWriteBytes() for s in stages)


# -- helpers -------------------------------------------------------------------

def _force(df: DataFrame, cols) -> list:
    """Run ``df`` to the end through an aggregate over ``cols``."""
    return df.agg(F.count(F.lit(1)), *[F.max(c) for c in cols]).collect()[0]


def _us_per_item(fn, n_items: int) -> float:
    """Median over KERNEL_REPS calls of ``fn()``, in microseconds per item."""
    times = []
    for _ in range(KERNEL_REPS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return float(np.median(times)) / n_items * 1e6


class LayerRun:
    """The traced part of a run: metrics fill in as the calls are made."""

    def __init__(self, workload: Workload, state: dict, tracer):
        self.wl, self.state, self.tracer = workload, state, tracer
        self.spark = state["spark"]
        self.metrics = dict.fromkeys(PER_LAYER, 0.0)
        self.failures: list[str] = []

    def _materialise(self, name: str, df: DataFrame) -> DataFrame:
        with self.tracer.span(f"prepare.{name}"):
            df = df.persist(StorageLevel.MEMORY_ONLY)
            df.count()
        return df

    def full_rep(self, expected: dict) -> float:
        """One traced rep of the workload, checked; returns its seconds."""
        self.wl.prepare_rep(self.state)
        with self.tracer.span("full_rep"):
            answer, df = self.wl.rep(self.state)
        answer.update(self.wl.after_rep(self.state))
        self.failures += self.wl.check(answer, expected)
        if df is not None:
            sp, m = self.spark, self.metrics
            m["spatial_join.broadcast_bytes"] = plan_metric(
                sp, df, "BroadcastExchange", "dataSize")
            m["spatial_join.refine_py_bytes_sent"] = plan_metric(
                sp, df, "ArrowEvalPython", "pythonDataSent", "point_in_polygon_udf")
            m["textextract.py_bytes_sent"] = plan_metric(
                sp, df, "ArrowEvalPython", "pythonDataSent", "extract_text_udf")
            m["textextract.py_bytes_received"] = plan_metric(
                sp, df, "ArrowEvalPython", "pythonDataReceived", "extract_text_udf")
        return self.tracer.durations()["full_rep"]

    def layers(self, expected: dict, html_path: str) -> None:
        wl, tr, m = self.wl, self.tracer, self.metrics
        src = self.state["input"]
        with tr.span("sources.scan"):
            _force(src, src.columns)
        if "html" in src.columns:
            self._textextract(src, html_path)
            src = fixtures.with_page_geo(src)
        pts = self._materialise("points", src.select("page_id", "lon", "lat"))
        enc = wl.encode(pts)
        with tr.span("cells.encode"):
            _force(enc, [c for c in enc.columns if c not in pts.columns])
        if wl.joins:
            self._spatial_join(pts, expected)
        else:
            self._manifests(self._materialise("encoded", enc), expected)
        pts.unpersist()
        d = tr.durations()
        for name in ("sources.scan", "textextract.udf", "cells.encode",
                     "spatial_join.cover", "spatial_join.probe", "manifests.write"):
            if name in d:
                m[name + "_s"] = d[name]
        if wl.joins:
            m["spatial_join.refine_s"] = d["spatial_join.exact"] - d["spatial_join.probe"]

    def _textextract(self, src: DataFrame, html_path: str) -> None:
        html = self._materialise("textextract", src.select("html"))
        with self.tracer.span("textextract.udf"):
            html.agg(F.sum(F.octet_length(extract_text_udf("html")))).collect()
        html.unpersist()
        sample = pq.read_table(html_path, columns=["html"]).slice(0, KERNEL_SAMPLE)
        series = sample.column("html").to_pandas()
        with self.tracer.span("textextract.kernel"):
            self.metrics["textextract.kernel_us_per_row"] = _us_per_item(
                lambda: extract_text_series(series), len(series))

    def _spatial_join(self, pts: DataFrame, expected: dict) -> None:
        tr, m, polys = self.tracer, self.metrics, self.state["polys"]
        with tr.span("spatial_join.cover"):
            cover = with_covering_cells(polys, LEVEL).select(
                F.explode("cells").alias("cell_id"))
            m["spatial_join.cover_cells"] = _force(cover, ["cell_id"])[0]
        with tr.span("spatial_join.probe"):
            m["spatial_join.candidates"] = spatial_join(pts, polys, LEVEL, exact=False).count()
        with tr.span("spatial_join.exact"):
            matched = spatial_join(pts, polys, LEVEL).count()
        m["spatial_join.matched"] = matched
        m["spatial_join.hit_ratio"] = matched / max(m["spatial_join.candidates"], 1)
        if matched != expected["matched"]:
            self.failures.append("spatial_join.matched")
        sample = (spatial_join(pts, polys, LEVEL, exact=False,
                               point_cols=("page_id", "lon", "lat"))
                  .limit(CANDIDATE_SAMPLE).toPandas())
        rings = {p["way_id"]: p["ring"] for p in fixtures.polygon_grid()[0]}
        xs = [np.array([pt["lon"] for pt in rings[w]]) for w in sample["way_id"]]
        ys = [np.array([pt["lat"] for pt in rings[w]]) for w in sample["way_id"]]
        px, py = sample["lon"].to_numpy(), sample["lat"].to_numpy()
        with tr.span("spatial_join.kernel"):
            m["spatial_join.kernel_us_per_candidate"] = _us_per_item(
                lambda: ray_cast_np(px, py, xs, ys), len(sample))

    def _manifests(self, enc: DataFrame, expected: dict) -> None:
        tr, m, sc = self.tracer, self.metrics, self.spark.sparkContext
        self.wl.prepare_rep(self.state)
        group = f"perfbench-manifests-{tr.run_id}"
        sc.setJobGroup(group, "manifests layer")
        try:
            with tr.span("manifests.write"):
                write_with_manifests(enc, self.wl.out_dir(self.state), "cell_parent")
        finally:
            sc.setJobGroup(None, None)
        enc.unpersist()
        m["manifests.spark_jobs"], m["manifests.shuffle_bytes"] = group_shuffle_bytes(
            self.spark, group)
        out = self.wl.after_rep(self.state)
        m["manifests.partitions"] = out["partitions"]
        m["manifests.max_partition_share"] = out["max_partition_rows"] / max(out["manifest_rows"], 1)
        self.failures += self.wl.check({"rows": out["manifest_rows"], **out}, expected)

    def finish(self, full_s: float, untraced_median_s: float) -> dict:
        m, d = self.metrics, self.tracer.durations()
        m["trace.unaccounted_s"] = full_s - sum(d.get(n, 0.0) for n in LAYER_SPANS)
        m["trace.overhead_s"] = full_s - untraced_median_s
        return m
