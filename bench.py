"""Registry bench: every query in ``__spark_entry__.queries()`` at
$SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS], each run through the
``noop`` sink (``count()`` lets Catalyst prune deterministic projections),
best of $SPARK_GRAFT_BENCH_REPS runs.

Cores default to this process's affinity mask and the driver heap
($SPARK_GRAFT_MEM) to half of MemTotal. Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...},
   "sf": ..., "cpus": ..., "probe_speedup": ..., "probe_ratio": ...}

The flagship spatial-join + tile-assignment pages/s is measured by
``python3 perfbench/run.py --workload flagship``, not here.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tools.scaling_bench import cpu_scaling_probe, host_driver_memory  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
MEM = os.environ.get("SPARK_GRAFT_MEM") or host_driver_memory()
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "6"))


def _session():
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("geoutils_spark_bench")
        .config("spark.sql.shuffle.partitions", str(max(CPUS, 8)))
        .config("spark.driver.memory", MEM)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .getOrCreate()
    )


def main():
    import __spark_entry__ as E

    # Same-window host health: how much of 1 -> CPUS the hardware delivers
    # to independent CPU-bound processes. Forks, so it runs before the JVM.
    probe = cpu_scaling_probe(1, CPUS)
    spark = _session()
    spark.sparkContext.setLogLevel("ERROR")
    times: dict[str, float] = {}
    for name, fn in E.queries().items():
        best = float("inf")
        for _ in range(REPS):
            t0 = time.time()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        times[name] = round(best, 3)
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    try:
        sf = float(sf)
    except ValueError:
        sf = SF_DIR
    print(json.dumps({
        "metric": "registry_query_seconds",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "reps": REPS,
        "cpus": CPUS,
        "driver_memory": MEM,
        "probe_speedup": round(probe, 3),
        "probe_ratio": round(probe / CPUS, 3),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
