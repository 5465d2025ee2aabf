"""Tests of the benchmark's own code at a tiny input size.

    python -m pytest perfbench/tests -q

Runs every workload once untraced and once traced, at 2,000 input rows. Each
run is in a process of its own, as ``perfbench/run.py`` runs it: an untraced
run restarts the JVM, which a process can do only until a Python UDF has run.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import harness, workloads  # noqa: E402
from perfbench.inputs import Inputs  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

ROWS = 2000
WORKLOADS = ("flagship", "tile_write")


@pytest.fixture(scope="module")
def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: bool, corrupt: str | None = None):
    """``harness.run`` with the expected value named by ``corrupt`` off by
    one; then the JVM is stopped. Runs in a fresh process."""
    if corrupt:
        real = Inputs.ensure

        def corrupted(self, spark_step):
            exp = dict(real(self, spark_step))
            exp[corrupt] += 1
            return exp
        Inputs.ensure = corrupted
    try:
        return harness.run(workload, 1, 0, trace, ROOT, rows=ROWS)
    finally:
        harness.stop_jvm()


def run_alone(workload: str, trace: bool, corrupt: str | None = None):
    return harness.in_fresh_process(_run, workload, trace, corrupt)


@pytest.fixture(scope="module")
def runs():
    """(workload, trace) -> (record, result), each run at most once."""
    cache: dict = {}

    def get(workload: str, trace: bool):
        if (workload, trace) not in cache:
            cache[workload, trace] = run_alone(workload, trace)
        return cache[workload, trace]
    return get


def test_workloads_match_spec(bench_spec):
    assert [w["name"] for w in bench_spec["workloads"]] == list(WORKLOADS)
    assert set(workloads.WORKLOADS) == set(WORKLOADS)


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [False, True])
def test_every_metric_printed_with_unit(runs, bench_spec, workload, trace):
    _, result = runs(workload, trace)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 3
    spec = bench_spec["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))
    json.dumps(result)  # the result line is plain JSON


def test_end_to_end_metrics_never_zero(runs):
    for w in WORKLOADS:
        _, result = runs(w, False)
        assert all(v["value"] > 0 for v in result["metrics"].values()), w


def test_corrupted_expected_value_fails_the_run():
    _, result = run_alone("flagship", False, corrupt="matched")
    assert not result["correct"]
    assert result["failed"] == result["attempted"] >= 3
    assert result["metrics"]["ok_rep_share"]["value"] == 0.0


def test_corrupted_manifest_count_fails_the_run():
    _, result = run_alone("tile_write", False, corrupt="rows")
    assert not result["correct"] and result["failed"] == result["attempted"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_spans_nest_with_nonnegative_self_time(runs, workload):
    record, _ = runs(workload, True)
    with open(record["spans_file"]) as f:
        dump = json.load(f)
    spans = {s["id"]: s for s in dump["spans"]}
    assert spans and all(s["run"] == dump["run"] for s in spans.values())
    for s in spans.values():
        assert s["end"] >= s["start"]
        assert s["self"] >= -1e-9
        if s["parent"] is not None:
            p = spans[s["parent"]]
            assert p["start"] <= s["start"] and s["end"] <= p["end"]
    names = {s["name"] for s in spans.values()}
    assert {"trace", "full_rep", "layers", "sources.scan", "cells.encode"} <= names
    if workload == "tile_write":
        assert "manifests.write" in names
    else:
        assert {"spatial_join.probe", "spatial_join.exact"} <= names


def test_per_layer_counts_follow_the_workload(runs):
    flag = runs("flagship", True)[1]["metrics"]
    tile = runs("tile_write", True)[1]["metrics"]
    assert flag["spatial_join.candidates"]["value"] >= flag["spatial_join.matched"]["value"] > 0
    assert flag["spatial_join.refine_py_bytes_sent"]["value"] > 0
    assert flag["spatial_join.broadcast_bytes"]["value"] > 0
    assert flag["textextract.py_bytes_sent"]["value"] > 0
    assert flag["manifests.write_s"]["value"] == 0
    assert tile["textextract.udf_s"]["value"] == 0
    assert tile["manifests.partitions"]["value"] > 0
    # the writer's counting pass is a second job over the same input
    assert tile["manifests.spark_jobs"]["value"] >= 2
    assert tile["spatial_join.candidates"]["value"] == 0


def test_tracer_self_time():
    tr = Tracer("t")
    with tr.span("root"):
        with tr.span("a"):
            pass
        with tr.span("b"):
            with tr.span("b1"):
                pass
    by_name = {s["name"]: s for s in tr.spans}
    self_t = tr.self_times()
    assert by_name["b1"]["parent"] == by_name["b"]["id"]
    assert by_name["a"]["parent"] == by_name["root"]["id"]
    d = tr.durations()
    root = by_name["root"]
    assert self_t[root["id"]] == pytest.approx(d["root"] - d["a"] - d["b"], abs=1e-6)
    assert all(v >= 0 for v in self_t.values())


def test_plan_guard_refuses_plan_without_tiles():
    dirs = harness._dirs(ROOT)
    inputs = Inputs(dirs["inputs"], "flagship", ROWS, 1)
    args = (2, 1, dirs, 64 * 1024)
    inputs.ensure(lambda: harness.in_fresh_process(harness._write_spark_files, inputs, args))
    spark = harness.start_session(*args)
    try:
        wl = workloads.Flagship()
        state = wl.load(spark, inputs, "")
        workloads.plan_guard(wl, state)  # the real plan passes

        class NoTiles(workloads.Flagship):
            def frame(self, state):
                return super().frame(state).select("matched", "checksum")
        with pytest.raises(RuntimeError, match="plan guard"):
            workloads.plan_guard(NoTiles(), state)
    finally:
        spark.stop()


def test_bare_directory_exits_nonzero_without_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".cache", "__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "flagship",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
