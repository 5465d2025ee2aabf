"""One benchmark run: inputs, set-up, the plan guard, a cold rep, warm reps
for the given seconds, then either repeated set-ups (untraced) or the traced
per-layer run. Returns a full record and the result line's object."""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import shutil
import statistics
import sys
import time
import traceback

from perfbench import host
from perfbench.inputs import Inputs
from perfbench.layers import PER_LAYER, LayerRun
from perfbench.trace import Tracer
from perfbench.workloads import WORKLOADS, Workload, plan_guard

END_TO_END = {
    "pages_per_s": "pages/s",
    "cold_rep_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ok_rep_share": "share",
    "stored_bytes_per_row": "bytes/row",
}
SETUPS = 3          # fresh-JVM set-ups per untraced run; setup_s is their median
MIN_WARM_REPS = 2


def _dirs(root: str) -> dict[str, str]:
    base = os.path.join(root, "perfbench", ".cache")
    dirs = {k: os.path.join(base, k) for k in ("inputs", "tmp", "spark", "results", "out")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    return dirs


def start_session(cores: int, mem_gb: int, dirs: dict, split_bytes: int):
    """``local[cores]`` session; every file Spark or its JVM writes stays
    under ``dirs``."""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{mem_gb}g")
        .config("spark.driver.extraJavaOptions",
                f"-Xms{mem_gb}g -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData")
        .config("spark.local.dir", dirs["spark"])
        .config("spark.sql.warehouse.dir", os.path.join(dirs["spark"], "warehouse"))
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        # two waves of input splits per core, as tools/scaling_bench sizes them
        .config("spark.sql.files.maxPartitionBytes", str(split_bytes))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the spark-submit JVM to exit
    (a stopped SparkContext leaves it running until this process ends)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def timed_setup(wl: Workload, session_args: tuple, inputs: Inputs, scratch: str):
    """Session start, then the input and polygon load, up to the first
    action: (spark, state, seconds)."""
    t0 = time.perf_counter()
    spark = start_session(*session_args)
    state = wl.load(spark, inputs, scratch)
    return spark, state, time.perf_counter() - t0


def _send_result(conn, target, args) -> None:
    try:
        conn.send((True, target(*args)))
    except BaseException as e:  # re-raised in the parent
        conn.send((False, e))


def in_fresh_process(target, *args):
    """``target(*args)`` in a new Python process, so any JVM it starts is its
    own (a process cannot start a second JVM once a Python UDF has run: the
    UDF keeps a handle into the first). Returns the result once the process
    has ended. The process is not a daemon, so it may start processes."""
    ctx = mp.get_context("spawn")
    recv, send = ctx.Pipe(duplex=False)
    proc = ctx.Process(target=_send_result, args=(send, target, args))
    proc.start()
    send.close()
    try:
        ok, value = recv.recv()
    finally:
        proc.join()
    if not ok:
        raise value
    return value


def _write_spark_files(inputs: Inputs, session_args: tuple) -> None:
    spark = start_session(*session_args)
    try:
        inputs.write_spark_files(spark)
    finally:
        spark.stop()
        stop_jvm()


class Reps:
    """Timed reps of one workload, each checked against the expected answer."""

    def __init__(self, workload: Workload, expected: dict):
        self.wl, self.expected = workload, expected
        self.attempted = self.failed = 0
        self.last: dict = {}

    def one(self, state: dict) -> float | None:
        """Seconds of one correct rep, or None if it raised or was wrong."""
        self.attempted += 1
        self.wl.prepare_rep(state)
        try:
            t0 = time.perf_counter()
            answer, _ = self.wl.rep(state)
            seconds = time.perf_counter() - t0
            answer.update(self.wl.after_rep(state))
        except Exception:  # a failed rep is counted, and the run goes on
            traceback.print_exc()
            self.failed += 1
            return None
        bad = self.wl.check(answer, self.expected)
        if bad:
            print(f"wrong answer in {bad}: {answer} vs {self.expected}", file=sys.stderr)
            self.failed += 1
            return None
        self.last = answer
        return seconds

    def for_seconds(self, state: dict, seconds: float) -> list[float]:
        times, t_end, tries = [], time.perf_counter() + seconds, 0
        while time.perf_counter() < t_end or tries < MIN_WARM_REPS:
            tries += 1
            t = self.one(state)
            if t is not None:
                times.append(t)
        return times


def run(workload: str, seed: int, seconds: float, trace: bool, root: str,
        rows: int | None = None) -> tuple[dict, dict]:
    wl = WORKLOADS[workload]
    n = rows or wl.rows
    dirs = _dirs(root)
    os.environ["TMPDIR"] = dirs["tmp"]
    cores = host.cores()
    mem_total = host.mem_total_gb()
    mem_gb = host.driver_memory_gb(mem_total)
    probe_s = host.cpu_probe(cores)

    inputs = Inputs(dirs["inputs"], workload, n, seed)
    # fixture generation: not part of set-up
    expected = inputs.ensure(lambda: in_fresh_process(
        _write_spark_files, inputs, (cores, mem_gb, dirs, 64 * 2**20)))
    split_bytes = max(expected["input_bytes"] // (2 * cores), 64 * 1024)
    session_args = (cores, mem_gb, dirs, split_bytes)
    scratch = os.path.join(dirs["out"], f"{workload}-{os.getpid()}")

    reps = Reps(wl, expected)
    run_id = f"{workload}-s{seed}-p{os.getpid()}"
    tracer = Tracer(run_id)
    per_layer: dict = {}
    # Every set-up starts a JVM of its own, as a one-shot job pays it. The
    # earlier ones are stopped with their JVM before the next; a process can
    # start a second JVM as long as no Python UDF has run in the first (a
    # UDF keeps a handle into the JVM it first ran in), and set-up runs none.
    # The reps run in the last one.
    setups = []
    for _ in range(0 if trace else SETUPS - 1):
        spark, _, setup_s = timed_setup(wl, session_args, inputs, scratch)
        setups.append(setup_s)
        spark.stop()
        stop_jvm()
    spark, state, setup_s = timed_setup(wl, session_args, inputs, scratch)
    setups.append(setup_s)
    try:
        plan_guard(wl, state)
        cold = reps.one(state)
        steal0, total0 = host.cpu_jiffies()
        # A traced run spends its time in the layer calls; its few untraced
        # reps only give the median trace.overhead_s is taken against.
        warm = reps.for_seconds(state, 0 if trace else seconds)
        # Every warm rep is timed. The JIT is still compiling during the
        # first, but leaving it out did not narrow the run-to-run spread of
        # the median across seeds: the host's load from run to run sets it.
        warm_median = statistics.median(warm) if warm else 0.0
        steal1, total1 = host.cpu_jiffies()
        peak_rss = host.descendants_peak_rss_mb()
        if trace:
            lr = LayerRun(wl, state, tracer)
            with tracer.span("trace"):
                full = lr.full_rep(expected)
                with tracer.span("layers"):
                    lr.layers(expected, inputs.data)
            per_layer = lr.finish(full, warm_median)
            reps.attempted += 1
            if lr.failures:
                print(f"traced run: wrong {lr.failures}", file=sys.stderr)
                reps.failed += 1
    finally:
        spark.stop()
        shutil.rmtree(scratch, ignore_errors=True)

    if wl.joins:
        stored = expected["input_bytes"] / n
    else:
        stored = reps.last.get("stored_bytes", 0) / n
    e2e = {
        # 0 stands for "no correct rep"; the result is then not correct
        "pages_per_s": n / warm_median if warm else 0.0,
        "cold_rep_s": cold if cold is not None else 0.0,
        "setup_s": statistics.median(setups),
        "peak_rss_mb": peak_rss,
        "ok_rep_share": (reps.attempted - reps.failed) / reps.attempted,
        "stored_bytes_per_row": stored,
    }
    chosen, units = (per_layer, PER_LAYER) if trace else (e2e, END_TO_END)
    result = {
        "correct": reps.failed == 0,
        "attempted": reps.attempted,
        "failed": reps.failed,
        "metrics": {k: {"value": chosen[k], "unit": u} for k, u in units.items()},
    }
    record = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
        "rows": n, "input_bytes": expected["input_bytes"], "cores": cores,
        "mem_total_gb": round(mem_total, 2), "driver_memory_gb": mem_gb,
        "split_bytes": split_bytes, "cpu_probe_s": probe_s, "cpu_probe_procs": cores,
        "warm_steal_share": (steal1 - steal0) / max(total1 - total0, 1),
        "setup_runs_s": setups, "cold_rep_s": cold, "warm_reps_s": warm,
        "expected": expected, "last_answer": reps.last, "end_to_end": e2e,
        "per_layer": per_layer, "plan_guard": "passed" if wl.name == "flagship" else "n/a",
    }
    tag = f"{workload}-s{seed}-t{int(trace)}"
    if trace:
        record["spans_file"] = os.path.join(dirs["results"], f"spans-{tag}.json")
        tracer.dump(record["spans_file"])
    with open(os.path.join(dirs["results"], f"record-{tag}.json"), "w") as f:
        json.dump({"record": record, "result": result}, f, indent=1)
    return record, result
