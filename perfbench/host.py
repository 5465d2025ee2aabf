"""Host facts for the result record: cores, memory, a CPU probe, and the
peak resident memory of the Spark JVM plus its Python workers; and the
end of every process a run starts."""

from __future__ import annotations

import ctypes
import multiprocessing as mp
import os
import signal
import time
from multiprocessing import resource_tracker

from tools.scaling_bench import _md5_work


def cores() -> int:
    """What ``nproc`` prints (the affinity mask), ignoring OMP_NUM_THREADS."""
    return len(os.sched_getaffinity(0))


def mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_gb(total_gb: float) -> int:
    """Driver heap: an eighth of the host (2 GB on a 15 GB host). The heap is
    fixed and touched at JVM start, so its growth adds no page faults to the
    reps and no noise to the peak RSS; the rest of the host is left to the
    Python workers and the page cache."""
    return max(1, round(total_gb / 8))


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat: time the hypervisor gave to
    other guests, and all time."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


PROBE_ROUNDS = 2


def cpu_probe(n: int) -> float:
    """Best-of-PROBE_ROUNDS wall seconds for ``n`` independent md5 loops on ``n``
    processes (the tools/scaling_bench kernel): a same-window host health
    number, 0.22-0.29 s on the 4-vCPU reference host. The processes are
    forked, so it must run before this process starts a JVM."""
    pool = mp.get_context("fork").Pool(n)
    try:
        pool.map(_md5_work, range(n))  # start-up, not timed
        best = float("inf")
        for _ in range(PROBE_ROUNDS):
            t0 = time.perf_counter()
            pool.map(_md5_work, range(n))
            best = min(best, time.perf_counter() - t0)
    finally:
        pool.close()
        pool.join()
    return best


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants_peak_rss_mb() -> float:
    """Sum of VmHWM over every live descendant of this process: the
    spark-submit JVM and the Python workers it forks."""
    kids = _children()
    todo, total = list(kids.get(os.getpid(), [])), 0
    while todo:
        pid = todo.pop()
        total += _vm_hwm_kb(pid)
        todo.extend(kids.get(pid, []))
    return total / 1024.0


PR_SET_CHILD_SUBREAPER = 36
EXIT_GRACE_S = 20.0  # then SIGTERM; SIGKILL after as long again


def adopt_orphans() -> None:
    """Make this process the child subreaper: a descendant whose parent
    exits is re-parented here, not to init. The JVM's Python worker daemon
    is one (the JVM exits before it), so ``reap_children`` can wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_children() -> None:
    """Return once every child of this process has exited and been reaped.
    multiprocessing's resource tracker ignores SIGTERM and lives as long as
    its pipe is open, so it is stopped first; any other child still alive
    after EXIT_GRACE_S is sent SIGTERM, then SIGKILL."""
    resource_tracker._resource_tracker._stop()
    start, sent = time.monotonic(), None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        kids = _children().get(os.getpid(), [])
        if not kids:
            return
        waited = time.monotonic() - start
        sig = (signal.SIGKILL if waited > 2 * EXIT_GRACE_S
               else signal.SIGTERM if waited > EXIT_GRACE_S else None)
        if sig is not None and sig != sent:
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sent = sig
        time.sleep(0.05)
