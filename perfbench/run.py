"""Benchmark entry point.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints the run's full record as one JSON line,
then, as the last line, the result: ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``). Exits non-zero without a result if the program under
test cannot be imported or the flagship plan guard fails. Every process the
run started, directly or not, has ended before it prints.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# The repository root, not this directory, so perfbench/trace.py cannot
# shadow the standard library's ``trace``.
sys.path[0] = ROOT

from perfbench.harness import run, stop_jvm  # noqa: E402
from perfbench.host import adopt_orphans, reap_children  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="how long the warm reps run")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    adopt_orphans()
    try:
        record, result = run(args.workload, args.seed, args.seconds, bool(args.trace), ROOT)
    finally:
        try:
            stop_jvm()
        finally:
            reap_children()
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
