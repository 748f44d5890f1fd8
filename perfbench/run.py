#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload native_mixed --seed 1 --seconds 10 --trace 0

Runs one seeded workload for ``--seconds`` of closed-loop ops on
``local[<cores>]`` and prints, as the last stdout line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics (and the tracing overhead)
with ``--trace 1``.  Progress and per-op failures go to stderr.  Exits
non-zero, printing no result, when the program under test is missing or
a run cannot complete.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAMES = ("native_mixed", "sql_tpch")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "tiledb_mariadb_spark")):
        print("perfbench: the tiledb_mariadb_spark package is not in "
              f"{ROOT}; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.harness import run_workload  # noqa: PLC0415

    result = run_workload(args.workload, args.seed, args.seconds,
                          bool(args.trace))
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
