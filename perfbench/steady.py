#!/usr/bin/env python3
"""Steadiness runner: repeat each workload over several seeds and report,
per end-to-end metric, the median, the quartiles and the spread (the
distance between the first and third quartile as a share of the
median, as ``statistics.quantiles(values, n=4)`` gives them).  The bounds
in BENCHMARK.json are set from these spreads.

    python3 perfbench/steady.py --runs 10                 # every workload
    python3 perfbench/steady.py --workload native_mixed --runs 5 --first-seed 100

Runs are sequential (one benchmark process at a time).  A spread at or
above a third of the metric's bound is flagged.  ``setup_s`` is reported
but not flagged: a bound on it limits how far its median may move, not
its spread.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "0"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=600)
    if out.returncode != 0:
        tail = "\n".join(out.stderr.splitlines()[-20:])
        raise RuntimeError(f"{workload} seed {seed} exited "
                           f"{out.returncode}:\n{tail}")
    for line in out.stderr.splitlines():
        if line.startswith("perfbench:"):
            print(line, file=sys.stderr)
    return json.loads(out.stdout.strip().splitlines()[-1])


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = (statistics.quantiles(values, n=4) if len(values) > 1
                 else (med, med, med))
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append",
                    help="workload to run (repeatable; default: all)")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    worst_ok = True
    for w in args.workload or names:
        per_metric: dict[str, list[float]] = {}
        failed = attempted = 0
        for i in range(args.runs):
            seed = args.first_seed + i
            res = run_once(w, seed, args.seconds)
            failed += res["failed"]
            attempted += res["attempted"]
            for m, v in res["metrics"].items():
                per_metric.setdefault(m, []).append(v["value"])
            print(f"{w} seed={seed} attempted={res['attempted']} "
                  f"failed={res['failed']} correct={res['correct']}",
                  file=sys.stderr, flush=True)
        print(f"{w} attempted={attempted} failed={failed}")
        for m, values in per_metric.items():
            s = summarize(values)
            bound = bounds.get(m)
            flag = ""
            if bound and m != "setup_s" and s["spread"] >= bound / 3:
                flag = "  <-- spread >= bound/3"
                worst_ok = False
            print(f"{w:16s} {m:12s} median={s['median']:.4g} "
                  f"q1={s['q1']:.4g} q3={s['q3']:.4g} "
                  f"spread={s['spread']:.3f}"
                  + (f" bound={bound}" if bound else "") + flag)
    return 0 if worst_ok else 1


if __name__ == "__main__":
    sys.exit(main())
