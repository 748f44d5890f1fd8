#!/usr/bin/env python
"""Interleaved A/B runs of the benchmark across two checkouts.

Usage: perf_ab.py BASE HEAD [--workload native_mixed] [--seeds 21-30]
                  [--seconds 20] [--trace 0] [--out runs.jsonl]

For each seed, runs ``perfbench/run.py`` of BASE and of HEAD, one after
the other, alternating which side goes first (the first seed starts
with BASE), so host-speed drift lands on both sides alike.  Each run's
result line is appended to ``--out`` when given.  Then, for every
metric both sides report, prints each side's median and quartiles, the
HEAD/BASE ratio of the medians, the pairs HEAD won (by the metric's
``better`` direction in HEAD's ``BENCHMARK.json``; ties win for
neither), and ``sep``: whether the medians differ by more than BASE's
interquartile range.  A failed run is reported and leaves its pair out.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def _seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def _run(checkout: str, workload: str, seed: int, seconds: float,
         trace: int) -> dict | None:
    argv = [sys.executable, os.path.join(checkout, "perfbench", "run.py"),
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(argv, cwd=checkout, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        print(f"  {checkout} seed {seed}: exit {r.returncode}: "
              f"{r.stderr.strip()[-500:]}", file=sys.stderr)
        return None
    return json.loads(lines[-1])


def _better(checkout: str) -> dict[str, str]:
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["better"]
            for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def _value(res: dict, name: str) -> float:
    return float(res["metrics"][name]["value"])


def summarize(pairs: list[tuple[dict, dict]], better: dict[str, str]) -> list[dict]:
    """One row per metric both sides of every pair report."""
    names = sorted(
        set.intersection(*(set(b["metrics"]) & set(h["metrics"])
                           for b, h in pairs))
    ) if pairs else []
    rows = []
    for name in names:
        bs = [_value(b, name) for b, _h in pairs]
        hs = [_value(h, name) for _b, h in pairs]
        bq1, bmed, bq3 = _quartiles(bs)
        hq1, hmed, hq3 = _quartiles(hs)
        sign = -1 if better.get(name, "lower") == "lower" else 1
        won = sum(1 for b, h in zip(bs, hs) if sign * (h - b) > 0)
        rows.append({
            "metric": name, "base_p50": bmed, "base_q1": bq1, "base_q3": bq3,
            "head_p50": hmed, "head_q1": hq1, "head_q3": hq3,
            "ratio": hmed / bmed if bmed else float("nan"),
            "won": won, "pairs": len(pairs),
            "sep": abs(hmed - bmed) > (bq3 - bq1),
        })
    return rows


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("head")
    ap.add_argument("--workload", default="native_mixed")
    ap.add_argument("--seeds", default="21-30")
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    base, head = os.path.abspath(args.base), os.path.abspath(args.head)
    pairs = []
    for i, seed in enumerate(_seeds(args.seeds)):
        order = [("base", base), ("head", head)]
        if i % 2:
            order.reverse()
        got = {}
        for side, checkout in order:
            res = _run(checkout, args.workload, seed, args.seconds, args.trace)
            got[side] = res
            if args.out and res is not None:
                with open(args.out, "a") as f:
                    f.write(json.dumps({"side": side, "seed": seed,
                                        "workload": args.workload,
                                        "trace": args.trace, **res}) + "\n")
        ok = all(r is not None for r in got.values())
        print(f"seed {seed} ({order[0][0]} first): "
              + ("ok" if ok else "failed, pair left out"), file=sys.stderr)
        if ok:
            pairs.append((got["base"], got["head"]))
    print(f"{args.workload}: {len(pairs)} pairs, --seconds {args.seconds:g}, "
          f"--trace {args.trace}")
    for side, idx in (("base", 0), ("head", 1)):
        failed = sum(p[idx].get("failed", 0) for p in pairs)
        attempted = sum(p[idx].get("attempted", 0) for p in pairs)
        print(f"  {side}: {failed} failed of {attempted} ops")
    print(f"{'metric':40} {'base p50 [q1, q3]':>30} {'head p50 [q1, q3]':>30}"
          f" {'ratio':>7} {'won':>6}  sep")
    for r in summarize(pairs, _better(head)):
        base_cell = f"{r['base_p50']:.4g} [{r['base_q1']:.4g}, {r['base_q3']:.4g}]"
        head_cell = f"{r['head_p50']:.4g} [{r['head_q1']:.4g}, {r['head_q3']:.4g}]"
        won = f"{r['won']}/{r['pairs']}"
        print(f"{r['metric']:40} {base_cell:>30} {head_cell:>30}"
              f" {r['ratio']:7.3f} {won:>6}  {'yes' if r['sep'] else 'no'}")
    return 0 if pairs else 1


if __name__ == "__main__":
    sys.exit(main())
