#!/usr/bin/env python
"""Write crossover probe: ``write_array`` in the driver vs as a Spark job.

``write_array`` writes rows already in the driver (a local relation of
at most ``_CELLS_PER_TASK`` rows, ``sources/tiledb_array.py``) as one
fragment in the driver, and every other input as a ``mapInPandas`` job
of one fragment per non-empty partition.  This probe times both paths
over the same local input at growing row counts, to check that the
shared constant sits at or below the crossover.

Each round of each size builds one pandas frame (int64 key, int64 and
int32 attributes) and, for each side, a fresh native array; it times
``spark.createDataFrame(frame)`` and then ``write_array`` on that
side's path, then checks that the array reads back exactly the frame's rows.
The driver side patches the constant up to the row count, the job side
to 0, so the job has one task per partition of the local relation (the
session's default parallelism).  The two sides alternate which runs
first each round.  One JSON line per size: the minimum, median and
maximum ``write_array`` wall of each side in ms, the fragments each
side wrote, the median ``createDataFrame`` wall over both sides (the
same for either path, and paid before either one starts), and which
path the shipped constant picks.

Usage: python scripts/write_scale_probe.py [--rounds N] [rows ...]
Default rows 10000 65536 262144 1048576, 5 rounds.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROWS = (10_000, 65_536, 262_144, 1_048_576)


def main() -> int:
    import numpy as np
    import pandas as pd

    from tiledb_mariadb_spark.session import get_spark
    from tiledb_mariadb_spark.sources import tiledb_array
    from tiledb_mariadb_spark.sources.tiledb_native import (
        NativeAttr,
        NativeDim,
        _fragment_dirs,
        read_native_array_range_np,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        create_native_array,
    )

    ap = argparse.ArgumentParser()
    ap.add_argument("--rounds", type=int, default=5)
    ap.add_argument("rows", type=int, nargs="*")
    args = ap.parse_args()
    shipped = tiledb_array._CELLS_PER_TASK
    spark = get_spark("write-scale-probe")
    work = tempfile.mkdtemp(prefix="write_probe_")
    try:
        for n in args.rows or ROWS:
            wall: dict = {"driver": [], "job": []}
            create: list = []
            frags: dict = {"driver": set(), "job": set()}
            for r in range(args.rounds):
                rng = np.random.default_rng(n + r)
                k = rng.permutation(n).astype(np.int64)
                pdf = pd.DataFrame({
                    "k": k,
                    "v": rng.integers(0, 10**12, n, dtype=np.int64),
                    "q": rng.integers(0, 100, n, dtype=np.int32),
                })
                order = np.argsort(k)
                sides = ("driver", "job") if r % 2 == 0 else ("job", "driver")
                for side in sides:
                    uri = os.path.join(work, f"{side}_{n}_{r}")
                    create_native_array(
                        uri, [NativeDim("k", 1, 1, (0, 2**40), None)],
                        [NativeAttr("v", 1, 1, False, None),
                         NativeAttr("q", 0, 1, False, None)],
                    )
                    tiledb_array._CELLS_PER_TASK = n if side == "driver" else 0
                    try:
                        t0 = time.perf_counter()
                        df = spark.createDataFrame(pdf)
                        t1 = time.perf_counter()
                        tiledb_array.write_array(df, uri)
                        wall[side].append((time.perf_counter() - t1) * 1e3)
                        create.append((t1 - t0) * 1e3)
                    finally:
                        tiledb_array._CELLS_PER_TASK = shipped
                    names, cols = read_native_array_range_np(uri)
                    for c in ("k", "v", "q"):
                        if not np.array_equal(cols[c], pdf[c].to_numpy()[order]):
                            raise AssertionError(f"{side} {n} rows: {c} differs")
                    frags[side].add(len(_fragment_dirs(uri)))
                    shutil.rmtree(uri)
            print(json.dumps({
                "rows": n,
                **{
                    f"{side}_ms": [round(min(w), 1),
                                   round(statistics.median(w), 1),
                                   round(max(w), 1)]
                    for side, w in wall.items()
                },
                **{f"{side}_fragments": sorted(f) for side, f in frags.items()},
                "create_ms": round(statistics.median(create), 1),
                "shipped_path": "driver" if n <= shipped else "job",
            }), flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
