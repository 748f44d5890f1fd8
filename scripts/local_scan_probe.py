#!/usr/bin/env python
"""Local-scan probe: latency, Spark jobs and JVM memory of one
``tiledb_agg`` range read per array size.

Usage: local_scan_probe.py [--repo DIR] [--rounds N]

Builds one single-fragment sparse array per size (1k, 16k, 64k and
256k cells, k = 0..n-1, int64 ``v``, int32 ``q``, float64 ``x``) and a
300k-cell one that the bridge plans as two splits, then times ``SELECT
k, v, q, x FROM t WHERE k BETWEEN 0 AND n-1`` ``N`` times per array
through the ``tiledb_agg`` reader of the checkout at ``--repo``
(default: this one).  For each array it prints one JSON line: the
median ``collect()`` wall time (rows into Python), the median JVM-side
``collectAsList()`` time, Spark jobs per query, and the JVM's peak RSS
(``VmHWM``, which only grows: sizes run smallest first).

Run it once here and once with ``--repo`` pointing at a checkout from
before local scans: at and under 262144 estimated cells, this checkout
reads the one split in the driver (0 jobs) and the older one runs it
as a one-task batch scan, so the pair of runs compares the two ways at
equal sizes.  The two-split array is a batch scan in both.
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
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIZES = (1 << 10, 1 << 14, 1 << 16, 1 << 18, 300_000)


def _build(root: str, n: int) -> str:
    import numpy as np  # noqa: PLC0415

    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        NativeAttr,
        NativeDim,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
        create_native_array,
        write_native_fragment,
    )

    uri = os.path.join(root, f"a{n}")
    create_native_array(
        uri,
        [NativeDim("k", 1, 1, (0, 2**40), 4096)],
        [NativeAttr("v", 1, 1, False, None),
         NativeAttr("q", 0, 1, False, None),
         NativeAttr("x", 3, 1, False, None)],
        compressor="zstd",
    )
    rng = np.random.default_rng(n)
    k = np.arange(n, dtype=np.int64)
    write_native_fragment(
        uri,
        {"k": k, "v": rng.integers(0, 10**12, n, dtype=np.int64),
         "q": rng.integers(0, 1000, n, dtype=np.int32), "x": rng.random(n)},
        ts=1, version=19,
    )
    return uri


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return float("nan")


def _jobs(spark, fn):
    sc = spark.sparkContext
    group = "probe_" + uuid.uuid4().hex
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--repo", default=ROOT)
    ap.add_argument("--rounds", type=int, default=15)
    args = ap.parse_args()
    repo = os.path.abspath(args.repo)
    sys.path.insert(0, repo)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    from tiledb_mariadb_spark.session import get_spark  # noqa: PLC0415
    from tiledb_mariadb_spark.sources.jvm_agg import agg_reader  # noqa: PLC0415

    root = tempfile.mkdtemp(prefix="local_scan_probe_")
    try:
        uris = {n: _build(root, n) for n in SIZES}
        spark = get_spark("local_scan_probe")
        jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
        for n in SIZES:
            view = f"t{n}"
            agg_reader(spark, uris[n]).load().createOrReplaceTempView(view)
            sql = f"SELECT k, v, q, x FROM {view} WHERE k BETWEEN 0 AND {n - 1}"
            assert len(spark.sql(sql).collect()) == n  # warm, and exact
            walls, jvms = [], []
            for _ in range(args.rounds):
                t0 = time.perf_counter()
                spark.sql(sql).collect()
                walls.append(time.perf_counter() - t0)
                t0 = time.perf_counter()
                spark.sql(sql)._jdf.collectAsList().size()
                jvms.append(time.perf_counter() - t0)
            print(json.dumps({
                "repo": repo, "cells": n,
                "jobs": _jobs(spark, lambda sql=sql: spark.sql(sql).collect()),
                "collect_p50_ms": round(statistics.median(walls) * 1e3, 1),
                "jvm_collect_p50_ms": round(statistics.median(jvms) * 1e3, 1),
                "jvm_peak_rss_mb": round(_peak_rss_mb(jvm)),
            }), flush=True)
        spark.stop()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
