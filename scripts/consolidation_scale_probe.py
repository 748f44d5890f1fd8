#!/usr/bin/env python
"""Consolidation scale probe (BASELINE.md round-6 continuation row).

The 100 TB claim for INCREMENTAL consolidation is that its cost tracks
the APPENDED data, not the array: `plan_consolidation` picks only the
run of small recent fragments, so the big base fragment is never read
or rewritten.  This probe measures, at growing BASE sizes with a FIXED
append load (8 fragments x 50k rows):

- full `consolidate_array` wall (rewrites base + appends — O(array));
- `consolidate_array_incremental` wall on an identical copy (merges
  only the appends — should stay FLAT as the base grows);
- read-equivalence spot check (COUNT + SUM via the connector) on both.

Usage: python scripts/consolidation_scale_probe.py [mult ...]
Default mults 1 4 16 over a 250k-row base (=> 250k/1M/4M base rows).

``--crossover [--rounds N]`` instead times each maintenance step in the
driver against the same step as a Spark job, at the sizes that place
the task-sizing constants (``_CELLS_PER_TASK`` in ``tiledb_array``,
``_FRAGMENTS_PER_TASK`` in ``tiledb_native_write``):

- ``consolidate_array_incremental`` of 8 equal fragments holding 16k,
  64k, 256k and 1M cells: every round consolidates a fresh copy;
- the ``fragment_meta`` fold of 40, 400, 1000, 2000 and 8000 small
  fragments.

The driver side patches the constant high enough that the step fits
one task; the Spark side patches it to 1, so the job has
``target_splits`` (the session's cores) tasks.  The two sides alternate
which runs first each round, and every round checks the consolidated
rows (or the fold's entries) against the driver result.  One JSON line
per size: the minimum, median and maximum wall of each side, and which
path the shipped constant picks.  Decoder caches are cleared in the
driver between rounds; Spark's reused Python workers keep theirs,
which favours the Spark side.
"""

from __future__ import annotations

import json
import shutil
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE_ROWS = 250_000
APPENDS = 8
APPEND_ROWS = 50_000
# --crossover sizes: consolidation input cells, fold fragment counts
INC_CELLS = (16_384, 65_536, 262_144, 1_048_576)
FOLD_FRAGMENTS = (40, 400, 1000, 2000, 8000)


def main() -> int:
    from tiledb_mariadb_spark.session import get_spark
    from tiledb_mariadb_spark.sources.tiledb_array import (
        consolidate_array,
        consolidate_array_incremental,
        read_array,
    )
    from tiledb_mariadb_spark.sources.tiledb_native import (
        NativeAttr,
        NativeDim,
        _fragment_dirs,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        create_native_array,
        write_native_fragment,
    )

    mults = [int(m) for m in sys.argv[1:]] or [1, 4, 16]
    spark = get_spark("consolidation-probe")

    def build(base_rows: int) -> str:
        d = tempfile.mkdtemp(prefix="cons_probe_")
        uri = d + "/arr"
        create_native_array(
            uri,
            [NativeDim("k", 1, 1, (0, 2**40), None)],
            [NativeAttr("v", 1, 1, False, None)],
            capacity=65536,
            compressor="zstd",
        )
        import numpy as np

        ks = np.arange(base_rows, dtype=np.int64) * 4
        write_native_fragment(
            uri, {"k": ks, "v": ks * 3}, ts=100, version=19
        )
        for i in range(APPENDS):
            ka = (
                np.arange(APPEND_ROWS, dtype=np.int64) * 4
                + (i % 4) + 1  # interleaved, never collides with base
            )
            write_native_fragment(
                uri, {"k": ka, "v": ka * 7 + i}, ts=200 + i, version=19
            )
        return uri

    def check(uri: str):
        from pyspark.sql import functions as F

        df = read_array(spark, uri, target_splits=16)
        row = df.agg(
            F.count("*").alias("n"), F.sum("v").alias("s")
        ).collect()[0]
        return int(row.n), int(row.s)

    import os

    def _frag_bytes(uri, names):
        total = 0
        for f in _fragment_dirs(uri):
            if os.path.basename(f) in names:
                for root, _d, fls in os.walk(f):
                    total += sum(
                        os.path.getsize(os.path.join(root, fl))
                        for fl in fls
                    )
        return total

    for m in mults:
        base = BASE_ROWS * m
        uri_full = build(base)
        uri_inc = build(base)
        want = check(uri_full)
        pre_full = {os.path.basename(f) for f in _fragment_dirs(uri_full)}
        pre_inc = {os.path.basename(f) for f in _fragment_dirs(uri_inc)}
        t0 = time.time()
        n_full = consolidate_array(spark, uri_full, target_splits=16)
        full_s = time.time() - t0
        t0 = time.time()
        n_inc = consolidate_array_incremental(
            uri=uri_inc, spark=spark, target_splits=8, ratio=4.0,
            max_run=APPENDS + 1,
        )
        inc_s = time.time() - t0
        # bytes REWRITTEN = the scale-relevant cost (wall at these sizes
        # is Spark-constant dominated): full rewrites base+appends,
        # incremental only the planned run
        full_new = {
            os.path.basename(f) for f in _fragment_dirs(uri_full)
        } - pre_full
        inc_new = {
            os.path.basename(f) for f in _fragment_dirs(uri_inc)
        } - pre_inc
        ok = check(uri_full) == want and check(uri_inc) == want
        big_kept = len(_fragment_dirs(uri_inc)) >= 2  # base survives
        print(json.dumps({
            "base_rows": base,
            "append_rows": APPENDS * APPEND_ROWS,
            "full_consolidate_s": round(full_s, 2),
            "incremental_s": round(inc_s, 2),
            "full_rewritten_mb": round(
                _frag_bytes(uri_full, full_new) / 1e6, 2
            ),
            "inc_rewritten_mb": round(
                _frag_bytes(uri_inc, inc_new) / 1e6, 2
            ),
            "full_new_frags": n_full,
            "inc_new_frags": n_inc,
            "reads_identical": ok,
            "base_not_rewritten": big_kept,
        }))
        shutil.rmtree(uri_full.rsplit("/", 1)[0], ignore_errors=True)
        shutil.rmtree(uri_inc.rsplit("/", 1)[0], ignore_errors=True)
    spark.stop()
    return 0


def _clear_driver_caches() -> None:
    from tiledb_mariadb_spark.sources import tiledb_native

    for cache in (tiledb_native._WALK_CACHE, tiledb_native._FMETA_CACHE,
                  tiledb_native._BLOOM_CACHE):
        cache.clear()


def _stats(xs: list[float]) -> list[float]:
    import statistics

    return [round(min(xs) * 1000), round(statistics.median(xs) * 1000),
            round(max(xs) * 1000)]


def crossover(rounds: int) -> int:
    """Driver vs Spark-job wall of incremental consolidation and of the
    fragment-metadata fold (module docstring)."""
    import numpy as np

    from tiledb_mariadb_spark.session import get_spark
    from tiledb_mariadb_spark.sources import tiledb_array, tiledb_native_write
    from tiledb_mariadb_spark.sources.tiledb_native import (
        NativeAttr,
        NativeDim,
        read_generic_tile,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        create_native_array,
        write_native_fragment,
    )

    spark = get_spark("consolidation-crossover")
    splits = spark.sparkContext.defaultParallelism
    shipped = (tiledb_array._CELLS_PER_TASK,
               tiledb_native_write._FRAGMENTS_PER_TASK)
    root = tempfile.mkdtemp(prefix="cons_crossover_")

    def timed(side: str, fn):
        big = side == "driver"
        tiledb_array._CELLS_PER_TASK = 1 << 62 if big else 1
        tiledb_native_write._FRAGMENTS_PER_TASK = 1 << 62 if big else 1
        _clear_driver_caches()
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            (tiledb_array._CELLS_PER_TASK,
             tiledb_native_write._FRAGMENTS_PER_TASK) = shipped
        return time.perf_counter() - t0, out

    def new_array(uri: str) -> None:
        create_native_array(
            uri, [NativeDim("k", 1, 1, (0, 2**40), None)],
            [NativeAttr("v", 1, 1, False, None)], compressor="zstd",
        )

    def alternate(r: int, run) -> dict:
        sides = ("driver", "spark") if r % 2 == 0 else ("spark", "driver")
        return {side: run(side) for side in sides}

    try:
        for cells in INC_CELLS:
            tmpl = os.path.join(root, f"inc_{cells}")
            new_array(tmpl)
            per = cells // 8
            for i in range(8):
                k = np.arange(i * per, (i + 1) * per, dtype=np.int64) * 2
                write_native_fragment(tmpl, {"k": k, "v": k * 3 + i},
                                      ts=100 + i, version=19)
            walls: dict = {"driver": [], "spark": []}
            want = None
            for r in range(rounds):
                def run(side):
                    uri = os.path.join(root, f"inc_{cells}_{r}_{side}")
                    shutil.copytree(tmpl, uri)
                    wall, n = timed(side, lambda: (
                        tiledb_array.consolidate_array_incremental(
                            spark, uri, target_splits=splits)))
                    got = tiledb_array.NativeDecoderBackend().read_range(
                        uri, [(None, None)], ["k", "v"])
                    shutil.rmtree(uri)
                    walls[side].append(wall)
                    return n, int(got["v"].sum()), len(got)
                res = alternate(r, run)
                want = want or res["driver"][1:]
                assert res["driver"][1:] == res["spark"][1:] == want, res
            print(json.dumps({
                "step": "incremental", "input_cells": cells,
                "driver_ms": _stats(walls["driver"]),
                "spark_ms": _stats(walls["spark"]),
                "spark_tasks": splits,
                "shipped_path": "driver" if cells <= shipped[0] else "spark",
            }), flush=True)
            shutil.rmtree(tmpl)
        uri = os.path.join(root, "fold")
        new_array(uri)
        written = 0
        for n_frags in FOLD_FRAGMENTS:
            for f in range(written, n_frags):
                write_native_fragment(
                    uri, {"k": [f * 100, f * 100 + 1], "v": [f, f]},
                    ts=f + 1, version=19,
                )
            written = n_frags
            walls = {"driver": [], "spark": []}
            for r in range(rounds):
                def run(side):
                    wall, path = timed(side, lambda: (
                        tiledb_native_write.consolidate_fragment_meta(
                            uri, spark=spark, target_splits=splits)))
                    doc = read_generic_tile(path).decode()
                    shutil.rmtree(os.path.join(uri, "__fragment_meta"))
                    walls[side].append(wall)
                    return json.loads(doc)["fragments"]
                res = alternate(r, run)
                assert res["driver"] == res["spark"]
            print(json.dumps({
                "step": "fragment_meta", "fragments": n_frags,
                "driver_ms": _stats(walls["driver"]),
                "spark_ms": _stats(walls["spark"]),
                "spark_tasks": min(splits, n_frags),
                "shipped_path": "driver" if n_frags <= shipped[1] else "spark",
            }), flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()
    return 0


if __name__ == "__main__":
    if sys.argv[1:2] == ["--crossover"]:
        n = int(sys.argv[3]) if sys.argv[2:3] == ["--rounds"] else 5
        raise SystemExit(crossover(n))
    raise SystemExit(main())
