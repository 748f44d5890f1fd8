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


if __name__ == "__main__":
    raise SystemExit(main())
