#!/usr/bin/env python
"""Snapshot-diff probe: `diff_arrays` cost is O(window), not O(array).

Usage: diff_probe.py [base_millions ...]   (default "2 8 32")
Each size writes a base of N rows at ts=1000 (8 fragments), then a
10k-row update window at ts=2000 (half overwrites, half inserts).  The
claim: diff(1000, 2000) wall stays flat as the base grows, because the
plan is confined to the window fragments' union NED; a full snapshot
self-join (include_unchanged=True) shows the O(array) alternative.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: E402
    NativeAttr,
    NativeDim,
)
from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: E402
    create_native_array,
    write_native_fragment,
)

WINDOW = 10_000


def main() -> None:
    sizes = [int(s) for s in (sys.argv[1:] or ["2", "8", "32"])]
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    from tiledb_mariadb_spark.sources.tiledb_array import diff_arrays

    print("base(M) | diff_s | rows | full_selfjoin_s")
    for m in sizes:
        n = m * 1_000_000
        uri = tempfile.mkdtemp(prefix=f"diff_probe_{m}_") + "/arr"
        create_native_array(
            uri,
            dims=[NativeDim("k", 1, 1, (0, 2**62), None)],
            attrs=[NativeAttr("v", 1, 1, False, None)],
        )
        per = n // 8
        for f in range(8):
            ks = np.arange(f * per, (f + 1) * per, dtype=np.int64)
            write_native_fragment(
                uri, {"k": ks, "v": ks}, ts=1000, version=19
            )
        # 10k-key window at the tail: 5k overwrites + 5k inserts
        wk = np.arange(n - WINDOW // 2, n + WINDOW // 2, dtype=np.int64)
        write_native_fragment(
            uri, {"k": wk, "v": wk * 7}, ts=2000, version=19
        )
        t0 = time.time()
        d = diff_arrays(spark, uri, at_old=1000, at_new=2000)
        rows = d.count()
        t_d = time.time() - t0
        t0 = time.time()
        full = diff_arrays(
            spark, uri, at_old=1000, at_new=2000, include_unchanged=True
        )
        _ = full.count()
        t_f = time.time() - t0
        assert rows == WINDOW
        print(f"{m:7d} | {t_d:6.2f} | {rows:,} | {t_f:8.2f}")
    spark.stop()


if __name__ == "__main__":
    main()
