#!/usr/bin/env python
"""Zone-map top-k probe: ORDER BY attr LIMIT k wall + bytes, pruned vs
full scan, as the array grows — the claim is O(relevant-fragments).

Usage: topk_probe.py [n_frags_list]   (default "8 32 128")
Each fragment holds 250k rows; the sort attribute is monotone across
fragments (append-ordered ingest, the latest-N shape).  Reports, per
size: planner bound, fragments decoded (census), pruned wall, full
scan+sort wall.
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
    explain_native_pruning,
    topk_threshold,
)
from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: E402
    create_native_array,
    write_native_fragment,
)

ROWS = 250_000


def main() -> None:
    sizes = [int(s) for s in (sys.argv[1:] or ["8", "32", "128"])]
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    from tiledb_mariadb_spark.sources.tiledb_array import (
        read_array,
        topk_array,
    )
    from pyspark.sql import functions as F

    print("frags | rows | bound | frags_read | topk_s | fullsort_s")
    for nf in sizes:
        uri = tempfile.mkdtemp(prefix=f"topk_probe_{nf}_") + "/arr"
        create_native_array(
            uri,
            dims=[NativeDim("k", 1, 1, (0, 2**62), None)],
            attrs=[NativeAttr("ts_ms", 1, 1, False, None)],
        )
        rng = np.random.default_rng(11)
        for f in range(nf):
            base = f * ROWS
            ks = np.arange(base, base + ROWS, dtype=np.int64)
            # monotone across fragments, shuffled within
            ts = base + rng.permutation(ROWS).astype(np.int64)
            write_native_fragment(
                uri, {"k": ks, "ts_ms": ts}, ts=f + 1, version=19
            )
        t0 = time.time()
        thr = topk_threshold(uri, "ts_ms", 100)
        census = explain_native_pruning(
            uri, conditions=[("ts_ms", ">=", thr)]
        )
        kept = sum(1 for r in census if r["decision"] == "read")
        top = topk_array(spark, uri, "ts_ms", 100).collect()
        t_topk = time.time() - t0
        t0 = time.time()
        full = (
            read_array(spark, uri)
            .orderBy(F.col("ts_ms").desc(), F.col("k"))
            .limit(100)
            .collect()
        )
        t_full = time.time() - t0
        assert [tuple(r) for r in top] == [tuple(r) for r in full]
        print(
            f"{nf:5d} | {nf * ROWS:>9,d} | {thr} | {kept}/{nf} |"
            f" {t_topk:6.2f} | {t_full:6.2f}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
