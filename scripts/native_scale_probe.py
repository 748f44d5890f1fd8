#!/usr/bin/env python
"""Native-CONNECTOR scale probe (BASELINE.md round-5 row).

Writes multi-fragment native arrays of growing row counts through the
DISTRIBUTED connector (range-partitioned fragment-per-task writes, the
q305/q307 shape), then measures on this box:

- distributed write wall + decoded-payload MB/s (pure-Python encode);
- distributed full-scan wall + MB/s (pure-Python chunk decode in
  mapInPandas tasks);
- a narrow 1000-cell mid-array ranged read, with the span-decode
  counters (`_SPAN_STATS`) captured — the O(split) claim is that
  bytes_decoded for the SAME window stays FLAT as the array grows;
- metadata-only COUNT(*) (flat, footer walk only).

The decode MB/s number is the measured cost of the no-native-deps
boundary (round-4 verdict item 3): it tells round 6 whether a numpy
batch-decode pass is worth building.

Usage: python scripts/native_scale_probe.py [mult ...]   (default 1 10 30)
Base size is 1M rows x (int64 dim + float64 + int64 attrs) = 24 B/row.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE_ROWS = 1_000_000
ROW_BYTES = 24  # int64 dim + float64 + int64 attr, decoded


def main() -> int:
    from pyspark.sql import functions as F

    from tiledb_mariadb_spark.session import get_spark
    from tiledb_mariadb_spark.sources.tiledb_array import (
        ArrayInfo,
        AttrInfo,
        DimInfo,
        NativeDecoderBackend,
        read_array,
        write_array,
    )
    from tiledb_mariadb_spark.sources import tiledb_native as tn

    mults = [int(a) for a in sys.argv[1:]] or [1, 10, 30]
    spark = get_spark("native-scale-probe")
    be = NativeDecoderBackend()
    print("| rows | frags | write | write MB/s | full scan | scan MB/s | "
          "narrow-1k | narrow bytes decoded | COUNT |")
    print("|---|---|---|---|---|---|---|---|---|")
    for mult in mults:
        n = BASE_ROWS * mult
        uri = tempfile.mkdtemp(prefix=f"nsp_{mult}x_") + "/arr"
        be.create(uri, ArrayInfo(
            dims=[DimInfo("id", "bigint", (0, n * 2))],
            attrs=[AttrInfo("price", "double", False),
                   AttrInfo("qty", "bigint", False)],
        ))
        df = (
            spark.range(0, n)
            .select(
                F.col("id"),
                (F.col("id") % 9973 * 0.25).alias("price"),
                (F.col("id") % 50).alias("qty"),
            )
            # range partitioning = disjoint fragment NEDs: COUNT stays
            # provable and splits prune cleanly (the q305 write shape)
            .repartitionByRange(32, "id")
        )
        t0 = time.time()
        write_array(df, uri)
        tw = time.time() - t0
        frags = len(tn._fragment_dirs(uri))
        mb = n * ROW_BYTES / 1e6

        t0 = time.time()
        total = read_array(spark, uri, target_splits=64).count()
        ts = time.time() - t0
        assert total == n, (total, n)

        # narrow window in the middle, single-process, span counters on
        for k in tn._SPAN_STATS:
            tn._SPAN_STATS[k] = 0
        lo = n // 2
        t0 = time.time()
        _names, cols = tn.read_native_array_range_np(
            uri, ranges=[(lo, lo + 999)], columns=["price"]
        )
        tn_narrow = time.time() - t0
        assert len(cols["id"]) == 1000
        span = dict(tn._SPAN_STATS)

        t0 = time.time()
        cnt = tn.count_native_array(uri)
        tc = time.time() - t0
        assert cnt == n
        print(
            f"| {n:,} | {frags} | {tw:.1f} s | {mb / tw:.0f} | {ts:.1f} s "
            f"| {mb / ts:.0f} | {tn_narrow * 1000:.0f} ms "
            f"| {span['bytes_decoded']:,} ({span['chunks_decoded']} chunks) "
            f"| {tc * 1000:.1f} ms |"
        )
        sys.stdout.flush()
    print(json.dumps({"probe": "native_connector_scale", "mults": mults}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
