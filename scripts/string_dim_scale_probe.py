#!/usr/bin/env python
"""STRING-DIM fast-path scale probe (BASELINE.md round-7 row).

The var-UTF-8-dimension columnar path (round 6, q317's shape) is the
newest fast-path member and had no BASELINE probe: its suspected
ceiling is the Arrow from_buffers key decode plus the stable
OBJECT-argsort merge chain (string keys cannot ride np.lexsort).  This
probe writes string-keyed native arrays of growing cell counts through
the DISTRIBUTED connector (range-partitioned fragment-per-task writes)
and measures on this box:

- distributed write wall + decoded-payload MB/s;
- distributed full-scan wall + MB/s (fast-path Arrow decode + object
  argsort merge + newest-wins dedup in mapInPandas tasks);
- a narrow 1000-key string-range read (dim_ranges with string bounds);
- the same full scan with an OVERLAPPING second layer (newest-wins on
  string keys), isolating the merge/dedup increment.

Usage: python scripts/string_dim_scale_probe.py [mult ...]
(default 1 4 10; base 1M cells).  Row payload: 16-byte doc key +
int64 + ~5-byte lang string = ~29 B/cell decoded.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE_ROWS = 1_000_000
ROW_BYTES = 29


def main() -> int:
    from pyspark.sql import functions as F

    from tiledb_mariadb_spark.session import get_spark
    from tiledb_mariadb_spark.sources import tiledb_native as tn
    from tiledb_mariadb_spark.sources.tiledb_array import (
        ArrayInfo,
        AttrInfo,
        DimInfo,
        NativeDecoderBackend,
        read_array,
        write_array,
    )

    mults = [int(a) for a in sys.argv[1:]] or [1, 4, 10]
    spark = get_spark("string-dim-scale-probe")
    be = NativeDecoderBackend()
    print("| cells | frags | write | write MB/s | full scan | scan MB/s |"
          " narrow-1k | overlap scan |")
    print("|---|---|---|---|---|---|---|---|")
    for mult in mults:
        n = BASE_ROWS * mult
        uri = tempfile.mkdtemp(prefix=f"sdp_{mult}x_") + "/docs"
        be.create(uri, ArrayInfo(
            dims=[DimInfo("doc_id", "string", None)],
            attrs=[AttrInfo("n_chars", "bigint", False),
                   AttrInfo("lang", "string", False)],
        ))
        df = (
            spark.range(0, n)
            .select(
                F.format_string("doc-%011d", F.col("id")).alias("doc_id"),
                (F.col("id") % 9973).alias("n_chars"),
                F.element_at(
                    F.array(F.lit("en"), F.lit("de"), F.lit("fr"),
                            F.lit("ja")),
                    (F.col("id") % 4 + 1).cast("int"),
                ).alias("lang"),
            )
            .repartitionByRange(32, "doc_id")
        )
        t0 = time.time()
        write_array(df, uri)
        tw = time.time() - t0
        frags = len(tn._fragment_dirs(uri))
        mb = n * ROW_BYTES / 1e6
        t0 = time.time()
        cnt = read_array(spark, uri, target_splits=32).count()
        ts = time.time() - t0
        assert cnt == n, (cnt, n)
        lo = f"doc-{n // 2:011d}"
        hi = f"doc-{n // 2 + 999:011d}"
        t0 = time.time()
        k = read_array(
            spark, uri, dim_ranges={"doc_id": (lo, hi)}
        ).count()
        tn1k = time.time() - t0
        assert k == 1000, k
        # overlapping newest-wins layer over 10% of the keys
        over = df.filter(F.col("n_chars") % 10 == 0).withColumn(
            "n_chars", F.col("n_chars") + 1_000_000
        )
        write_array(over, uri)
        t0 = time.time()
        cnt2 = read_array(spark, uri, target_splits=32).count()
        tov = time.time() - t0
        assert cnt2 == n, (cnt2, n)
        print(f"| {n:,} | {frags} | {tw:.2f} s | {mb / tw:.0f} |"
              f" {ts:.2f} s | {mb / ts:.0f} | {tn1k:.2f} s |"
              f" {tov:.2f} s |")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
