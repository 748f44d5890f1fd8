#!/usr/bin/env python
"""DENSE-array scale probe (BASELINE.md round-6 row).

Measures the round-6 first-class dense tier: space-tiled **v19** dense
fragment writes (single-process, the per-task cost of a distributed box
write) and reads through the dense branch of the columnar reader
(`_read_dense_range_np` — generated coordinates, no coordinate files at
all):

- v19 dense write wall + decoded MB/s (vectorized stats + zstd);
- full-scan wall + MB/s;
- a narrow 1000-cell mid-array dim0-range read (row-major layout ->
  contiguous cell span; bytes decoded stay O(window) as the array
  grows);
- metadata COUNT (footer NED walk, flat).

Usage: python scripts/dense_scale_probe.py [mult ...]   (default 1 10 30)
Base size is 1M cells x (float64 + int64 attrs) = 16 B/cell decoded
(dense stores NO coordinates — the 24 B/row sparse probe's dim column
is generated arithmetic here, which is the point).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = 1_000_000
CELL_BYTES = 16  # float64 + int64 attr payload (dims are generated)


def main() -> int:
    import numpy as np

    from tiledb_mariadb_spark.sources import tiledb_native as tn
    from tiledb_mariadb_spark.sources.tiledb_native import (
        NativeAttr, NativeDim,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        create_native_array, write_native_fragment,
    )

    mults = [int(a) for a in sys.argv[1:]] or [1, 10, 30]
    print("| cells | tiles | v19 write | write MB/s | np scan | np MB/s "
          "| narrow-1k | narrow bytes | COUNT |")
    print("|---|---|---|---|---|---|---|---|---|")
    for mult in mults:
        n = BASE * mult
        uri = tempfile.mkdtemp(prefix=f"dsp_{mult}x_") + "/arr"
        create_native_array(
            uri,
            array_type="DENSE",
            dims=[NativeDim("k", 1, 1, (0, n - 1), 100_000)],
            attrs=[NativeAttr("price", 3, 1, False, None),
                   NativeAttr("qty", 1, 1, False, None)],
            compressor="zstd",
        )
        cols = {
            "price": (np.arange(n) % 9973) * 0.25,
            "qty": (np.arange(n) % 50).astype(np.int64),
        }
        t0 = time.time()
        write_native_fragment(uri, cols, ts=100, version=19)
        tw = time.time() - t0
        mb = n * CELL_BYTES / 1e6
        tiles = (n + 99_999) // 100_000

        t0 = time.time()
        names, arrs = tn.read_native_array_range_np(uri)
        t_np = time.time() - t0
        assert len(arrs["k"]) == n

        for k in tn._SPAN_STATS:
            tn._SPAN_STATS[k] = 0
        lo = n // 2
        t0 = time.time()
        _nm, arrs = tn.read_native_array_range_np(
            uri, ranges=[(lo, lo + 999)], columns=["price"]
        )
        t_narrow = time.time() - t0
        assert len(arrs["k"]) == 1000
        span = dict(tn._SPAN_STATS)

        t0 = time.time()
        cnt = tn.count_native_array(uri)
        tc = time.time() - t0
        assert cnt == n
        print(
            f"| {n:,} | {tiles} | {tw:.1f} s | {mb / tw:.0f} "
            f"| {t_np:.1f} s | {mb / t_np:.0f} "
            f"| {t_narrow * 1000:.0f} ms "
            f"| {span['bytes_decoded']:,} ({span['chunks_decoded']} chunks) "
            f"| {tc * 1000:.1f} ms |"
        )
        sys.stdout.flush()
    print(json.dumps({"probe": "dense_scale", "mults": mults}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
