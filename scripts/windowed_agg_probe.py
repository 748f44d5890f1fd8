#!/usr/bin/env python
"""Windowed metadata aggregation scale probe (BASELINE.md source).

Writes N sorted rows as range-partitioned fragments, then times a
1%-key-window COUNT/SUM/MIN/MAX three ways:

  windowed  — windowed_agg_native (tile stats + boundary decode)
  range     — read_native_array_range_np over the window, numpy aggregate
              (what a scan-based window aggregate pays, single-threaded)
  full      — attr_stats_native_array (full-array metadata stats, for
              reference: the windowed path should stay in its ballpark)

The claim to verify: `windowed` is flat in N (footers + <=2 boundary
tiles per straddling fragment) while `range` grows with the window and
the write volume.

Usage: python scripts/windowed_agg_probe.py [n_rows] [n_fragments]
"""

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: E402
    NativeAttr,
    NativeDim,
    attr_stats_native_array,
    read_native_array_range_np,
)
from tiledb_mariadb_spark.sources.tiledb_native_agg import (  # noqa: E402
    windowed_agg_native,
)
from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: E402
    create_native_array,
    write_native_fragment,
)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 16_000_000
    nfrag = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    arr = tempfile.mkdtemp(prefix="wagg_probe_") + "/arr"
    create_native_array(
        arr,
        dims=[NativeDim("k", 1, 1, (0, 2 * n), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
        capacity=10000,
    )
    per = n // nfrag
    t0 = time.perf_counter()
    for i in range(nfrag):
        base = i * per
        ks = list(range(base, base + per))
        write_native_fragment(
            arr, {"k": ks, "v": [k % 1000 for k in ks]}, version=19
        )
    t_write = time.perf_counter() - t0

    lo = n // 2 + 137  # deliberately tile-UNALIGNED: boundary decode engages
    hi = lo + max(n // 100, 1) - 1  # 1% window

    t0 = time.perf_counter()
    res = windowed_agg_native(arr, {"k": (lo, hi)}, fields=["v"])
    t_meta = time.perf_counter() - t0
    assert res is not None

    t0 = time.perf_counter()
    _names, cols = read_native_array_range_np(arr, [(lo, hi)])
    vals = cols["v"]
    brute = (len(vals), int(vals.sum()), int(vals.min()), int(vals.max()))
    t_range = time.perf_counter() - t0

    t0 = time.perf_counter()
    full = attr_stats_native_array(arr)
    t_full = time.perf_counter() - t0

    got = res["fields"]["v"]
    assert (res["count"], got["sum"], got["min"], got["max"]) == brute, (
        res, brute,
    )
    a = res["audit"]
    print(
        f"rows={n} frags={nfrag} window={hi - lo + 1} "
        f"write={t_write:.2f}s\n"
        f"windowed_agg={t_meta * 1000:.1f}ms "
        f"(tiles: {a['tiles_contained']} meta / {a['tiles_partial']} "
        f"decoded / {a['tiles_skipped']} skipped; "
        f"cells_decoded={a['cells_decoded']})\n"
        f"range_scan_agg={t_range * 1000:.1f}ms  "
        f"full_array_stats={t_full * 1000:.1f}ms  "
        f"(full usable: {full is not None})"
    )


if __name__ == "__main__":
    main()
