#!/usr/bin/env python
"""Bucketed metadata rollup scale probe (BASELINE.md source).

Writes N sorted rows as range-partitioned fragments, then times
GROUP BY floor(k/width) COUNT/SUM/MIN/MAX two ways:

  bucketed — bucketed_agg_native (tile stats per contained tile, edge
             tiles decoded) — driver-side, one footer walk
  scan     — read_native_array_range_np full read + python group-fold
             (what a scan-based rollup pays per fragment, single
             thread; the distributed groupBy adds a shuffle on top)

The claim: with bucket edges coarser than tiles, the metadata path
cost tracks TILE COUNT (footers + edge tiles), not cell count.

Usage: python scripts/bucketed_probe.py [n_rows] [n_fragments] [width]
"""

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: E402
    NativeAttr,
    NativeDim,
    read_native_array_range_np,
)
from tiledb_mariadb_spark.sources.tiledb_native_agg import (  # noqa: E402
    bucketed_agg_native,
)
from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: E402
    create_native_array,
    write_native_fragment,
)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 16_000_000
    nfrag = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    width = int(sys.argv[3]) if len(sys.argv) > 3 else 25_000  # unaligned
    arr = tempfile.mkdtemp(prefix="bagg_probe_") + "/arr"
    create_native_array(
        arr,
        dims=[NativeDim("k", 1, 1, (0, 2 * n), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
        capacity=10000,
    )
    t0 = time.time()
    step = -(-n // nfrag)
    for f in range(nfrag):
        lo, hi = f * step, min((f + 1) * step, n)
        ks = np.arange(lo, hi, dtype=np.int64)
        write_native_fragment(arr, {"k": ks, "v": ks * 3}, ts=f + 1,
                              version=19)
    print(f"write: {n} rows / {nfrag} frags in {time.time() - t0:.2f}s")

    t0 = time.time()
    res = bucketed_agg_native(arr, width, fields=["v"])
    t_meta = time.time() - t0
    a = res["audit"]
    n_buckets = len(res["buckets"])

    t0 = time.time()
    _names, cols = read_native_array_range_np(arr, None)
    agg = {}
    for k, v in zip(cols["k"].tolist(), cols["v"].tolist()):
        e = agg.setdefault(k // width, [0, 0])
        e[0] += 1
        e[1] += v
    t_scan = time.time() - t0
    assert len(agg) == n_buckets
    assert all(
        agg[b][0] == res["buckets"][b]["count"]
        and agg[b][1] == res["buckets"][b]["fields"]["v"]["sum"]
        for b in agg
    )
    print(
        f"buckets: {n_buckets} (width {width}); metadata {t_meta*1000:.1f}ms "
        f"(contained {a['tiles_contained']}, edge {a['tiles_partial']}, "
        f"cells_decoded {a['cells_decoded']}) vs scan+fold {t_scan:.2f}s "
        f"-> {t_scan / t_meta:.0f}x"
    )


if __name__ == "__main__":
    main()
