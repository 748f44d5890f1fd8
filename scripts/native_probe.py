#!/usr/bin/env python
"""Native-array metadata-pruning scale probe (BASELINE.md round-4 row).

Writes single-fragment sparse arrays of growing cell counts with the
pure-Python writer, then times: a narrow 100-cell ranged read (bisect +
O(span) decode), metadata-only COUNT(*), the est_result_size analog,
and a full decode.  The claim under test: selective reads grow
SUB-linearly and stats queries are FLAT while full decodes grow
linearly — the shape that matters at 100 TB.

Usage: python scripts/native_probe.py [cells ...]   (default 50k 200k 800k)
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from tiledb_mariadb_spark.sources.tiledb_native import (
        NativeAttr,
        NativeDim,
        count_native_array,
        estimate_range_cells,
        read_native_array_range_np,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        create_native_array,
        write_native_fragment,
    )

    sizes = [int(a) for a in sys.argv[1:]] or [50_000, 200_000, 800_000]
    print("| cells | write | narrow-100 | COUNT | est | full |")
    print("|---|---|---|---|---|---|")
    for n in sizes:
        # removed with everything under it, even when a step fails
        with tempfile.TemporaryDirectory(prefix="native_probe_") as tmp:
            d = tmp + "/arr"
            create_native_array(
                d,
                dims=[NativeDim("k", 1, 1, (0, 10**9), None)],
                attrs=[NativeAttr("v", 1, 1, False, None)],
                capacity=10_000,
            )
            t0 = time.time()
            write_native_fragment(
                d, {"k": list(range(n)), "v": list(range(n))}, ts=10
            )
            tw = time.time() - t0
            t0 = time.time()
            _names, cols = read_native_array_range_np(
                d, ranges=[(n // 2, n // 2 + 99)]
            )
            tn = time.time() - t0
            assert len(cols["k"]) == 100
            t0 = time.time()
            c = count_native_array(d)
            tc = time.time() - t0
            assert c == n
            t0 = time.time()
            e = estimate_range_cells(d, ranges=[(0, n // 10)])
            te = time.time() - t0
            assert e is not None and e >= n // 10
            t0 = time.time()
            _names, allc = read_native_array_range_np(d)
            tf = time.time() - t0
            assert len(allc["k"]) == n
            print(
                f"| {n} | {tw:.2f} s | {tn * 1000:.0f} ms | {tc * 1000:.1f} ms"
                f" | {te * 1000:.1f} ms | {tf:.2f} s |"
            )

    # v11+ attribute-stats probe on the reference's largest modern array:
    # metadata-only MIN/MAX/SUM + refutation pruning vs a full decode of
    # the same 58,870-cell fragment (stats are a per-fragment O(1)
    # footer walk; the full decode pays for every var-string cell)
    from tiledb_mariadb_spark.reference_fixtures import TEST_DATA
    from tiledb_mariadb_spark.sources.tiledb_native import (
        attr_stats_native_array,
        read_native_array,
    )

    tab = f"{TEST_DATA}/tabula-sapiens-immune-var"
    if not os.path.isdir(tab):
        print(f"tabula v21 attr-stats step skipped: {tab} not present")
        return 0
    t0 = time.time()
    st = attr_stats_native_array(tab)
    ts = time.time() - t0
    t0 = time.time()
    _n2, pruned = read_native_array_range_np(
        tab, prune_conditions=[("gene_symbol", ">", 99999)]
    )
    tp = time.time() - t0
    t0 = time.time()
    _s3, rows = read_native_array(tab)
    tf2 = time.time() - t0
    assert st["gene_symbol"]["sum"] == sum(r[2] for r in rows)
    assert not len(pruned["gene_symbol"])
    print(
        f"tabula v21 (58,870 cells): attr stats {ts * 1000:.1f} ms, "
        f"stats-pruned refuted scan {tp * 1000:.1f} ms, "
        f"full decode {tf2:.2f} s"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
