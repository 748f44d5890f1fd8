"""Scale probe: DENSE metadata rollup vs distributed scan (round 8).

Fragment-per-day dense raster (the time-partitioned ingest shape),
16M cells: GROUP BY floor(day_cell/width) from fragment stats + fill
arithmetic vs the same rollup from a fill-materializing connector scan.
Writes one BASELINE.md-ready line."""

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F  # noqa: E402

from tiledb_mariadb_spark.sources.tiledb_array import read_array  # noqa: E402
from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: E402
    NativeAttr,
    NativeDim,
)
from tiledb_mariadb_spark.sources.tiledb_native_agg import (  # noqa: E402
    bucketed_agg_native,
)
from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: E402
    create_native_array,
    write_native_fragment,
)

N_FRAG = 16
CELLS = 1_000_000  # per fragment
GAP_EVERY = 5  # every 5th fragment slot left unwritten (fill region)


def main():
    uri = tempfile.mkdtemp(prefix="probe_dense_") + "/arr"
    total_slots = N_FRAG + N_FRAG // GAP_EVERY
    create_native_array(
        uri,
        dims=[NativeDim("k", 1, 1, (0, total_slots * CELLS + 10), 10_000)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
        array_type="DENSE",
    )
    t0 = time.time()
    slot = 0
    written = 0
    for f in range(N_FRAG):
        if (slot + 1) % GAP_EVERY == 0:
            slot += 1  # leave a hole: fills
        lo = slot * CELLS
        write_native_fragment(
            uri,
            {"v": list(range(f, f + CELLS))},
            subarray=[(lo, lo + CELLS - 1)], ts=f + 1, version=19,
        )
        written += CELLS
        slot += 1
    t_write = time.time() - t0

    width = CELLS  # bucket = fragment slot
    t0 = time.time()
    meta = bucketed_agg_native(uri, width)
    t_meta = time.time() - t0
    assert meta is not None
    assert meta["audit"]["cells_decoded"] == 0, meta["audit"]

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    t0 = time.time()
    scan = (
        read_array(spark, uri)
        .groupBy((F.col("k") - F.col("k") % width).alias("b"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
        .collect()
    )
    t_scan = time.time() - t0
    scan_map = {int(r["b"] // width): (r["n"], r["sv"]) for r in scan}
    meta_map = {
        int(b): (acc["count"], acc["fields"]["v"]["sum"])
        for b, acc in meta["buckets"].items()
    }
    assert scan_map == meta_map, "meta != scan"
    print(
        f"PROBE dense_rollup cells={written/1e6:.0f}M "
        f"buckets={len(meta_map)} fill_cells={meta['audit']['fill_cells']} "
        f"meta={t_meta*1000:.1f}ms scan={t_scan:.2f}s "
        f"speedup={t_scan/t_meta:.0f}x write={t_write:.1f}s"
    )
    spark.stop()


if __name__ == "__main__":
    main()
