#!/usr/bin/env python
"""Driver simulation: the verification surface for this repo.

Builds its own SparkSession with a deliberately NON-UTC timezone (the real
driver makes no promises about session config — suite queries must
self-tune), smoke-runs ``entry(spark)``, then executes every
``queries()[name]`` at the given sf dir and hash-compares against
``oracle_sql()[name]`` on DuckDB.  Exit code = number of mismatches.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    # usage: driver_sim.py [sf_dir] [only_substr[,only_substr...]]
    # the optional second arg filters spec names (comma-separated
    # substrings) for a fast targeted re-verification after editing a
    # handful of specs; omit it for the full gate.
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e
    from tiledb_mariadb_spark.plans.oracle import (
        _check_output_schema,
        duckdb_connection,
        result_fingerprint,
    )

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0, "entry() returned no rows"
    print(f"ENTRY: {len(rows)} rows, cols={df.columns}")

    qs, osql = e.queries(), e.oracle_sql()
    if only:
        qs = {n: f for n, f in qs.items() if any(s in n for s in only)}
        print(f"FILTER: {len(qs)} specs match {only}")
    con = duckdb_connection(sf_dir)
    fails = 0
    for name, fn in qs.items():
        try:
            sdf = fn(spark, sf_dir)
            if name in osql:
                _check_output_schema(name, sdf)  # ban list/map/struct/decimal
            s_cols, s_rows = list(sdf.columns), [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # noqa: BLE001
            print(f"{name}: SPARK ERROR {exc}")
            fails += 1
            continue
        if name not in osql:
            print(f"{name}: rows-only, {len(s_rows)} rows")
            continue
        try:
            cur = con.execute(osql[name])
            o_cols = [d[0] for d in cur.description]
            o_rows = cur.fetchall()
        except Exception as exc:  # noqa: BLE001
            print(f"{name}: ORACLE ERROR {exc}")
            fails += 1
            continue
        ok = (
            len(s_rows) == len(o_rows)
            and sorted(s_cols) == sorted(o_cols)
            and result_fingerprint(s_cols, s_rows)
            == result_fingerprint(o_cols, o_rows)
        )
        if not ok:
            fails += 1
        print(f"{name}: {'OK' if ok else 'MISMATCH'} ({len(s_rows)} vs {len(o_rows)} rows)")
    print(f"FAILS: {fails}")
    return fails


if __name__ == "__main__":
    raise SystemExit(main())
