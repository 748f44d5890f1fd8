"""Local replica of the driver's correctness gate.

Runs a suite QuerySpec on Spark and its oracle SQL on DuckDB over the same
parquet tables, then compares row count, column names, and an
order-insensitive value hash.  Used by tests so every operator is verified
the same way the driver will verify it (SURVEY.md §5 — golden-output
philosophy with DuckDB as the golden producer).
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import math
from dataclasses import dataclass

import duckdb

from tiledb_mariadb_spark.sources.registry import TABLES


def duckdb_connection(sf_dir: str) -> "duckdb.DuckDBPyConnection":
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def _norm_value(v):
    if v is None:
        return "␀"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # repr of a double is its shortest round-trip decimal — identical
        # for bit-identical doubles from either engine.
        return repr(v)
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(_norm_value(x) for x in v) + "]"
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    return str(v)


def result_fingerprint(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash: sort columns by name, then hash the sorted
    multiset of row-strings."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    row_strs = sorted(
        "\x1f".join(_norm_value(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for s in row_strs:
        h.update(s.encode())
        h.update(b"\x1e")
    return h.hexdigest()


@dataclass
class CompareResult:
    name: str
    spark_rows: int
    oracle_rows: int
    columns_match: bool
    hash_match: bool
    spark_cols: tuple
    oracle_cols: tuple

    @property
    def ok(self) -> bool:
        return (
            self.spark_rows == self.oracle_rows
            and self.columns_match
            and self.hash_match
        )


#: Spark output types the driver's pandas-based canonicalizer cannot hash
#: (lists are unhashable; map/struct stringify engine-dependently; DECIMAL
#: vs DOUBLE hash-mismatches — all driver-confirmed in round 1).  The local
#: gate fails fast instead of silently normalizing, so these bugs never
#: reach the driver.
_BANNED_OUTPUT_TYPES = ("ArrayType", "MapType", "StructType", "DecimalType")


def _check_output_schema(spec_name: str, sdf) -> None:
    for field in sdf.schema.fields:
        tname = type(field.dataType).__name__
        if tname in _BANNED_OUTPUT_TYPES:
            raise AssertionError(
                f"{spec_name}: output column {field.name!r} has driver-unsafe "
                f"type {field.dataType.simpleString()} — stringify arrays via "
                f"array_join/to_json and CAST decimals to DOUBLE/BIGINT on "
                f"both engines (see suite/__init__.py determinism notes)"
            )


def compare(spec, spark, sf_dir: str, con=None) -> CompareResult:
    sdf = spec.spark(spark, sf_dir)
    _check_output_schema(spec.name, sdf)
    s_cols = list(sdf.columns)
    s_rows = [tuple(r) for r in sdf.collect()]

    own_con = con is None
    if own_con:
        con = duckdb_connection(sf_dir)
    try:
        cur = con.execute(spec.oracle)
        o_cols = [d[0] for d in cur.description]
        o_rows = cur.fetchall()
    finally:
        if own_con:
            con.close()

    return CompareResult(
        name=spec.name,
        spark_rows=len(s_rows),
        oracle_rows=len(o_rows),
        columns_match=sorted(s_cols) == sorted(o_cols),
        hash_match=result_fingerprint(s_cols, s_rows)
        == result_fingerprint(o_cols, o_rows),
        spark_cols=tuple(s_cols),
        oracle_cols=tuple(o_cols),
    )
