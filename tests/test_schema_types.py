"""Type-system parity tests (SURVEY §1.3) + catalog extensions: enum
validation, subset registration, est_records stats."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tiledb_mariadb_spark.catalog import Attr, Dim, TileTable
from tiledb_mariadb_spark.schema import (
    discover_tiledb_schema,
    micros_of_day_to_string,
    spark_type_for,
    tiledb_type_for,
    time_to_micros_of_day,
)



def test_unsigned_widening():
    assert spark_type_for("UINT8") == T.ShortType()
    assert spark_type_for("UINT16") == T.IntegerType()
    assert spark_type_for("UINT32") == T.LongType()
    assert spark_type_for("UINT64") == T.DecimalType(20, 0)


def test_decimal_not_degraded_but_mapped_lossy_outbound():
    # we keep DecimalType inbound; outbound CREATE maps like the reference
    assert tiledb_type_for("decimal(12,2)") == "FLOAT64"
    assert tiledb_type_for("decimal(20,0)") == "UINT64"


def test_multivalue_cells_are_arrays():
    assert tiledb_type_for("array<float>") == "FLOAT32[]"


def test_unknown_types_rejected():
    with pytest.raises(ValueError):
        spark_type_for("VOID")
    with pytest.raises(ValueError):
        tiledb_type_for("map<string,int>")


def test_discovery_direction(spark):
    df = spark.createDataFrame(
        [(1, "x", 1.5)], "k int, s string, v double"
    )
    assert discover_tiledb_schema(df.schema) == [
        ("k", "INT32", True),
        ("s", "STRING_UTF8", True),
        ("v", "FLOAT64", True),
    ]


def test_time_as_micros_roundtrip(spark):
    df = spark.createDataFrame(
        [("2024-01-01 13:45:30.123456",)], "raw string"
    ).select(F.col("raw").cast("timestamp").alias("ts"))
    out = df.select(
        time_to_micros_of_day(F.col("ts")).alias("us")
    ).select(F.col("us"), micros_of_day_to_string(F.col("us")).alias("s"))
    row = out.collect()[0]
    assert row["us"] == (13 * 3600 + 45 * 60 + 30) * 1_000_000 + 123456
    assert row["s"] == "13:45:30.123456"


def test_enum_attribute_validated_on_write(spark, tmp_path):
    tt = TileTable.create(
        spark,
        f"{tmp_path}/enum",
        dimensions=[Dim("k", "int")],
        attributes=[Attr("status", "string", enum=["a", "b"])],
        overwrite=True,
    )
    tt.write(spark.createDataFrame([(1, "a")], "k int, status string"))
    with pytest.raises(ValueError, match="outside enum labels"):
        tt.write(spark.createDataFrame([(2, "zzz")], "k int, status string"))
    assert "enum=('a','b')" in tt.show_create()


def test_register_subset(spark, tmp_path):
    src = TileTable.create(
        spark,
        f"{tmp_path}/subset_src",
        dimensions=[Dim("k", "int")],
        attributes=[Attr("a", "string"), Attr("b", "double")],
        overwrite=True,
    )
    src.write(
        spark.createDataFrame([(1, "x", 1.5), (2, "y", 2.5)], "k int, a string, b double")
    )
    sub = TileTable.register_subset(
        spark, src.uri, f"{tmp_path}/subset_dst", columns=["k", "b"]
    )
    rows = sub.read().collect()
    got = {r["k"]: r["b"] for r in rows}
    assert got == {1: 1.5, 2: 2.5}
    assert sub.read().columns == ["k", "b"]
    with pytest.raises(ValueError, match="all dimensions"):
        TileTable.register_subset(spark, src.uri, f"{tmp_path}/subset_bad", columns=["a"])


def test_est_records_counts_all_cells(spark, tmp_path):
    tt = TileTable.create(
        spark,
        f"{tmp_path}/est",
        dimensions=[Dim("k", "int")],
        attributes=[Attr("v", "string")],
        overwrite=True,
    )
    tt.write(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    tt.write(spark.createDataFrame([(1, "c")], "k int, v string"))
    # upper bound counts the superseded (1,'a') cell too
    assert tt.est_records() == 3
    assert tt.read().count() == 2
