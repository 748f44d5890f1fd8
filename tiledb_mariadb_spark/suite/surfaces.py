"""Tier-P catalog surfaces as conformance queries: DDL round-trip,
@metadata, time travel, discovery, schema evolution, dense fill-in, CSV
load, INSERT INTO SELECT.

These queries exercise the write path, so they build small tile tables
under ``.tmp/`` (idempotent: overwrite per run) from deterministic inputs,
then read them back; the oracle reproduces the expected result from the
source views or literals — the same golden-output idea as the reference's
discovery.test / open_at.test / fill_in.test.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tiledb_mariadb_spark.catalog import Attr, Dim, TileTable
from tiledb_mariadb_spark.suite import QuerySpec, ldf, t

def _uri(name: str, sf_dir: str) -> str:
    from tiledb_mariadb_spark.suite.scratch import scratch_dir, tag  # noqa: PLC0415

    return os.path.join(scratch_dir("tile_tables"), f"{name}-{tag(sf_dir)}")


# --- q80: @metadata virtual table -----------------------------------------
def q80_metadata(spark, sf_dir):
    r = t(spark, sf_dir, "region")
    tt = TileTable.create(
        spark,
        _uri("meta_region", sf_dir),
        dimensions=[Dim("r_regionkey", "int", lower=0, upper=4, tile_extent=5)],
        attributes=[Attr("r_name", "string")],
        array_type="SPARSE",
        overwrite=True,
    )
    tt.write(r, version_ts=1000)
    tt.set_metadata("owner", "analytics")
    tt.set_metadata("created", "2026-01-01")
    tt.set_metadata("array_type", tt.schema.array_type)
    return tt.metadata_df()


Q80_SQL = """
SELECT * FROM (VALUES
  ('array_type', 'SPARSE'),
  ('created', '2026-01-01'),
  ('owner', 'analytics')) AS m(key, value)
"""


# --- q81: time travel (open_at / uri@ts) -----------------------------------
def q81_time_travel(spark, sf_dir):
    r = t(spark, sf_dir, "region")
    tt = TileTable.create(
        spark,
        _uri("tt_region", sf_dir),
        dimensions=[Dim("r_regionkey", "int")],
        attributes=[Attr("r_name", "string")],
        overwrite=True,
    )
    tt.write(r, version_ts=1000)
    updated = r.withColumn(
        "r_name",
        F.when(F.col("r_regionkey") == 0, F.lit("AFRICA (renamed)")).otherwise(
            F.col("r_name")
        ),
    )
    tt.write(updated, version_ts=2000)
    v1 = tt.read(at=1500).withColumn("snap", F.lit("v1"))
    latest = tt.read().withColumn("snap", F.lit("latest"))
    empty = tt.read(at=0).withColumn("snap", F.lit("t0"))  # @0 → zero rows
    return v1.unionByName(latest).unionByName(empty).select(
        "snap", "r_regionkey", "r_name"
    )


Q81_SQL = """
SELECT 'v1' AS snap, r_regionkey, r_name FROM region
UNION ALL
SELECT 'latest' AS snap, r_regionkey,
       CASE WHEN r_regionkey = 0 THEN 'AFRICA (renamed)' ELSE r_name END AS r_name
FROM region
"""


# --- q82: discovery → synthesized CREATE TABLE -----------------------------
def q82_discovery(spark, sf_dir):
    n = t(spark, sf_dir, "nation")
    tt = TileTable.create(
        spark,
        _uri("disc_nation", sf_dir),
        dimensions=[Dim("n_nationkey", "int", lower=0, upper=24, tile_extent=25)],
        attributes=[Attr("n_name", "string"), Attr("n_regionkey", "int")],
        array_type="SPARSE",
        overwrite=True,
    )
    tt.write(n, version_ts=1000)
    lines = tt.show_create(name="nation_tile", display_uri="tile://nation").split("\n")

    # enum inference during discovery (mytile-discovery.cc:338-379): a
    # low-cardinality string column surfaces as enum=('…') in the
    # synthesized DDL, a high-cardinality one stays plain.  Only the two
    # attr lines are golden — dim bounds are scale-factor-dependent.
    from tiledb_mariadb_spark.catalog import discover_parquet  # noqa: PLC0415

    src = _uri("disc_orders_src", sf_dir)
    t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.md5(F.col("o_orderkey").cast("string")).alias("o_token"),
    ).write.mode("overwrite").parquet(src)
    dt = discover_parquet(
        spark, src, _uri("disc_orders", sf_dir), dimensions=["o_orderkey"]
    )
    enum_lines = [
        ln.rstrip(",")
        for ln in dt.show_create().split("\n")
        if "`o_orderpriority`" in ln or "`o_token`" in ln
    ]
    rows = [(i + 1, line) for i, line in enumerate(lines + sorted(enum_lines))]
    return ldf(spark, rows, schema="line_no long, line string")


_Q82_EXPECTED = [
    "CREATE TABLE `nation_tile` (",
    "  `n_nationkey` int NOT NULL dimension=1 lower_bound='0' upper_bound='24' tile_extent='25',",
    "  `n_name` string,",
    "  `n_regionkey` int,",
    "  PRIMARY KEY (`n_nationkey`)",
    ") uri='tile://nation' array_type='SPARSE' capacity=10000 cell_order=ROW_MAJOR tile_order=ROW_MAJOR",
    "  `o_orderpriority` string enum=('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')",
    "  `o_token` string",
]


def q82_oracle() -> str:
    values = ",\n  ".join(
        f"({i + 1}, '{line.replace(chr(39), chr(39) * 2)}')"
        for i, line in enumerate(_Q82_EXPECTED)
    )
    return f"SELECT * FROM (VALUES\n  {values}) AS v(line_no, line)"


# --- q83: schema evolution (ADD/DROP column) -------------------------------
def q83_schema_evolution(spark, sf_dir):
    s = t(spark, sf_dir, "supplier").filter(F.col("s_suppkey") < 50)
    tt = TileTable.create(
        spark,
        _uri("evo_supplier", sf_dir),
        dimensions=[Dim("s_suppkey", "bigint")],
        attributes=[Attr("s_name", "string")],
        overwrite=True,
    )
    tt.write(s.select("s_suppkey", "s_name"), version_ts=1000)
    tt.add_column("s_acctbal", "double", fill=0.0)
    # second batch carries the new column for a disjoint key range
    shifted = s.select(
        (F.col("s_suppkey") + 1000).alias("s_suppkey"), "s_name", "s_acctbal"
    )
    tt.write(shifted, version_ts=2000)
    after_add = tt.read_evolved().withColumn("step", F.lit("after_add"))
    tt.drop_column("s_name")
    after_drop = (
        tt.read_evolved()
        .withColumn("step", F.lit("after_drop"))
        .withColumn("s_name", F.lit(None).cast("string"))
    )
    return after_add.unionByName(after_drop).select(
        "step", "s_suppkey", "s_name", "s_acctbal"
    )


Q83_SQL = """
SELECT 'after_add' AS step, s_suppkey, s_name, 0.0 AS s_acctbal
FROM supplier WHERE s_suppkey < 50
UNION ALL
SELECT 'after_add' AS step, s_suppkey + 1000 AS s_suppkey, s_name, s_acctbal
FROM supplier WHERE s_suppkey < 50
UNION ALL
SELECT 'after_drop' AS step, s_suppkey, NULL AS s_name, 0.0 AS s_acctbal
FROM supplier WHERE s_suppkey < 50
UNION ALL
SELECT 'after_drop' AS step, s_suppkey + 1000 AS s_suppkey, NULL AS s_name, s_acctbal
FROM supplier WHERE s_suppkey < 50
"""


# --- q84: dense array + fill-value read (F1 quickstart_dense fixture) ------
_DENSE_CELLS = [(1, 1, 1), (1, 2, 2), (2, 1, 5), (3, 4, 12), (4, 4, 16), (2, 3, 7)]


def q84_dense_fill(spark, sf_dir):
    tt = TileTable.create(
        spark,
        _uri("dense4x4", sf_dir),
        dimensions=[
            Dim("rows", "int", lower=1, upper=4, tile_extent=4),
            Dim("cols", "int", lower=1, upper=4, tile_extent=4),
        ],
        attributes=[Attr("a", "int", fill=0)],
        array_type="DENSE",
        overwrite=True,
    )
    cells = ldf(spark, _DENSE_CELLS, schema="rows int, cols int, a int")
    tt.write(cells, version_ts=1000)
    return tt.read(fill=True)


_CELLS_SQL = ", ".join(f"({r},{c},{a})" for r, c, a in _DENSE_CELLS)
Q84_SQL = f"""
WITH grid AS (
  SELECT r.r AS rows, c.c AS cols
  FROM (SELECT UNNEST(range(1,5)) AS r) r, (SELECT UNNEST(range(1,5)) AS c) c),
cells(rows, cols, a) AS (VALUES {_CELLS_SQL})
SELECT CAST(grid.rows AS INTEGER) AS rows, CAST(grid.cols AS INTEGER) AS cols,
       CAST(COALESCE(cells.a, 0) AS INTEGER) AS a
FROM grid LEFT JOIN cells ON grid.rows = cells.rows AND grid.cols = cells.cols
"""


# --- q85: CSV bulk load (t/csv.test parity) --------------------------------
def q85_csv_load(spark, sf_dir):
    r = t(spark, sf_dir, "nation")
    path = _uri("csv_nation", sf_dir)
    r.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)
    loaded = spark.read.option("header", "true").schema(
        "n_nationkey int, n_name string, n_regionkey int"
    ).csv(path)
    return loaded


Q85_SQL = "SELECT n_nationkey, n_name, n_regionkey FROM nation"


# --- q86: INSERT INTO ... SELECT (cross-table copy) ------------------------
def q86_insert_into_select(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    tt = TileTable.create(
        spark,
        _uri("iis_customer", sf_dir),
        dimensions=[Dim("c_custkey", "bigint")],
        attributes=[Attr("c_name", "string"), Attr("c_acctbal", "double")],
        overwrite=True,
    )
    tt.write(
        c.filter(F.col("c_mktsegment") == "MACHINERY").select(
            "c_custkey", "c_name", "c_acctbal"
        ),
        version_ts=1000,
    )
    # second INSERT..SELECT appends a disjoint slice
    tt.write(
        c.filter(F.col("c_mktsegment") == "FURNITURE").select(
            "c_custkey", "c_name", "c_acctbal"
        ),
        version_ts=2000,
    )
    return tt.read()


Q86_SQL = """
SELECT c_custkey, c_name, c_acctbal FROM customer
WHERE c_mktsegment IN ('MACHINERY', 'FURNITURE')
"""


# --- q87: multi-value fixed-length cells -------------------------------------
def q87_multi_value_cells(spark, sf_dir):
    """Fixed-length multi-value cell attribute (array<float>) round-trip:
    write + read + per-element predicate.  Mirrors
    mysql-test/mytile/t/multi_value_fixed_length.test (the reference probes
    cell elements via SUBSTRING; here ``element_at`` is the typed analog) and
    mytile/mytile.cc:170-172 (val_num > 1 fixed-length cells).  Output
    extracts elements as DOUBLE (float32→double widening is exact and
    engine-identical) — never the raw array (driver canonicalizer ban).
    """
    p = t(spark, sf_dir, "part").filter(F.col("p_partkey") % 17 == 0)
    tt = TileTable.create(
        spark,
        _uri("mv_cells", sf_dir),
        dimensions=[Dim("p_partkey", "bigint")],
        attributes=[Attr("vec", "array<float>"), Attr("p_size", "int")],
        overwrite=True,
    )
    tt.write(
        p.select(
            "p_partkey",
            F.array(
                F.col("p_retailprice").cast("float"),
                F.col("p_size").cast("float"),
                (F.col("p_partkey") % 7).cast("float"),
            ).alias("vec"),
            "p_size",
        )
    )
    out = tt.read().filter(F.element_at("vec", 2) >= F.lit(25.0))
    return out.select(
        "p_partkey",
        F.element_at("vec", 1).cast("double").alias("v_price"),
        F.element_at("vec", 2).cast("double").alias("v_size"),
        F.element_at("vec", 3).cast("double").alias("v_mod"),
        F.size("vec").cast("bigint").alias("n_vals"),
    ).orderBy("p_partkey")


Q87_SQL = """
SELECT p_partkey,
       CAST(CAST(p_retailprice AS REAL) AS DOUBLE) AS v_price,
       CAST(CAST(p_size AS REAL) AS DOUBLE) AS v_size,
       CAST(CAST(p_partkey % 7 AS REAL) AS DOUBLE) AS v_mod,
       CAST(3 AS BIGINT) AS n_vals
FROM part
WHERE p_partkey % 17 = 0 AND CAST(p_size AS REAL) >= 25.0
ORDER BY p_partkey
"""


def _q82_spec() -> QuerySpec:
    return QuerySpec("q82_discovery", q82_discovery, q82_oracle(), "discovery")


SPECS = [
    QuerySpec("q80_metadata", q80_metadata, Q80_SQL, "@metadata table"),
    QuerySpec("q81_time_travel", q81_time_travel, Q81_SQL, "open_at time travel"),
    _q82_spec(),
    QuerySpec("q83_schema_evolution", q83_schema_evolution, Q83_SQL, "ADD/DROP column"),
    QuerySpec("q84_dense_fill", q84_dense_fill, Q84_SQL, "dense fill-in"),
    QuerySpec("q85_csv_load", q85_csv_load, Q85_SQL, "CSV bulk load"),
    QuerySpec("q86_insert_into_select", q86_insert_into_select, Q86_SQL, "INSERT..SELECT"),
    QuerySpec(
        "q87_multi_value_cells",
        q87_multi_value_cells,
        Q87_SQL,
        "fixed-length multi-value cell attribute",
    ),
]
