"""Spark Python Data Source for native arrays
(sources/spark_datasource.py): format() registration, schema inference
from the array blob, pushFilters absorption/residual split, partition
planning from narrowed domains, Arrow-batch reads, fragment-per-task
writes, and auto-create on first write."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThanOrEqual,
    IsNull,
    LessThanOrEqual,
    Not,
    StringStartsWith,
)

from tiledb_mariadb_spark.reference_fixtures import TEST_DATA
from tiledb_mariadb_spark.sources.spark_datasource import (
    TileDBNativeReader,
    register_tiledb_native,
)
from tiledb_mariadb_spark.sources.tiledb_native import NativeAttr, NativeDim
from tiledb_mariadb_spark.sources.tiledb_native_write import (
    create_native_array,
    write_native_fragment,
)

from tests.conftest import needs_fixtures


@pytest.fixture()
def arr(tmp_path):
    d = str(tmp_path / "arr")
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (0, 10**6), None)],
        attrs=[
            NativeAttr("v", 3, 1, False, None),
            NativeAttr("tag", 12, 0xFFFFFFFF, False, None),
        ],
    )
    n = 500
    write_native_fragment(
        d,
        {
            "k": list(range(n)),
            "v": [i * 0.5 for i in range(n)],
            "tag": [f"t{i % 3}" for i in range(n)],
        },
        ts=10,
    )
    return d


def test_push_filters_absorb_and_residual(arr):
    r = TileDBNativeReader(arr, None, 8, ["k", "v", "tag"])
    residual = list(
        r.pushFilters(
            [
                GreaterThanOrEqual(("k",), 100),
                LessThanOrEqual(("k",), 199),
                EqualTo(("tag",), "t0"),
                IsNull(("v",)),
                Not(EqualTo(("tag",), "zz")),       # unsupported -> residual
                StringStartsWith(("tag",), "t"),    # unsupported -> residual
            ]
        )
    )
    assert r.dim_ranges == {"k": (100, 199)}
    assert ("tag", "=", "t0") in r.conditions
    assert ("v", "is_null") in r.conditions
    assert len(residual) == 2
    parts = r.partitions()
    # split plan covers ONLY the narrowed domain
    assert parts[0].ranges[0][0] == 100 and parts[-1].ranges[0][1] == 199


def test_format_roundtrip_with_pushdown(spark, tmp_path):
    register_tiledb_native(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    uri = str(tmp_path / "fmt_arr")
    df = spark.range(0, 300).selectExpr(
        "id", "CAST(id % 7 AS BIGINT) AS m", "CONCAT('g', id % 2) AS g"
    )
    (
        df.repartition(2).write.format("tiledb_native").mode("append")
        .option("path", uri).option("dims", "id")
        .option("domain.id", "0:1000").save()
    )
    from tiledb_mariadb_spark.sources.tiledb_native import _fragment_dirs

    assert len(_fragment_dirs(uri)) == 2
    out = (
        spark.read.format("tiledb_native").option("path", uri).load()
        .filter((F.col("id") >= 50) & (F.col("id") < 100))
        .filter(F.col("g") == "g1")
    )
    rows = sorted((r.id, r.m, r.g) for r in out.collect())
    expect = [(i, i % 7, "g1") for i in range(50, 100) if i % 2 == 1]
    assert rows == expect


def test_schema_inferred_from_blob(spark, arr):
    register_tiledb_native(spark)
    df = spark.read.format("tiledb_native").option("path", arr).load()
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == [
        ("k", "bigint"), ("v", "double"), ("tag", "string")
    ]


def test_write_overwrite_rejected(spark, arr):
    register_tiledb_native(spark)
    with pytest.raises(Exception, match="append"):
        (
            spark.range(1).selectExpr("id AS k", "CAST(0.0 AS DOUBLE) AS v",
                                      "'x' AS tag")
            .write.format("tiledb_native").mode("overwrite")
            .option("path", arr).save()
        )


def test_write_missing_array_needs_dims(spark, tmp_path):
    register_tiledb_native(spark)
    with pytest.raises(Exception, match="dims"):
        (
            spark.range(1).write.format("tiledb_native").mode("append")
            .option("path", str(tmp_path / "nope")).save()
        )


def test_stream_source_incremental_batches(spark, tmp_path):
    """readStream.format('tiledb_native'): each micro-batch carries
    exactly the fragments committed since the last offset."""
    import uuid as _uuid

    register_tiledb_native(spark)
    root = str(tmp_path)
    uri = root + "/arr"
    create_native_array(
        uri,
        dims=[NativeDim("k", 1, 1, (0, 10**6), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
    )
    write_native_fragment(uri, {"k": [1, 2], "v": [10, 20]}, ts=100)
    out_dir = root + "/out"
    _ = _uuid  # parquet sink (memory sink cannot recover a checkpoint)

    def drain():
        q = (
            spark.readStream.format("tiledb_native").option("path", uri)
            .load().writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", root + "/_ck")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    drain()
    got = sorted(
        (r.k, r.v) for r in spark.read.parquet(out_dir).collect()
    )
    assert got == [(1, 10), (2, 20)]
    write_native_fragment(uri, {"k": [3], "v": [30]}, ts=200)
    drain()  # same checkpoint: only the NEW fragment arrives (appended)
    got = sorted(
        (r.k, r.v) for r in spark.read.parquet(out_dir).collect()
    )
    assert got == [(1, 10), (2, 20), (3, 30)]


def test_stream_source_reads_evolved_attr_as_fill(tmp_path):
    """A fragment written before an attr was evolved in streams that
    attr as its fill (NULL when nullable), exactly as the batch read
    returns it — the stream source must not demand a data file the
    fragment never had."""
    import struct as _struct

    from tiledb_mariadb_spark.sources.spark_datasource import (
        TileDBNativeStreamReader,
    )
    from tiledb_mariadb_spark.sources.tiledb_native import read_native_array
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        evolve_native_schema,
    )

    uri = str(tmp_path / "evo")
    create_native_array(
        uri,
        dims=[NativeDim("k", 1, 1, (0, 10**6), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
    )
    write_native_fragment(uri, {"k": [1, 2], "v": [10, 20]}, ts=100)
    evolve_native_schema(
        uri,
        add_attrs=[
            NativeAttr("w", 1, 1, True, None),
            NativeAttr("z", 1, 1, False, _struct.pack("<q", -7)),
        ],
        ts=150,
    )
    write_native_fragment(
        uri, {"k": [3], "v": [30], "w": [5], "z": [6]}, ts=200
    )
    reader = TileDBNativeStreamReader(uri, ["k", "w", "v", "z"])
    rows, _end = reader.read({"frags": []})
    expect = [(1, None, 10, -7), (2, None, 20, -7), (3, 5, 30, 6)]
    assert sorted(rows) == expect
    _s, batch = read_native_array(uri)
    assert sorted((r[0], r[2], r[1], r[3]) for r in batch) == expect


def test_stream_sink_lands_fragments(spark, tmp_path):
    register_tiledb_native(spark)
    root = str(tmp_path)
    src = root + "/src"
    spark.range(0, 40).selectExpr("id AS k", "id * 2 AS v").write.parquet(src)
    dst = root + "/dst"
    q = (
        spark.readStream.schema("k bigint, v bigint").parquet(src)
        .writeStream.format("tiledb_native")
        .option("path", dst).option("dims", "k")
        .option("domain.k", "0:1000")
        .option("checkpointLocation", root + "/_ck")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    out = spark.read.format("tiledb_native").option("path", dst).load()
    assert out.count() == 40
    assert sorted(r.v for r in out.filter("k < 3").collect()) == [0, 2, 4]


def test_sql_table_from_array(spark, arr):
    """Pure-SQL surface: `sql_table_from_array` is the `CREATE TABLE ...
    ENGINE=mytile uri=...` analog — the bare array becomes a SQL table
    name queried with plain SQL, served by the JVM `tiledb_agg` row scan
    (filters pushed through DataSource V2).  Catalog `CREATE TABLE ...
    USING` is not used: Spark 4.1 does not forward its OPTIONS to Python
    DS reads."""
    import uuid as _uuid

    from tiledb_mariadb_spark.sources.jvm_agg import scan_descriptions
    from tiledb_mariadb_spark.sources.spark_datasource import (
        sql_table_from_array,
    )

    tname = "mytile_sql_" + _uuid.uuid4().hex[:6]
    sql_table_from_array(spark, tname, arr)
    df = spark.sql(
        f"SELECT COUNT(*) AS n, SUM(k) AS sk FROM {tname} "
        "WHERE k BETWEEN 10 AND 19 AND tag = 't0'"
    )
    assert "TileDBBridgeRowScan" in " ".join(scan_descriptions(df))
    row = df.collect()[0]
    keys = [i for i in range(10, 20) if i % 3 == 0]
    assert (row.n, row.sk) == (len(keys), sum(keys))
    # joins against ordinary tables work like any SQL table
    j = spark.sql(
        f"SELECT t.k, t.v FROM {tname} t "
        "JOIN (SELECT explode(sequence(5, 8)) AS k) s USING (k) "
        "ORDER BY t.k"
    ).collect()
    assert [(r.k, r.v) for r in j] == [(i, i * 0.5) for i in range(5, 9)]


def test_in_pushdown_exact_multirange(spark, arr):
    """IN on the dim absorbs EXACTLY as point ranges (MRR/multi-range
    parity, mytile-range.cc:647-730): the split plan covers only the IN
    values, holes are never scanned, and results are exact with no
    Spark-side residual."""
    from pyspark.sql.datasource import In

    from tiledb_mariadb_spark.sources.spark_datasource import (
        TileDBNativeReader,
    )
    from tiledb_mariadb_spark.sources.tiledb_array import merge_ranges

    # merge_ranges: overlap + adjacency coalesce, the reference's dedupe
    assert merge_ranges([(5, 9), (1, 3), (4, 4), (20, 25), (22, 30)]) == [
        (1, 9), (20, 30)
    ]

    r = TileDBNativeReader(arr, None, 8, ["k", "v", "tag"])
    residual = list(r.pushFilters([In(("k",), (7, 300, 8, 42))]))
    assert residual == []  # absorbed exactly
    parts = r.partitions()
    covered = set()
    for p in parts:
        lo, hi = p.ranges[0]
        covered.update(range(lo, hi + 1))
    assert covered == {7, 8, 42, 300}  # exactly the IN values, no holes

    # end-to-end through SQL
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    register_tiledb_native(spark)
    out = (
        spark.read.format("tiledb_native").option("path", arr).load()
        .filter("k IN (7, 300, 8, 42, 999999)")  # 999999 not present
    )
    rows = sorted((x.k, x.v) for x in out.collect())
    assert rows == [(7, 3.5), (8, 4.0), (42, 21.0), (300, 150.0)]


def test_all_null_split_keeps_schema(spark, tmp_path):
    """A split whose nullable column is entirely NULL must still produce
    a bigint Arrow batch (explicit schema, no null-type drift)."""
    register_tiledb_native(spark)
    uri = str(tmp_path / "nulls")
    create_native_array(
        uri,
        dims=[NativeDim("k", 1, 1, (0, 1000), None)],
        attrs=[NativeAttr("n", 1, 1, True, None)],
    )
    write_native_fragment(
        uri,
        {"k": [1, 2, 500, 501], "n": [None, None, 7, 8]},
        ts=10,
    )
    out = (
        spark.read.format("tiledb_native").option("path", uri)
        .option("target_splits", "4").load()
    )
    rows = sorted((r.k, r.n) for r in out.collect())
    assert rows == [(1, None), (2, None), (500, 7), (501, 8)]


_TABULA = f"{TEST_DATA}/tabula-sapiens-immune-var"


@needs_fixtures(_TABULA)
def test_format_scan_enum_labels_and_stats_pruning(spark):
    """format("tiledb_native") over the reference's v21 tabula fixture:
    enumerated columns surface per the ENUM rules (oversized gene_symbol
    reverts to int), and a Catalyst attr filter the fragment stats
    refute prunes ALL data IO through the pushFilters -> conditions ->
    fragment_refutes_conditions chain."""
    register_tiledb_native(spark)
    df = spark.read.format("tiledb_native").option("path", _TABULA).load()
    types = dict(
        (f.name, f.dataType.simpleString()) for f in df.schema.fields
    )
    assert types["gene_symbol"] == "int"  # oversize rule: base type
    assert types["feature_type"] == "string"  # 1-label enum: labels
    # stats-refuted filter: gene_symbol spans [0, 57315]
    assert df.filter(F.col("gene_symbol") > 99999).count() == 0
    hit = (
        df.filter(
            (F.col("soma_joinid") <= 4) & (F.col("gene_symbol") <= 30000)
        )
        .select("soma_joinid", "var_id", "gene_symbol")
        .orderBy("soma_joinid")
        .collect()
    )
    assert [tuple(r) for r in hit][0] == (0, "DDX11L1", 24811)


def test_multivalue_cells_read_as_arrays(spark, tmp_path):
    """Fixed multi-value cells (cell_val_num=4 float32) surface as
    array<float> through BOTH the connector and the format path — the
    vector-store layout (embeddings as native cells)."""
    from tiledb_mariadb_spark.sources.tiledb_array import read_array
    from tiledb_mariadb_spark.sources.tiledb_native import (
        NativeAttr,
        NativeDim,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        create_native_array,
        write_native_fragment,
    )

    d = str(tmp_path / "vec")
    create_native_array(
        d,
        dims=[NativeDim("id", 1, 1, (0, 1000), None)],
        attrs=[NativeAttr("emb", 2, 4, False, None),
               NativeAttr("lab", 0, 1, False, None)],
    )
    write_native_fragment(
        d,
        {"id": [1, 2], "emb": [[0.5, 0.25, -1.0, 2.0], [1.0, 0.0, 0.0, 3.5]],
         "lab": [7, 8]},
        ts=100,
    )
    df = read_array(spark, d)
    assert dict(df.dtypes)["emb"] == "array<float>"
    got = {r["id"]: list(r["emb"]) for r in df.collect()}
    assert got == {1: [0.5, 0.25, -1.0, 2.0], 2: [1.0, 0.0, 0.0, 3.5]}
    register_tiledb_native(spark)
    fmt = spark.read.format("tiledb_native").option("path", d).load()
    assert dict(fmt.dtypes)["emb"] == "array<float>"
    sel = fmt.filter(F.col("lab") == 8).collect()
    assert len(sel) == 1 and list(sel[0]["emb"]) == [1.0, 0.0, 0.0, 3.5]


def test_bbox_option_prunes_splits(tmp_path):
    """Round-6 spatial pushdown through the FORMAT (cond_push_func_spatial
    parity, ha_mytile.cc:2312-2507): the `bbox` option seeds dim ranges
    BEFORE planning, so splits outside the box never become tasks; pushed
    dim filters intersect with it."""
    from tiledb_mariadb_spark.operators.spatial import make_wkb_polygon

    d = str(tmp_path / "sp")
    create_native_array(
        d,
        dims=[NativeDim("x", 3, 1, (0.0, 1000.0), None),
              NativeDim("y", 3, 1, (0.0, 1000.0), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
        allows_dups=True,
    )
    xs = [i / 10.0 for i in range(10000)]
    write_native_fragment(
        d, {"x": xs, "y": xs, "v": list(range(len(xs)))}, ts=10
    )
    r_all = TileDBNativeReader(d, None, 8, ["x", "y", "v"])
    parts_all = r_all.partitions()
    assert parts_all[0].ranges == [(0.0, 999.9), (0.0, 999.9)]
    r_box = TileDBNativeReader(
        d, None, 8, ["x", "y", "v"], bbox="x:100:200;y:100:200"
    )
    assert r_box.dim_ranges == {"x": (100.0, 200.0), "y": (100.0, 200.0)}
    for p in r_box.partitions():  # every task confined to the box —
        for (lo, hi) in p.ranges:  # out-of-box cells never become work
            assert lo >= 100.0 and hi <= 200.0
    # pushed filters intersect with the option box
    r_box.pushFilters([GreaterThanOrEqual(("x",), 150.0)])
    assert r_box.dim_ranges["x"] == (150.0, 200.0)
    # WKB polygon + pad -> padded MBR over the named dims
    wkb = make_wkb_polygon([(100.0, 100.0), (200.0, 100.0),
                            (200.0, 200.0), (100.0, 200.0)])
    r_wkb = TileDBNativeReader(
        d, None, 8, ["x", "y", "v"],
        spatial_wkb=wkb.hex(), spatial_dims="x,y", spatial_pad="5.0",
    )
    assert r_wkb.dim_ranges == {"x": (95.0, 205.0), "y": (95.0, 205.0)}
    # contract guards
    with pytest.raises(ValueError):
        TileDBNativeReader(d, None, 8, ["x"], bbox="nosuch:0:1")
    with pytest.raises(ValueError):
        TileDBNativeReader(d, None, 8, ["x"], spatial_wkb=wkb.hex())


def test_format_reads_dense_arrays(spark, tmp_path):
    """Round-6: DENSE arrays through spark.read.format — schema from
    the blob, splits over the NED box, fills materialized, dim filter
    pushdown narrows the scan (served by the dense columnar path)."""
    import struct

    d = str(tmp_path / "dfmt")
    create_native_array(
        d,
        array_type="DENSE",
        dims=[NativeDim("k", 1, 1, (0, 199), 50)],
        attrs=[NativeAttr("v", 1, 1, False, struct.pack("<q", -7))],
    )
    write_native_fragment(
        d, {"v": list(range(100))}, ts=100, version=19, subarray=[(0, 99)]
    )
    write_native_fragment(
        d, {"v": [1000 + i for i in range(50)]}, ts=200, version=19,
        subarray=[(150, 199)],
    )
    register_tiledb_native(spark)
    df = spark.read.format("tiledb_native").option("path", d).load()
    assert df.count() == 200  # bbox 0..199 incl. the fill gap
    fills = df.filter(F.col("v") == -7).count()
    assert fills == 50  # gap 100..149
    got = (
        df.filter((F.col("k") >= 90) & (F.col("k") <= 160))
        .orderBy("k")
        .collect()
    )
    assert [r.k for r in got] == list(range(90, 161))
    assert got[0].v == 90 and got[-1].v == 1010
    assert got[20].v == -7  # k=110: fill
