"""Spark data sources over native arrays: ``format("tiledb_native")``
(sources/spark_datasource.py) registration, schema inference from the
array blob, fragment-per-task writes, auto-create on first write and the
streaming source and sink; and the one batch read of an array,
``format("tiledb_agg")`` (``jvm_agg.agg_reader``): filter absorption
and residuals, split plans narrowed by pushed ranges, box and polygon
windows, and reads of NULL, multi-value and dense cells.  Split plans
are asserted on the bridge's ``splits`` command, the planner every
``tiledb_agg`` scan runs."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from tiledb_mariadb_spark.reference_fixtures import TEST_DATA
from tiledb_mariadb_spark.sources.jvm_agg import agg_reader, scan_descriptions
from tiledb_mariadb_spark.sources.spark_datasource import (
    register_tiledb_native,
)
from tiledb_mariadb_spark.sources.tiledb_native import NativeAttr, NativeDim
from tiledb_mariadb_spark.sources.tiledb_native_write import (
    create_native_array,
    write_native_fragment,
)

from tests.conftest import needs_fixtures

from .bridge_plan import bridge_stdout, splits

needs_jdk = pytest.mark.skipif(
    shutil.which("javac") is None or shutil.which("jar") is None,
    reason="needs a JDK (javac + jar) to build the tiledb_agg shim",
)


def _plan_text(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


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


@needs_jdk
def test_push_filters_absorb_and_residual(spark, arr):
    """Dim ranges and attr comparisons are absorbed into the scan (the
    reference's cond_push); what the scan cannot evaluate stays a Spark
    residual.  The split plan covers only the narrowed domain."""
    df = agg_reader(spark, arr).load().filter(
        (F.col("k") >= 100) & (F.col("k") <= 199)
        & (F.col("tag") == "t0")
        & ~(F.col("v") == 60.0)
        & F.col("tag").startswith("t")
    )
    pushed = " ".join(scan_descriptions(df))
    for cond in ('["k",">=",100]', '["k","<=",199]', '["tag","=","t0"]',
                 '["v","!=",60.0]'):
        assert cond in pushed, pushed
    assert "StartsWith" not in pushed
    optimized = _plan_text(df)
    assert "Filter" in optimized and "StartsWith" in optimized  # residual
    assert sorted(r.k for r in df.collect()) == [
        k for k in range(100, 200) if k % 3 == 0 and k != 120
    ]
    plan = splits(arr, "--target-splits", "8",
                  conds=[["k", ">=", 100], ["k", "<=", 199],
                         ["tag", "=", "t0"], ["v", "is_null"]])
    assert plan[0][0][0] == 100 and plan[-1][0][1] == 199


@needs_jdk
def test_format_roundtrip_with_pushdown(spark, tmp_path):
    register_tiledb_native(spark)
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
        agg_reader(spark, uri).load()
        .filter((F.col("id") >= 50) & (F.col("id") < 100))
        .filter(F.col("g") == "g1")
    )
    rows = sorted((r.id, r.m, r.g) for r in out.collect())
    expect = [(i, i % 7, "g1") for i in range(50, 100) if i % 2 == 1]
    assert rows == expect


@needs_jdk
def test_schema_inferred_from_blob(spark, arr):
    register_tiledb_native(spark)
    want = [("k", "bigint"), ("v", "double"), ("tag", "string")]
    for df in (
        agg_reader(spark, arr).load(),
        spark.readStream.format("tiledb_native").option("path", arr).load(),
    ):
        assert [
            (f.name, f.dataType.simpleString()) for f in df.schema.fields
        ] == want


def test_batch_read_names_the_read_path(spark, arr):
    """``format("tiledb_native")`` has no batch read: reading it fails
    with an error that names the format that reads arrays."""
    register_tiledb_native(spark)
    with pytest.raises(Exception, match="agg_reader") as err:
        spark.read.format("tiledb_native").option("path", arr).load() \
            .collect()
    assert "sql_table_from_array" in str(err.value)


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
    register_tiledb_native(spark)
    root = str(tmp_path)
    uri = root + "/arr"
    create_native_array(
        uri,
        dims=[NativeDim("k", 1, 1, (0, 10**6), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
    )
    write_native_fragment(uri, {"k": [1, 2], "v": [10, 20]}, ts=100)
    out_dir = root + "/out"  # parquet sink: memory cannot recover a checkpoint

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


def _stream_array(tmp_path):
    """An array with two emitted fragments (ts 100 and 200) and the
    stream reader's offset after them."""
    from tiledb_mariadb_spark.sources.spark_datasource import (
        TileDBNativeStreamReader,
    )

    uri = str(tmp_path / "cons")
    create_native_array(
        uri,
        dims=[NativeDim("k", 1, 1, (0, 10**6), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
    )
    write_native_fragment(uri, {"k": [1, 2], "v": [10, 20]}, ts=100)
    write_native_fragment(uri, {"k": [3, 4], "v": [30, 40]}, ts=200)
    reader = TileDBNativeStreamReader(uri, ["k", "v"])
    rows, offset = reader.read({"frags": []})
    assert sorted(rows) == [(1, 10), (2, 20), (3, 30), (4, 40)]
    return uri, reader, offset


@pytest.mark.parametrize("delete", [False, True])
def test_stream_source_skips_consolidated_rows(tmp_path, delete):
    """A consolidation of emitted fragments emits nothing, before and
    after vacuum, also when it baked in a newer delete (which widens
    its span); the next write emits only its own rows, on replay
    too."""
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        consolidate_native_array,
        vacuum_native_array,
        write_delete_condition,
    )

    uri, reader, offset = _stream_array(tmp_path)
    if delete:
        write_delete_condition(uri, [("k", "=", 1)], ts=250)
    assert consolidate_native_array(uri) is not None
    rows, offset = reader.read(offset)
    assert rows == []
    assert vacuum_native_array(uri) == 2
    rows, offset = reader.read(offset)
    assert rows == []
    write_native_fragment(uri, {"k": [5], "v": [50]}, ts=300)
    rows, end = reader.read(offset)
    assert rows == [(5, 50)]
    assert reader.readBetweenOffsets(offset, end) == [(5, 50)]


def test_stream_source_emits_unseen_consolidated_fragment(tmp_path):
    """A consolidation that merged a fragment the stream never emitted
    emits that fragment's rows, read from the original still on disk,
    and nothing of the emitted ones."""
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        consolidate_native_array,
        vacuum_native_array,
    )

    uri, reader, offset = _stream_array(tmp_path)
    write_native_fragment(uri, {"k": [2, 5], "v": [21, 50]}, ts=300)
    assert consolidate_native_array(uri) is not None
    rows, offset = reader.read(offset)
    assert sorted(rows) == [(2, 21), (5, 50)]
    vacuum_native_array(uri)
    assert reader.read(offset)[0] == []


def test_stream_source_refuses_vacuumed_unseen_fragment(tmp_path):
    """The same consolidation vacuumed before the stream reads: the
    unseen rows are gone, so the read raises instead of dropping them
    or re-emitting the merged rows."""
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        consolidate_native_array,
        vacuum_native_array,
    )

    uri, reader, offset = _stream_array(tmp_path)
    write_native_fragment(uri, {"k": [2, 5], "v": [21, 50]}, ts=300)
    merged = os.path.basename(consolidate_native_array(uri))
    vacuum_native_array(uri)
    with pytest.raises(ValueError, match=merged):
        reader.read(offset)


@needs_jdk
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
    out = agg_reader(spark, dst).load()
    assert out.count() == 40
    assert sorted(r.v for r in out.filter("k < 3").collect()) == [0, 2, 4]


@needs_jdk
def test_sql_table_from_array(spark, arr):
    """Pure-SQL surface: `sql_table_from_array` is the `CREATE TABLE ...
    ENGINE=mytile uri=...` analog — the bare array becomes a SQL table
    name queried with plain SQL, served by the JVM `tiledb_agg` row scan
    (filters pushed through DataSource V2)."""
    import uuid as _uuid

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


@needs_jdk
def test_in_pushdown_exact_multirange(spark, arr):
    """IN point ranges plan EXACTLY (MRR/multi-range parity,
    mytile-range.cc:647-730): the shared planner covers only the IN
    values and never scans the holes, and an IN read through the format
    is absorbed with no Spark-side residual and exact rows."""
    from tiledb_mariadb_spark.sources.tiledb_array import (
        NativeDecoderBackend,
        merge_ranges,
        scan_ranges,
        scan_splits,
    )

    # merge_ranges: overlap + adjacency coalesce, the reference's dedupe
    assert merge_ranges([(5, 9), (1, 3), (4, 4), (20, 25), (22, 30)]) == [
        (1, 9), (20, 30)
    ]

    be = NativeDecoderBackend()
    info = be.info(arr)
    points = {"k": [(v, v) for v in (7, 300, 8, 42)]}
    ranges = scan_ranges(be, arr, info, points, None, None, None)
    covered = set()
    for s in scan_splits(be, arr, info, ranges, 8, None, None):
        lo, hi = s[0]
        covered.update(range(lo, hi + 1))
    assert covered == {7, 8, 42, 300}  # exactly the IN values, no holes

    out = agg_reader(spark, arr).load().filter(
        "k IN (7, 300, 8, 42, 999999)"  # 999999 not present
    )
    assert '"in"' in " ".join(scan_descriptions(out))
    assert "Filter" not in _plan_text(out)  # absorbed exactly
    rows = sorted((x.k, x.v) for x in out.collect())
    assert rows == [(7, 3.5), (8, 4.0), (42, 21.0), (300, 150.0)]
    # the scan plans inside the IN values' hull
    for s in splits(arr, conds=[["k", "in", [7, 300, 8, 42]]]):
        assert 7 <= s[0][0] and s[0][1] <= 300


@needs_jdk
def test_all_null_split_keeps_schema(spark, tmp_path):
    """A split whose nullable column is entirely NULL still produces a
    bigint Arrow batch (explicit schema, no null-type drift)."""
    import pyarrow as pa

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
    tbl = pa.ipc.open_stream(
        bridge_stdout("rows", "--uri", uri, "--ranges", "[[1, 2]]")
    ).read_all()
    assert tbl.schema.field("n").type == pa.int64()
    assert tbl.column("n").to_pylist() == [None, None]
    out = agg_reader(spark, uri, target_splits=4).load()
    rows = sorted((r.k, r.n) for r in out.collect())
    assert rows == [(1, None), (2, None), (500, 7), (501, 8)]


_TABULA = f"{TEST_DATA}/tabula-sapiens-immune-var"


@needs_jdk
@needs_fixtures(_TABULA)
def test_format_scan_enum_labels_and_stats_pruning(spark):
    """The tiledb_agg scan over the reference's v21 tabula fixture:
    enumerated columns surface per the ENUM rules (oversized
    gene_symbol reverts to int), and an attr filter the fragment stats
    refute prunes ALL data IO through the pushed condition ->
    fragment_refutes_conditions chain."""
    df = agg_reader(spark, _TABULA).load()
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


@needs_jdk
def test_multivalue_cells_read_as_arrays(spark, tmp_path):
    """Fixed multi-value cells (cell_val_num=4 float32) surface as
    array<float> through BOTH the connector and the format path — the
    vector-store layout (embeddings as native cells)."""
    from tiledb_mariadb_spark.sources.tiledb_array import read_array

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
    fmt = agg_reader(spark, d).load()
    assert dict(fmt.dtypes)["emb"] == "array<float>"
    sel = fmt.filter(F.col("lab") == 8).collect()
    assert len(sel) == 1 and list(sel[0]["emb"]) == [1.0, 0.0, 0.0, 3.5]


@needs_jdk
def test_bbox_option_prunes_splits(spark, tmp_path):
    """Round-6 spatial pushdown through the FORMAT (cond_push_func_spatial
    parity, ha_mytile.cc:2312-2507): the `bbox` option seeds dim ranges
    BEFORE planning, so splits outside the box never become tasks;
    pushed dim ranges intersect with it."""
    from tiledb_mariadb_spark.operators.spatial import make_wkb_polygon
    from tiledb_mariadb_spark.sources.tiledb_array import (
        narrow_range,
        spatial_dim_ranges,
    )

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
    assert splits(d)[0] == [[0.0, 999.9], [0.0, 999.9]]
    box = spatial_dim_ranges(["x", "y"], bbox="x:100:200;y:100:200")
    assert box == {"x": (100.0, 200.0), "y": (100.0, 200.0)}
    plan = splits(d, "--bbox", "x:100:200;y:100:200")
    assert plan
    for s in plan:  # every task confined to the box —
        for (lo, hi) in s:  # out-of-box cells never become work
            assert lo >= 100.0 and hi <= 200.0
    # pushed ranges intersect with the option box
    assert narrow_range(box["x"], 150.0, None) == (150.0, 200.0)
    got = agg_reader(spark, d, bbox="x:100:200;y:100:200").load() \
        .filter(F.col("x") >= 150.0).collect()
    assert sorted(r.v for r in got) == list(range(1500, 2001))
    # WKB polygon + pad -> padded MBR over the named dims
    wkb = make_wkb_polygon([(100.0, 100.0), (200.0, 100.0),
                            (200.0, 200.0), (100.0, 200.0)])
    assert spatial_dim_ranges(
        ["x", "y"], spatial_wkb=wkb.hex(), spatial_dims="x,y",
        spatial_pad="5.0",
    ) == {"x": (95.0, 205.0), "y": (95.0, 205.0)}
    # contract guards
    with pytest.raises(ValueError):
        spatial_dim_ranges(["x", "y"], bbox="nosuch:0:1")
    with pytest.raises(ValueError):
        spatial_dim_ranges(["x", "y"], spatial_wkb=wkb.hex())
    with pytest.raises(Exception, match="non-dimension"):
        agg_reader(spark, d, bbox="nosuch:0:1").load().collect()


@needs_jdk
def test_format_reads_dense_arrays(spark, tmp_path):
    """Round-6: DENSE arrays through the format — schema from the blob,
    splits over the NED box, fills materialized, dim filter pushdown
    narrows the scan (served by the dense columnar path)."""
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
    df = agg_reader(spark, d).load()
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
