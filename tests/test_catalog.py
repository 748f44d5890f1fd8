"""Catalog-layer semantics the suite queries don't reach: write-path
validation, dup policy, drop, and evolution guards (reference parity cites
in catalog.py docstrings)."""

from __future__ import annotations

import pytest

from tiledb_mariadb_spark.catalog import Attr, Dim, TileTable

def _mk(spark, tmp_path, name, **kw):
    return TileTable.create(
        spark,
        str(tmp_path / name),
        dimensions=kw.pop("dimensions", [Dim("k", "int")]),
        attributes=kw.pop("attributes", [Attr("v", "string")]),
        overwrite=True,
        **kw,
    )


def test_null_dimension_rejected(spark, tmp_path):
    tt = _mk(spark, tmp_path, "nulldim")
    df = spark.createDataFrame([(1, "a"), (None, "b")], "k int, v string")
    with pytest.raises(ValueError, match="null values are not allowed"):
        tt.write(df)


def test_dense_bounds_enforced(spark, tmp_path):
    tt = _mk(spark, tmp_path,
        "densebounds",
        dimensions=[Dim("k", "int", lower=1, upper=4, tile_extent=4)],
        array_type="DENSE",
    )
    bad = spark.createDataFrame([(9, "x")], "k int, v string")
    with pytest.raises(ValueError, match="out of domain bounds"):
        tt.write(bad)


def test_dense_requires_bounds(spark, tmp_path):
    with pytest.raises(ValueError, match="requires lower/upper"):
        _mk(spark, tmp_path, "densenobounds", array_type="DENSE")


def test_last_writer_wins_vs_allows_dups(spark, tmp_path):
    tt = _mk(spark, tmp_path, "dups")
    tt.write(spark.createDataFrame([(1, "old")], "k int, v string"), version_ts=1)
    tt.write(spark.createDataFrame([(1, "new")], "k int, v string"), version_ts=2)
    rows = tt.read().collect()
    assert len(rows) == 1 and rows[0]["v"] == "new"

    td = _mk(spark, tmp_path, "dups_ok", allows_dups=True)
    td.write(spark.createDataFrame([(1, "a")], "k int, v string"), version_ts=1)
    td.write(spark.createDataFrame([(1, "b")], "k int, v string"), version_ts=2)
    assert td.read().count() == 2


def test_time_travel_before_first_write_is_empty(spark, tmp_path):
    tt = _mk(spark, tmp_path, "ttempty")
    tt.write(spark.createDataFrame([(1, "a")], "k int, v string"), version_ts=100)
    assert tt.read(at=0).count() == 0
    assert tt.read(at=100).count() == 1


def test_drop_deletes_storage(spark, tmp_path):
    import os

    tt = _mk(spark, tmp_path, "dropme")
    uri = tt.uri
    tt.drop()
    assert not os.path.exists(uri)


def test_cannot_drop_dimension(spark, tmp_path):
    tt = _mk(spark, tmp_path, "dropdim")
    with pytest.raises(ValueError, match="cannot drop a dimension"):
        tt.drop_column("k")


def test_add_existing_column_rejected(spark, tmp_path):
    tt = _mk(spark, tmp_path, "dupcol")
    with pytest.raises(ValueError, match="already exists"):
        tt.add_column("v", "string")


def test_missing_column_on_write(spark, tmp_path):
    tt = _mk(spark, tmp_path, "misscol")
    with pytest.raises(ValueError, match="missing columns"):
        tt.write(spark.createDataFrame([(1,)], "k int"))


def test_heterogeneous_string_and_timestamp_dims(spark, tmp_path):
    """string + timestamp dimensions (t/string_dim.test,
    t/heterogeneus_dimensions.test, t/mrr_datetime_dimensions.test):
    round-trip, last-writer-wins on composite coords, ordered key scans."""
    import datetime as dt

    from pyspark.sql import functions as F

    from tiledb_mariadb_spark.catalog import Attr, Dim, TileTable

    tt = TileTable.create(
        spark,
        str(tmp_path / "hetero"),
        dimensions=[Dim("sym", "string"), Dim("ts", "timestamp")],
        attributes=[Attr("px", "double")],
    )
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        ("AAA", t0, 1.0),
        ("AAA", t0 + dt.timedelta(minutes=1), 2.0),
        ("BBB", t0, 3.0),
    ]
    tt.write(spark.createDataFrame(rows, "sym string, ts timestamp, px double"))
    # overwrite one coordinate in a second version
    tt.write(
        spark.createDataFrame([("AAA", t0, 9.0)], "sym string, ts timestamp, px double")
    )
    got = tt.read()
    assert got.count() == 3
    assert (
        got.filter((F.col("sym") == "AAA") & (F.col("ts") == t0)).collect()[0]["px"]
        == 9.0
    )
    # keyed read ordered by the dims (index_read_scan analog)
    ordered = got.filter(F.col("sym") == "AAA").orderBy("ts").collect()
    assert [r["px"] for r in ordered] == [9.0, 2.0]


def test_open_uri_virtual_suffixes(spark, tmp_path):
    """uri@metadata and uri@<ts> addressing (mytile/utils.h:52-53)."""
    from tiledb_mariadb_spark.catalog import Attr, Dim, TileTable, open_uri

    uri = str(tmp_path / "vuri")
    tt = TileTable.create(
        spark, uri, dimensions=[Dim("k", "int")], attributes=[Attr("v", "string")]
    )
    tt.set_metadata("owner", "alice")
    tt.write(spark.createDataFrame([(1, "a")], "k int, v string"), version_ts=100)
    tt.write(spark.createDataFrame([(2, "b")], "k int, v string"), version_ts=200)

    md = {r["key"]: r["value"] for r in open_uri(spark, uri + "@metadata").collect()}
    assert md["owner"] == "alice"
    assert open_uri(spark, uri + "@150").count() == 1
    assert open_uri(spark, uri).count() == 2


def test_write_layout_enables_range_pruning(spark, tmp_path):
    """Dimension-range writes must produce files whose min/max footers are
    narrow (range partitioning + sort), so a dim predicate skips most row
    groups — the subarray-pruning analog at the storage layer."""
    import glob

    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from tiledb_mariadb_spark.catalog import Attr, Dim, TileTable

    tt = TileTable.create(
        spark,
        str(tmp_path / "layout"),
        dimensions=[Dim("k", "bigint")],
        attributes=[Attr("v", "double")],
    )
    df = spark.range(100_000).select(
        F.col("id").alias("k"), F.rand(seed=7).alias("v")
    )
    # shuffle input order so the layout must come from the write path
    tt.write(df.orderBy(F.rand(seed=11)))

    files = glob.glob(f"{tt.uri}/data/__tile_v=1/*.parquet")
    assert len(files) >= 8
    # each file covers a narrow, near-disjoint slice of the domain
    spans = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        st = md.row_group(0).column(0).statistics
        lo, hi = st.min, st.max
        for rg in range(md.num_row_groups):
            s = md.row_group(rg).column(0).statistics
            lo, hi = min(lo, s.min), max(hi, s.max)
        spans.append((lo, hi))
    total_span = sum(hi - lo for lo, hi in spans)
    assert total_span <= 100_000 * 1.1, spans  # ≈ disjoint, not 32× overlap

    # and a range predicate touches few files at the footer level
    touching = [
        (lo, hi) for lo, hi in spans if lo <= 1500 and hi >= 1000
    ]
    assert len(touching) <= 2, spans


def test_consolidate_merges_versions(spark, tmp_path):
    """Fragment-consolidation analog: N versions collapse to one baseline
    holding the last-writer-wins state; old files are vacuumed."""
    import glob

    from tiledb_mariadb_spark.catalog import Attr, Dim, TileTable

    tt = TileTable.create(
        spark,
        str(tmp_path / "consol"),
        dimensions=[Dim("k", "int")],
        attributes=[Attr("v", "string")],
    )
    tt.write(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), 100)
    tt.write(spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string"), 200)
    tt.write(spark.createDataFrame([(4, "d")], "k int, v string"), 300)
    assert len(tt.schema.versions) == 3

    newv = tt.consolidate()
    assert len(tt.schema.versions) == 1
    got = {r["k"]: r["v"] for r in tt.read().collect()}
    assert got == {1: "a", 2: "B", 3: "c", 4: "d"}
    dirs = glob.glob(f"{tt.uri}/data/__tile_v=*")
    assert dirs == [f"{tt.uri}/data/__tile_v={newv}"]
    # reopening from the sidecar sees the consolidated state
    got2 = {r["k"]: r["v"] for r in TileTable(spark, tt.uri).read().collect()}
    assert got2 == got


def test_consolidate_keep_history_preserves_snapshots(spark, tmp_path):
    from tiledb_mariadb_spark.catalog import Attr, Dim, TileTable

    tt = TileTable.create(
        spark,
        str(tmp_path / "consol_hist"),
        dimensions=[Dim("k", "int")],
        attributes=[Attr("v", "string")],
    )
    tt.write(spark.createDataFrame([(1, "a")], "k int, v string"), 100)
    tt.write(spark.createDataFrame([(1, "A2")], "k int, v string"), 200)
    tt.consolidate(keep_history=True)
    # snapshots still resolve, and the merged head wins at the tip
    assert tt.read(at=100).collect()[0]["v"] == "a"
    assert tt.read().collect()[0]["v"] == "A2"


def test_sql_over_tile_table(spark, tmp_path):
    """The full Spark SQL surface composes over catalog tables: register a
    TileTable scan as a view and run joins/aggregates/windows on it — the
    MariaDB-above-the-handler tier (SURVEY §2 tier-M) over our storage."""
    from tiledb_mariadb_spark.catalog import Attr, Dim, TileTable

    tt = TileTable.create(
        spark,
        str(tmp_path / "sqltab"),
        dimensions=[Dim("k", "int")],
        attributes=[Attr("grp", "string"), Attr("x", "double")],
    )
    rows = [(i, "even" if i % 2 == 0 else "odd", float(i)) for i in range(100)]
    tt.write(spark.createDataFrame(rows, "k int, grp string, x double"))
    tt.read().createOrReplaceTempView("tile_sql")
    got = spark.sql(
        """
        SELECT grp, CAST(COUNT(*) AS BIGINT) AS n, MAX(x) AS mx,
               CAST(RANK() OVER (ORDER BY SUM(x) DESC) AS BIGINT) AS rk
        FROM tile_sql GROUP BY grp ORDER BY grp
        """
    ).collect()
    assert [(r["grp"], r["n"], r["mx"], r["rk"]) for r in got] == [
        ("even", 50, 98.0, 2),
        ("odd", 50, 99.0, 1),
    ]


def test_discover_bare_parquet(spark, tmp_path):
    """Assisted discovery of an existing dataset we did NOT write
    (discover_array parity): schema + domains reverse-engineered, data
    shared in place, SHOW CREATE synthesized."""
    from tests.conftest import SF_DIR
    from tiledb_mariadb_spark.catalog import TileTable, discover_parquet

    tt = discover_parquet(
        spark,
        f"{SF_DIR}/nation.parquet",
        str(tmp_path / "disc"),
        dimensions=["n_nationkey"],
    )
    assert tt.schema.dim_names == ["n_nationkey"]
    assert tt.schema.dimensions[0].lower == 0
    assert tt.schema.dimensions[0].upper == 24
    assert set(tt.schema.attr_names) == {"n_name", "n_regionkey"}
    assert tt.read().count() == 25
    ddl = tt.show_create()
    assert "dimension=1" in ddl and "n_nationkey" in ddl
    # reopen from sidecar alone
    assert TileTable(spark, tt.uri).read().count() == 25


def test_write_coerces_declared_types(spark, tmp_path):
    """INSERT-style type coercion: int literals land in a bigint dim /
    double attr; the stored schema is the declared one."""
    from tiledb_mariadb_spark.catalog import Attr, Dim, TileTable

    tt = TileTable.create(
        spark,
        str(tmp_path / "coerce"),
        dimensions=[Dim("k", "bigint")],
        attributes=[Attr("v", "double"), Attr("s", "string")],
    )
    tt.write(spark.createDataFrame([(1, 2, 3)], "k int, v int, s int"))
    got = tt.read()
    assert [f.dataType.simpleString() for f in got.schema.fields] == [
        "bigint", "double", "string",
    ]
    r = got.collect()[0]
    assert (r["k"], r["v"], r["s"]) == (1, 2.0, "3")


def test_fact_table_hosted_in_tile_table(spark, tmp_path):
    """End-to-end storage-layer hosting: ingest lineitem into a TileTable
    (dims = (l_orderkey, l_linenumber), the reference's PK choice), then
    run the flagship pricing-summary aggregation over tt.read() — results
    identical to the parquet path."""
    from tests.conftest import SF_DIR
    from pyspark.sql import functions as F

    from tiledb_mariadb_spark.sources.registry import load_table

    src = load_table(spark, SF_DIR, "lineitem")
    attrs = [
        Attr(f.name, f.dataType.simpleString())
        for f in src.schema.fields
        if f.name not in ("l_orderkey", "l_linenumber")
    ]
    # the synthetic lineitem's (orderkey, linenumber) is NOT unique, so
    # host it as a duplicates-allowed sparse array (allows_dups, the
    # TileDB recommendation for fact data without a strict coordinate key)
    tt = TileTable.create(
        spark,
        str(tmp_path / "lineitem_tt"),
        dimensions=[Dim("l_orderkey", "bigint"), Dim("l_linenumber", "int")],
        attributes=attrs,
        capacity=2000,
        allows_dups=True,
    )
    tt.write(src)

    def summarize(df):
        return (
            df.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("q"),
                F.count(F.lit(1)).alias("n"),
            )
            .orderBy("l_returnflag", "l_linestatus")
            .collect()
        )

    assert tt.read().count() == src.count()
    assert summarize(tt.read()) == summarize(src)
    # keyed point read through the dim layout
    row = tt.subarray({"l_orderkey": (42, 42)}).collect()
    want = src.filter(F.col("l_orderkey") == 42).collect()
    assert len(row) == len(want)


def test_dense_fill_with_time_travel(spark, tmp_path):
    """fill=True at a snapshot materializes the dense domain as of that
    version: cells written later revert to fill values (t/fill_in.test x
    t/open_at.test combined semantics)."""
    tt = TileTable.create(
        spark,
        str(tmp_path / "densett"),
        dimensions=[Dim("k", "int", lower=1, upper=4, tile_extent=4)],
        attributes=[Attr("v", "int", fill=-1)],
        array_type="DENSE",
    )
    tt.write(spark.createDataFrame([(1, 10)], "k int, v int"), version_ts=100)
    tt.write(spark.createDataFrame([(3, 30)], "k int, v int"), version_ts=200)

    now = {r["k"]: r["v"] for r in tt.read(fill=True).collect()}
    assert now == {1: 10, 2: -1, 3: 30, 4: -1}
    then = {r["k"]: r["v"] for r in tt.read(at=100, fill=True).collect()}
    assert then == {1: 10, 2: -1, 3: -1, 4: -1}


def test_single_version_read_has_no_exchange(spark, tmp_path):
    """A 1-version table scan must be shuffle-free: write() dedups within
    the batch, so the last-writer-wins window (a full Exchange +
    row_number at 100 TB) only belongs on multi-version reads
    (VERDICT r01 "What's wrong #3")."""
    tt = TileTable.create(
        spark,
        str(tmp_path / "onever"),
        dimensions=[Dim("k", "int")],
        attributes=[Attr("v", "string")],
    )
    tt.write(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    plan = tt.read()._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan

    # a second version DOES need the window — semantics must not regress
    tt.write(spark.createDataFrame([(2, "b2")], "k int, v string"))
    rows = {r["k"]: r["v"] for r in tt.read().collect()}
    assert rows == {1: "a", 2: "b2"}


def test_write_validation_is_single_pass(spark, tmp_path):
    """write() folds null/bounds/enum checks + tile-sizing count into ONE
    aggregate job (VERDICT r01 "What's wrong #4"): count Spark jobs via
    the status tracker before/after."""
    tt = TileTable.create(
        spark,
        str(tmp_path / "onepass"),
        dimensions=[Dim("k", "int", lower=1, upper=100, tile_extent=10)],
        attributes=[Attr("v", "string", enum=["a", "b"]), Attr("w", "int")],
        array_type="DENSE",
    )
    df = spark.createDataFrame([(i, "a", i) for i in range(1, 50)], "k int, v string, w int")
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    tt.write(df)
    after = len(tracker.getJobIdsForGroup(None) or [])
    # one validation agg (AQE may split it) + repartitionByRange sampling
    # + the parquet write ≈ 5 jobs; the old per-check code path ran ≥7
    # here (null + bounds + enum + count as separate scans)
    assert after - before <= 5, f"write() ran {after - before} jobs"


def test_multi_value_fixed_length_cells(spark, tmp_path):
    """array<float> attribute = fixed-length multi-value cell
    (t/multi_value_fixed_length.test; mytile.cc:170-172): round-trips
    through write/read, supports per-element predicates, and show_create
    echoes the multi-value storage type."""
    from tiledb_mariadb_spark.schema import tiledb_type_for

    assert tiledb_type_for("array<float>") == "FLOAT32[]"
    tt = TileTable.create(
        spark,
        str(tmp_path / "mv"),
        dimensions=[Dim("k", "int")],
        attributes=[Attr("vec", "array<float>")],
    )
    df = spark.createDataFrame(
        [(1, [1.5, 2.5, 3.5]), (2, [4.0, 5.0, 6.0])], "k int, vec array<float>"
    )
    tt.write(df)
    got = {
        r["k"]: r["vec"]
        for r in tt.read().filter("element_at(vec, 1) > 1.0").collect()
    }
    assert got == {1: [1.5, 2.5, 3.5], 2: [4.0, 5.0, 6.0]}
    assert "array<float>" in tt.show_create()


def test_discovery_infers_enums(spark, tmp_path):
    """Low-cardinality string columns become enum label sets during
    discovery (mytile-discovery.cc:338-379); high-cardinality ones keep
    the plain type (the oversized-enum fallback)."""
    from tiledb_mariadb_spark.catalog import discover_parquet

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, ["red", "green", "blue"][i % 3], f"unique-{i}") for i in range(200)],
        "id bigint, color string, label string",
    ).write.parquet(src)
    tt = discover_parquet(spark, src, str(tmp_path / "disc"), dimensions=["id"])
    by_name = {a.name: a for a in tt.schema.attributes}
    assert by_name["color"].enum == ["blue", "green", "red"]
    assert by_name["label"].enum is None
    assert "enum=('blue','green','red')" in tt.show_create()
    # enum inference is opt-out
    t2 = discover_parquet(
        spark, src, str(tmp_path / "disc2"), dimensions=["id"], infer_enums=False
    )
    assert all(a.enum is None for a in t2.schema.attributes)
