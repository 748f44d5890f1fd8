"""JVM DataSource V2 aggregate-pushdown shim (round 7).

group_by_handler parity from PLAIN SQL (ha_mytile.cc:607-715): the one
behavior the Python DataSource API cannot express is
SupportsPushDownAggregates, so ``format("tiledb_agg")`` is a thin Java
provider (java/TileDBAggDataSource.java, compiled on demand against the
installed pyspark jars) that answers ungrouped COUNT(*)/MIN/MAX/SUM
entirely from fragment metadata via a subprocess bridge into this
repo's decoder — and falls back to an honest bridge row-scan whenever
the metadata trust rules cannot prove a value.
"""

import glob
import os
import shutil

import pytest

from tiledb_mariadb_spark.sources.tiledb_native import (
    NativeAttr,
    NativeDim,
)
from tiledb_mariadb_spark.sources.tiledb_native_write import (
    create_native_array,
    write_native_fragment,
)

pytestmark = pytest.mark.skipif(
    shutil.which("javac") is None or shutil.which("jar") is None,
    reason="needs a JDK (javac + jar) to build the shim",
)


def _mk(tmp_path, n=500):
    uri = str(tmp_path / "arr")
    create_native_array(
        uri,
        [NativeDim("k", 1, 1, (0, 10**6), None)],
        [
            NativeAttr("v", 3, 1, False, None),
            NativeAttr("q", 1, 1, False, None),
            NativeAttr("tag", 12, 0xFFFFFFFF, False, None),
            NativeAttr("w", 1, 1, True, None),
        ],
    )
    write_native_fragment(
        uri,
        {
            "k": list(range(n)),
            "v": [i * 0.5 for i in range(n)],
            "q": [i % 7 for i in range(n)],
            "tag": [f"t{i % 3}" for i in range(n)],
            "w": [None if i % 5 == 0 else i for i in range(n)],
        },
        ts=10,
        version=19,
    )
    return uri


def _poison_data_tiles(uri):
    """Corrupt every data file, keep only fragment metadata: any path
    that decodes a tile now fails loudly."""
    for frag in glob.glob(os.path.join(uri, "__fragments", "__*")):
        for f in os.listdir(frag):
            if f != "__fragment_metadata.tdb":
                with open(os.path.join(frag, f), "wb") as fh:
                    fh.write(b"PoIsOn")


def test_agg_pushdown_zero_decode(spark, tmp_path):
    """Plain-SQL COUNT(*)/MIN/MAX/SUM over format('tiledb_agg') push
    into the scan and are answered from fragment metadata — proven by
    poisoning every data tile (a real scan would crash)."""
    from tiledb_mariadb_spark.sources.jvm_agg import agg_reader

    uri = _mk(tmp_path)
    _poison_data_tiles(uri)
    agg_reader(spark, uri).load().createOrReplaceTempView("jvm_agg_t")
    q = (
        "SELECT COUNT(*) AS n, MIN(v) AS mn, MAX(v) AS mx, "
        "SUM(q) AS sq, SUM(v) AS sv, MIN(k) AS mk, "
        "AVG(v) AS av, COUNT(v) AS cv, COUNT(w) AS cw FROM jvm_agg_t"
    )
    df = spark.sql(q)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MetadataAggScan" in plan, plan
    row = df.collect()[0]
    assert (
        row.n, row.mn, row.mx, row.sq, row.sv, row.mk, row.av, row.cv,
        row.cw,
    ) == (500, 0.0, 249.5, 1494, 62375.0, 0, 124.75, 500, 400)
    # AVG over a NULL-containing nullable column: sum stat withheld,
    # honest refusal (would need a scan — which is poisoned, so assert
    # only the plan)
    p2 = spark.sql(
        "SELECT AVG(w) FROM jvm_agg_t"
    )._jdf.queryExecution().executedPlan().toString()
    assert "MetadataAggScan" not in p2
    # the poisoned row scan fails loudly — the aggregates above really
    # never touched a data tile
    with pytest.raises(Exception, match="rows bridge"):
        spark.sql("SELECT * FROM jvm_agg_t").collect()


def test_agg_fallback_is_honest(spark, tmp_path):
    """Var-string MIN/MAX pushes from the fmmsn text extrema (round 7 —
    the reference pushes string MIN/MAX, ha_mytile.cc:480-487); grouped
    aggregates fall back to the bridge row scan and still return
    correct values; the scan path itself round-trips the table."""
    from tiledb_mariadb_spark.sources.jvm_agg import agg_reader

    uri = _mk(tmp_path, n=200)
    df = agg_reader(spark, uri).load()
    df.createOrReplaceTempView("jvm_agg_f")
    got = spark.sql(
        "SELECT MIN(tag) AS mt, MAX(tag) AS xt FROM jvm_agg_f"
    ).collect()[0]
    assert (got.mt, got.xt) == ("t0", "t2")
    plan = spark.sql(
        "SELECT MIN(tag) FROM jvm_agg_f"
    )._jdf.queryExecution().executedPlan().toString()
    assert "MetadataAggScan" in plan  # string extrema from metadata
    grouped = spark.sql(
        "SELECT tag, COUNT(*) AS n FROM jvm_agg_f GROUP BY tag ORDER BY tag"
    ).collect()
    assert [(r.tag, r.n) for r in grouped] == [
        ("t0", 67), ("t1", 67), ("t2", 66),
    ]
    assert df.count() == 200
    assert sorted(
        (r.k, r.v, r.q, r.tag)
        for r in spark.sql("SELECT * FROM jvm_agg_f").collect()
    ) == [(i, i * 0.5, i % 7, f"t{i % 3}") for i in range(200)]


def test_agg_refuses_unprovable_stats(spark, tmp_path):
    """Overlapping fragments (newest-wins could change MIN/MAX/SUM)
    make the metadata path refuse — same trust rules as
    count_native_array — and the row-scan fallback returns the
    merged truth."""
    from tiledb_mariadb_spark.sources.jvm_agg import agg_reader

    uri = _mk(tmp_path, n=100)
    write_native_fragment(
        uri,
        {"k": [0], "v": [999.0], "q": [1], "tag": ["zz"], "w": [7]},
        ts=20,
        version=19,
    )
    df = agg_reader(spark, uri).load()
    df.createOrReplaceTempView("jvm_agg_o")
    q = "SELECT COUNT(*) AS n, MAX(v) AS mx FROM jvm_agg_o"
    plan = spark.sql(q)._jdf.queryExecution().executedPlan().toString()
    assert "MetadataAggScan" not in plan  # honest refusal
    row = spark.sql(q).collect()[0]
    assert (row.n, row.mx) == (100, 999.0)


def test_agg_composes_with_pushed_filters(spark, tmp_path):
    """Round 8: aggregates COMPOSE with pushed dim-range filters in one
    plan (the reference's range-stealing, ha_mytile.cc:634-640) — the
    windowed metadata aggregate answers WHERE dim BETWEEN a AND b with
    only edge tiles decoded.  Interior-only windows on tile boundaries
    stay fully decode-free."""
    from tiledb_mariadb_spark.sources.jvm_agg import agg_reader

    uri = _mk(tmp_path, n=500)
    agg_reader(spark, uri).load().createOrReplaceTempView("jvm_agg_c")
    q = (
        "SELECT COUNT(*) AS n, SUM(q) AS sq, MIN(v) AS mn "
        "FROM jvm_agg_c WHERE k BETWEEN 100 AND 299"
    )
    plan = spark.sql(q)._jdf.queryExecution().executedPlan().toString()
    assert "MetadataAggScan" in plan, plan
    row = spark.sql(q).collect()[0]
    assert (row.n, row.sq, row.mn) == (
        200, sum(i % 7 for i in range(100, 300)), 50.0,
    )
    # attr-condition residual makes stats unprovable: honest fallback,
    # filter still pushed into the scan (exact), correct value
    q2 = "SELECT COUNT(*) AS n FROM jvm_agg_c WHERE q = 3"
    p2 = spark.sql(q2)._jdf.queryExecution().executedPlan().toString()
    assert "MetadataAggScan" not in p2
    assert "PushedConditions" in p2
    assert spark.sql(q2).collect()[0].n == sum(
        1 for i in range(500) if i % 7 == 3
    )
    # the same zero-column scan, where the Arrow batches' row counts
    # carry the count: survivors spanning two 32768-row batches, and
    # none at all (q = 1 lies inside the fragment's q range, so no
    # metadata refutes it)
    big = str(tmp_path / "big")
    create_native_array(
        big,
        [NativeDim("k", 1, 1, (0, 10**6), None)],
        [NativeAttr("q", 1, 1, False, None)],
    )
    write_native_fragment(
        big,
        {"k": list(range(40000)), "q": [3 * (i % 10 > 0) for i in range(40000)]},
        ts=10,
        version=19,
    )
    agg_reader(spark, big).load().createOrReplaceTempView("jvm_agg_big")
    for cond, want in (("q = 3", 36000), ("q = 1", 0)):
        q3 = f"SELECT COUNT(*) AS n FROM jvm_agg_big WHERE {cond}"
        p3 = spark.sql(q3)._jdf.queryExecution().executedPlan().toString()
        assert "MetadataAggScan" not in p3
        assert "PushedConditions" in p3
        assert spark.sql(q3).collect()[0].n == want


def test_grouped_rollup_pushdown_zero_scan(spark, tmp_path):
    """Round 8: GROUP BY FLOOR(dim0/width) pushes into the scan and is
    answered by the bucketed metadata rollup (q340 behind plain SQL) —
    poison-proven when the tile grid aligns with the buckets."""
    from tiledb_mariadb_spark.sources.jvm_agg import agg_reader

    uri = str(tmp_path / "grid")
    create_native_array(
        uri,
        [NativeDim("k", 1, 1, (0, 10**6), None)],
        [NativeAttr("v", 1, 1, False, None)],
        capacity=100,  # tiles pack per 100 cells = the bucket grid
    )
    write_native_fragment(
        uri,
        {"k": list(range(400)), "v": [i * 3 for i in range(400)]},
        ts=10, version=19,
    )
    _poison_data_tiles(uri)
    agg_reader(spark, uri).load().createOrReplaceTempView("jvm_agg_g")
    q = (
        "SELECT FLOOR(k/100) AS b, COUNT(*) AS n, SUM(v) AS sv, "
        "MIN(v) AS mn, MAX(v) AS mx FROM jvm_agg_g "
        "GROUP BY FLOOR(k/100) ORDER BY b"
    )
    plan = spark.sql(q)._jdf.queryExecution().executedPlan().toString()
    assert "GroupedPushedAggregates" in plan, plan
    rows = [(r.b, r.n, r.sv, r.mn, r.mx) for r in spark.sql(q).collect()]
    assert rows == [
        (b, 100, sum(i * 3 for i in range(b * 100, b * 100 + 100)),
         b * 300, (b * 100 + 99) * 3)
        for b in range(4)
    ]
    # GROUP BY the dim itself also pushes (width-1 buckets decode
    # per-cell, so this runs on an unpoisoned twin)
    uri2 = str(tmp_path / "grid2")
    create_native_array(
        uri2,
        [NativeDim("k", 1, 1, (0, 10**6), None)],
        [NativeAttr("v", 1, 1, False, None)],
        capacity=100,
    )
    write_native_fragment(
        uri2, {"k": list(range(10)), "v": list(range(10))},
        ts=10, version=19,
    )
    agg_reader(spark, uri2).load().createOrReplaceTempView("jvm_agg_g2")
    q2 = (
        "SELECT k, COUNT(*) AS n FROM jvm_agg_g2 WHERE k < 3 "
        "GROUP BY k ORDER BY k"
    )
    p2 = spark.sql(q2)._jdf.queryExecution().executedPlan().toString()
    assert "GroupedPushedAggregates" in p2
    assert [(r.k, r.n) for r in spark.sql(q2).collect()] == [
        (0, 1), (1, 1), (2, 1),
    ]


def test_scan_filter_pushdown_and_pruning(spark, tmp_path):
    """Round 8: the scan path pushes =, ranges, IN, IS NULL and prunes
    the projection — no Spark-side residual (the decoder applies them
    EXACTLY, 3VL included), zero partitions when provably empty."""
    from tiledb_mariadb_spark.sources.jvm_agg import agg_reader

    uri = _mk(tmp_path, n=300)
    df = agg_reader(spark, uri).load()
    df.createOrReplaceTempView("jvm_scan_p")
    q = "SELECT v FROM jvm_scan_p WHERE w >= 290 AND k < 299"
    plan = spark.sql(q)._jdf.queryExecution().executedPlan().toString()
    assert "PushedConditions" in plan and "PrunedColumns" in plan
    assert "FilterExec" not in plan  # fully absorbed, no residual
    # w NULL at k%5==0 -> 290 and 295 drop (3VL), 299 out of range
    assert sorted(r.v for r in spark.sql(q).collect()) == [
        145.5, 146.0, 146.5, 147.0, 148.0, 148.5, 149.0,
    ]
    got = spark.sql(
        "SELECT k FROM jvm_scan_p WHERE w IS NULL AND k >= 290"
    ).collect()
    assert sorted(r.k for r in got) == [290, 295]
    got_in = spark.sql(
        "SELECT k, tag FROM jvm_scan_p WHERE k IN (1, 4, 9)"
    ).collect()
    assert sorted((r.k, r.tag) for r in got_in) == [
        (1, "t1"), (4, "t1"), (9, "t0"),
    ]
    # provably-empty condition: the split plan returns zero partitions
    assert spark.sql(
        "SELECT * FROM jvm_scan_p WHERE q = 99"
    ).collect() == []


def test_grid_rollup_2d_pushdown(spark, tmp_path):
    """GROUP BY FLOOR(y/w), FLOOR(x/w) — out of schema order — pushes
    to the N-D grid rollup; dense arrays route to the dense twin."""
    import collections

    from tiledb_mariadb_spark.sources.jvm_agg import agg_reader

    uri = str(tmp_path / "s2")
    create_native_array(
        uri,
        [NativeDim("x", 1, 1, (0, 999), None),
         NativeDim("y", 1, 1, (0, 999), None)],
        [NativeAttr("v", 1, 1, False, None)],
        capacity=50,
    )
    xs, ys, vs = [], [], []
    for x in range(0, 100, 2):
        for y in range(0, 100, 5):
            xs.append(x)
            ys.append(y)
            vs.append(x * 10 + y)
    write_native_fragment(uri, {"x": xs, "y": ys, "v": vs}, ts=1,
                          version=19)
    agg_reader(spark, uri).load().createOrReplaceTempView("jvm_g2")
    q = (
        "SELECT FLOOR(y/50) AS by, FLOOR(x/50) AS bx, COUNT(*) AS n, "
        "SUM(v) AS sv FROM jvm_g2 GROUP BY FLOOR(y/50), FLOOR(x/50) "
        "ORDER BY by, bx"
    )
    plan = spark.sql(q)._jdf.queryExecution().executedPlan().toString()
    assert "GroupedPushedAggregates" in plan, plan
    exp = collections.defaultdict(lambda: [0, 0])
    for x, y, v in zip(xs, ys, vs):
        e = exp[(y // 50, x // 50)]
        e[0] += 1
        e[1] += v
    assert [(r.by, r.bx, r.n, r.sv) for r in spark.sql(q).collect()] == (
        sorted((k[0], k[1], e[0], e[1]) for k, e in exp.items())
    )
    # grouping on a NON-dim0 dim with a filter window on the other dim
    q2 = (
        "SELECT FLOOR(x/50) AS bx, COUNT(*) AS n FROM jvm_g2 "
        "WHERE y BETWEEN 10 AND 59 GROUP BY FLOOR(x/50) ORDER BY bx"
    )
    p2 = spark.sql(q2)._jdf.queryExecution().executedPlan().toString()
    assert "GroupedPushedAggregates" in p2
    exp2 = collections.defaultdict(int)
    for x, y in zip(xs, ys):
        if 10 <= y <= 59:
            exp2[x // 50] += 1
    assert [(r.bx, r.n) for r in spark.sql(q2).collect()] == sorted(
        exp2.items()
    )


def test_grid_rollup_dense_pushdown(spark, tmp_path):
    """Dense 2-D heatmap downsample behind plain SQL (dense grid twin)."""
    import collections

    from tiledb_mariadb_spark.sources.jvm_agg import agg_reader
    from tiledb_mariadb_spark.sources.tiledb_native import (
        read_native_array_range,
    )

    uri = str(tmp_path / "d2")
    create_native_array(
        uri,
        [NativeDim("x", 0, 1, (0, 99), 10),
         NativeDim("y", 0, 1, (0, 99), 10)],
        [NativeAttr("v", 1, 1, False, None)],
        array_type="DENSE",
    )
    vals = [x * 100 + y for x in range(5, 25) for y in range(10, 40)]
    write_native_fragment(
        uri, {"v": vals}, subarray=[(5, 24), (10, 39)], ts=1, version=19
    )
    agg_reader(spark, uri).load().createOrReplaceTempView("jvm_gd")
    q = (
        "SELECT FLOOR(x/10) AS bx, FLOOR(y/10) AS by, COUNT(*) AS n, "
        "MIN(v) AS mn FROM jvm_gd GROUP BY 1, 2 ORDER BY bx, by"
    )
    plan = spark.sql(q)._jdf.queryExecution().executedPlan().toString()
    assert "GroupedPushedAggregates" in plan, plan
    names, rows = read_native_array_range(uri)
    ix, iy, iv = names.index("x"), names.index("y"), names.index("v")
    exp = collections.defaultdict(lambda: [0, None])
    for r in rows:
        e = exp[(r[ix] // 10, r[iy] // 10)]
        e[0] += 1
        e[1] = r[iv] if e[1] is None else min(e[1], r[iv])
    assert [(r.bx, r.by, r.n, r.mn) for r in spark.sql(q).collect()] == (
        sorted((k[0], k[1], e[0], e[1]) for k, e in exp.items())
    )


def test_scan_is_columnar(spark, tmp_path):
    """Round 9 (r8 verdict #4): the fallback row scan returns Arrow
    batches as ColumnarBatch — the plan shows a ColumnarToRow boundary
    over the scan (no per-row InternalRow conversion in the reader) and
    every type on the wire round-trips, including nullable int64 above
    2^53 (explicit Arrow schema, no pandas float64 detour)."""
    from tiledb_mariadb_spark.sources.jvm_agg import agg_reader

    uri = _mk(tmp_path, n=300)
    df = agg_reader(spark, uri).load()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ColumnarToRow" in plan, plan
    got = {r.k: r for r in df.collect()}
    assert len(got) == 300
    assert got[7].v == 3.5 and got[7].q == 0 and got[7].tag == "t1"
    assert got[5].w is None and got[6].w == 6

    big = 2**53 + 1
    uri2 = str(tmp_path / "big")
    create_native_array(
        uri2,
        [NativeDim("k", 1, 1, (0, 100), None)],
        [NativeAttr("b", 1, 1, True, None)],
    )
    write_native_fragment(
        uri2, {"k": [1, 2, 3], "b": [big, None, 5]}, ts=1, version=19
    )
    rows = {
        r.k: r.b for r in agg_reader(spark, uri2).load().collect()
    }
    assert rows == {1: big, 2: None, 3: 5}


def test_report_statistics_enables_broadcast(spark, tmp_path):
    """Round 9: SupportsReportStatistics reports metadata row/byte
    counts (records_in_range parity, ha_mytile.cc:1424-1468) so Spark
    broadcasts a genuinely small array side WITHOUT a hint — the
    default for a stats-less v2 relation is 'huge' and would shuffle."""
    from tiledb_mariadb_spark.sources.jvm_agg import agg_reader

    uri = _mk(tmp_path, n=50)  # tiny dim side
    big = spark.range(0, 10_000).selectExpr("id AS k", "id % 7 AS grp")
    small = agg_reader(spark, uri).load().select("k", "tag")
    joined = big.join(small, "k")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert joined.count() == 50


def test_limit_pushdown_truncates_wire(spark, tmp_path):
    """Round 9: LIMIT pushes to the bridge as an advisory per-split
    truncation (plan shows PushedLimit; Spark still applies the exact
    global limit)."""
    from tiledb_mariadb_spark.sources.jvm_agg import agg_reader

    uri = _mk(tmp_path, n=400)
    df = agg_reader(spark, uri).load().select("k", "v").limit(7)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedLimit: 7" in plan, plan
    assert len(df.collect()) == 7
    # limit composes with pushed filters: survivors truncate AFTER the
    # exact condition application
    got = (
        agg_reader(spark, uri).load()
        .filter("k >= 390").select("k").limit(5).collect()
    )
    assert len(got) == 5 and all(r.k >= 390 for r in got)


def test_runtime_filtering_dpp(spark, tmp_path):
    """Round 9: SupportsRuntimeFiltering — a broadcast join side's dim
    values arrive as a dynamic IN filter (plan shows RuntimeFilters:
    [dynamicpruningexpression...]); the scan folds them into its pushed
    conditions, so the split planner's condition-NED skips fragments
    holding no key (the zero-partition behavior pinned by
    test_scan_filter_pushdown_and_pruning applies at runtime)."""
    from tiledb_mariadb_spark.sources.jvm_agg import agg_reader

    uri = _mk(tmp_path, n=500)
    fact = agg_reader(spark, uri).load()
    dim = spark.range(0, 100).selectExpr("id*1 AS k").filter("k < 5")
    j = fact.join(dim.hint("broadcast"), "k")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "RuntimeFilters: [dynamicpruning" in plan, plan
    got = sorted(r.k for r in j.select("k").collect())
    assert got == [0, 1, 2, 3, 4]


def test_write_path_atomic_group(spark, tmp_path):
    """Round 9: df.write.format('tiledb_agg') — each task stages an
    invisible fragment (commit=False), the job commit flips the whole
    group atomically with ONE .con file; read-back is exact (incl.
    NULLs and int64 > 2^53) and the metadata aggregates serve the
    engine-written fragments."""
    import glob as _glob

    from tiledb_mariadb_spark.sources.jvm_agg import (
        agg_reader,
        register_tiledb_agg,
    )

    register_tiledb_agg(spark)
    uri = str(tmp_path / "warr")
    create_native_array(
        uri,
        [NativeDim("k", 1, 1, (0, 10**6), None)],
        [
            NativeAttr("v", 3, 1, False, None),
            NativeAttr("w", 1, 1, True, None),
            NativeAttr("tag", 12, 0xFFFFFFFF, False, None),
        ],
    )
    big = 2**53 + 1
    df = spark.createDataFrame(
        [(i, i * 0.5, big if i == 7 else (None if i % 5 == 0 else i),
          f"t{i % 3}") for i in range(200)],
        "k long, v double, w long, tag string",
    ).repartition(4)
    (
        df.write.format("tiledb_agg").option("path", uri)
        .mode("append").save()
    )
    cons = _glob.glob(os.path.join(uri, "__commits", "*.con"))
    assert len(cons) == 1, "job commit must be ONE atomic .con group"
    listed = open(cons[0]).read().strip().splitlines()
    assert 2 <= len(listed) <= 4  # one staged fragment per non-empty task
    got = {r.k: r for r in agg_reader(spark, uri).load().collect()}
    assert len(got) == 200
    assert got[7].w == big and got[10].w is None and got[11].w == 11
    assert got[4].tag == "t1" and got[9].v == 4.5
    # metadata aggregate over the engine-written fragments
    agg_reader(spark, uri).load().createOrReplaceTempView("jvm_written")
    row = spark.sql(
        "SELECT COUNT(*) AS n, MIN(k) AS lo, MAX(k) AS hi FROM jvm_written"
    ).collect()[0]
    assert (row.n, row.lo, row.hi) == (200, 0, 199)


def test_write_path_schema_resolution(spark, tmp_path):
    """V2 append resolves columns BY NAME (Spark reorders a permuted
    frame to the table schema); a missing column refuses at analysis."""
    from tiledb_mariadb_spark.sources.jvm_agg import (
        agg_reader,
        register_tiledb_agg,
    )

    register_tiledb_agg(spark)
    uri = str(tmp_path / "wbad")
    create_native_array(
        uri,
        [NativeDim("k", 1, 1, (0, 100), None)],
        [NativeAttr("v", 3, 1, False, None)],
    )
    df = spark.createDataFrame([(0.5, 1)], "v double, k long")  # permuted
    df.write.format("tiledb_agg").option("path", uri).mode("append").save()
    got = agg_reader(spark, uri).load().collect()
    assert [(r.k, r.v) for r in got] == [(1, 0.5)]
    with pytest.raises(Exception):
        spark.createDataFrame([(2,)], "k long").write.format(
            "tiledb_agg"
        ).option("path", uri).mode("append").save()


def test_topn_pushdown_zone_map(spark, tmp_path):
    """Round 9: ORDER BY col LIMIT n pushes the zone-map threshold back
    as a condition — proven by poisoning every fragment the bound
    excludes (decoding them would crash) and still answering exactly."""
    from tiledb_mariadb_spark.sources.jvm_agg import agg_reader

    uri = str(tmp_path / "topk")
    create_native_array(
        uri,
        [NativeDim("k", 1, 1, (0, 10**6), None)],
        [NativeAttr("q", 1, 1, False, None)],
    )
    # 4 fragments with disjoint q ranges: top-5 lives wholly in frag 4
    for f in range(4):
        ks = list(range(f * 100, f * 100 + 100))
        write_native_fragment(
            uri, {"k": ks, "q": [f * 1000 + i for i in range(100)]},
            ts=f + 1, version=19,
        )
    # poison the three LOW fragments' data tiles
    import glob as _glob

    frags = sorted(_glob.glob(os.path.join(uri, "__fragments", "__*")))
    for frag in frags[:3]:
        for fn in os.listdir(frag):
            if fn != "__fragment_metadata.tdb":
                with open(os.path.join(frag, fn), "wb") as fh:
                    fh.write(b"PoIsOn")
    agg_reader(spark, uri).load().createOrReplaceTempView("jvm_topk")
    df = spark.sql("SELECT k, q FROM jvm_topk ORDER BY q DESC LIMIT 5")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert '"q",">="' in plan.replace(" ", ""), plan  # pushed threshold
    got = [(r.k, r.q) for r in df.collect()]
    assert got == [(399, 3099), (398, 3098), (397, 3097),
                   (396, 3096), (395, 3095)]
    df2 = spark.sql("SELECT k, q FROM jvm_topk ORDER BY q ASC LIMIT 3")
    # ascending bound points at the POISONED low fragments: the scan
    # must decode them -> crash proves the threshold really pruned in
    # the descending case rather than the query just being lucky
    with pytest.raises(Exception):
        df2.collect()


def test_write_path_two_jobs_compose(spark, tmp_path):
    """Two independent write JOBS append two atomic groups; both stay
    visible (uncoordinated multi-writer model) and newest-wins applies
    on overwritten keys."""
    import glob as _glob

    from tiledb_mariadb_spark.sources.jvm_agg import (
        agg_reader,
        register_tiledb_agg,
    )

    register_tiledb_agg(spark)
    uri = str(tmp_path / "w2")
    create_native_array(
        uri,
        [NativeDim("k", 1, 1, (0, 1000), None)],
        [NativeAttr("v", 3, 1, False, None)],
    )
    spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "k long, v double"
    ).repartition(2).write.format("tiledb_agg").option("path", uri).mode(
        "append"
    ).save()
    spark.createDataFrame(
        [(i, 999.0) for i in range(90, 120)], "k long, v double"
    ).repartition(2).write.format("tiledb_agg").option("path", uri).mode(
        "append"
    ).save()
    assert len(_glob.glob(os.path.join(uri, "__commits", "*.con"))) == 2
    got = {r.k: r.v for r in agg_reader(spark, uri).load().collect()}
    assert len(got) == 120
    assert got[50] == 50.0 and got[95] == 999.0 and got[119] == 999.0
