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

import os
import shutil

import pytest

from tiledb_mariadb_spark.sources.tiledb_native import (
    NativeAttr,
    NativeDim,
)
from tiledb_mariadb_spark.sources.tiledb_native_write import (
    create_native_array,
    write_delete_condition,
    write_native_fragment,
)
from tiledb_mariadb_spark.suite.surfaces3 import poison_data_tiles

from .native_model import range_rows
from .spark_jobs import spark_jobs as _jobs

pytestmark = pytest.mark.skipif(
    shutil.which("javac") is None or shutil.which("jar") is None,
    reason="needs a JDK (javac + jar) to build the shim",
)


def _scans(df):
    """df's scan descriptions, joined: a local scan's executed plan is a
    LocalTableScan that prints none."""
    from tiledb_mariadb_spark.sources.jvm_agg import scan_descriptions

    return " | ".join(scan_descriptions(df))


# cells of a scan the bridge plans as two splits (jvm_bridge.py
# _CELLS_PER_TASK is 262144), so it runs as a batch scan
_WIDE = 300_000


def _mk_wide(tmp_path, n, name="wide"):
    """k = 0..n-1, v = 3k, q = k % 7, in one fragment."""
    import numpy as np

    uri = str(tmp_path / name)
    create_native_array(
        uri,
        [NativeDim("k", 1, 1, (0, 10**9), None)],
        [NativeAttr("v", 1, 1, False, None),
         NativeAttr("q", 1, 1, False, None)],
    )
    k = np.arange(n, dtype=np.int64)
    write_native_fragment(uri, {"k": k, "v": 3 * k, "q": k % 7}, ts=10,
                          version=19)
    return uri


def _mk(tmp_path, n=500, name="arr"):
    uri = str(tmp_path / name)
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


def test_agg_pushdown_zero_decode(spark, tmp_path):
    """Plain-SQL COUNT(*)/MIN/MAX/SUM over format('tiledb_agg') push
    into the scan and are answered from fragment metadata — proven by
    poisoning every data tile (a real scan would crash)."""
    from tiledb_mariadb_spark.sources.jvm_agg import agg_reader

    uri = _mk(tmp_path)
    poison_data_tiles(uri)
    agg_reader(spark, uri).load().createOrReplaceTempView("jvm_agg_t")
    q = (
        "SELECT COUNT(*) AS n, MIN(v) AS mn, MAX(v) AS mx, "
        "SUM(q) AS sq, SUM(v) AS sv, MIN(k) AS mk, MAX(k) AS xk, "
        "AVG(v) AS av, COUNT(v) AS cv, COUNT(w) AS cw, "
        "MIN(tag) AS mt, MAX(tag) AS xt FROM jvm_agg_t"
    )
    df = spark.sql(q)
    plan = _scans(df)
    assert "MetadataAggScan" in plan, plan
    row = df.collect()[0]
    assert (
        row.n, row.mn, row.mx, row.sq, row.sv, row.mk, row.xk, row.av,
        row.cv, row.cw, row.mt, row.xt,
    ) == (500, 0.0, 249.5, 1494, 62375.0, 0, 499, 124.75, 500, 400,
          "t0", "t2")
    # AVG over a NULL-containing nullable column: sum stat withheld,
    # honest refusal (would need a scan — which is poisoned, so assert
    # only the plan)
    p2 = _scans(spark.sql("SELECT AVG(w) FROM jvm_agg_t"))
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
    plan = _scans(spark.sql("SELECT MIN(tag) FROM jvm_agg_f"))
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
    plan = _scans(spark.sql(q))
    assert "MetadataAggScan" not in plan  # honest refusal
    row = spark.sql(q).collect()[0]
    assert (row.n, row.mx) == (100, 999.0)
    # a visible delete condition voids the trust rules too: the scan
    # fallback carries the post-delete truth
    uri2 = _mk(tmp_path, n=500, name="del")
    write_delete_condition(uri2, [("k", "<", 100)])
    agg_reader(spark, uri2).load().createOrReplaceTempView("jvm_agg_d")
    q2 = "SELECT COUNT(*) AS n, MIN(k) AS mk FROM jvm_agg_d"
    p2 = _scans(spark.sql(q2))
    assert "MetadataAggScan" not in p2
    row = spark.sql(q2).collect()[0]
    assert (row.n, row.mk) == (400, 100)


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
    plan = _scans(spark.sql(q))
    assert "MetadataAggScan" in plan, plan
    row = spark.sql(q).collect()[0]
    assert (row.n, row.sq, row.mn) == (
        200, sum(i % 7 for i in range(100, 300)), 50.0,
    )
    # attr-condition residual makes stats unprovable: honest fallback,
    # filter still pushed into the scan (exact), correct value
    q2 = "SELECT COUNT(*) AS n FROM jvm_agg_c WHERE q = 3"
    p2 = _scans(spark.sql(q2))
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
        p3 = _scans(spark.sql(q3))
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
    poison_data_tiles(uri)
    agg_reader(spark, uri).load().createOrReplaceTempView("jvm_agg_g")
    q = (
        "SELECT FLOOR(k/100) AS b, COUNT(*) AS n, SUM(v) AS sv, "
        "MIN(v) AS mn, MAX(v) AS mx FROM jvm_agg_g "
        "GROUP BY FLOOR(k/100) ORDER BY b"
    )
    plan = _scans(spark.sql(q))
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
    p2 = _scans(spark.sql(q2))
    assert "GroupedPushedAggregates" in p2
    assert [(r.k, r.n) for r in spark.sql(q2).collect()] == [
        (0, 1), (1, 1), (2, 1),
    ]


def test_scan_filter_pushdown_and_pruning(spark, tmp_path, capsys):
    """Round 8: the scan path pushes =, ranges, IN, IS NULL and prunes
    the projection — no Spark-side residual (the decoder applies them
    EXACTLY, 3VL included), zero partitions when provably empty."""
    import json

    from tiledb_mariadb_spark.sources.jvm_agg import agg_reader
    from tiledb_mariadb_spark.tools import jvm_bridge

    uri = _mk(tmp_path, n=300)
    df = agg_reader(spark, uri).load()
    df.createOrReplaceTempView("jvm_scan_p")
    q = "SELECT v FROM jvm_scan_p WHERE w >= 290 AND k < 299"
    plan = _scans(spark.sql(q))
    assert "PushedConditions" in plan and "PrunedColumns" in plan
    # fully absorbed: no Filter node above the scan
    assert "Filter" not in (
        spark.sql(q)._jdf.queryExecution().executedPlan().toString()
    )
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
    # one empty-plan reply for a refuted condition box and for a
    # contradictory range: no splits, planning stats still piggybacked
    for conds in ('[["q","=",99]]', '[["k",">",10],["k","<",5]]'):
        capsys.readouterr()
        assert jvm_bridge.main(
            ["splits", "--uri", uri, "--conditions", conds]
        ) == 0
        reply = json.loads(capsys.readouterr().out)
        assert reply["ok"] and reply["splits"] == [], reply
        assert reply["local"], reply  # nothing to read: no Spark job
        assert "rows" in reply["stats"] and "empty" not in reply
    # ... and the JVM plans zero partitions for it: a scan of the
    # poisoned tiles would fail loudly
    poison_data_tiles(uri)
    assert spark.sql(
        "SELECT k, v FROM jvm_scan_p WHERE k > 10 AND k < 5"
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
    plan = _scans(spark.sql(q))
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
    p2 = _scans(spark.sql(q2))
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
    plan = _scans(spark.sql(q))
    assert "GroupedPushedAggregates" in plan, plan
    names, rows = range_rows(uri)
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


def test_scan_multivalue_and_utf16(spark, tmp_path):
    """The tiledb_agg row scan serves a fixed multi-value float attr as
    array<float> (a list of the declared element type on the Arrow
    wire, not inferred doubles), var UTF-16 text and a nullable BOOL
    (decoded 0/1 ints, declared boolean), row-exact with the written
    cells."""
    from tiledb_mariadb_spark.sources.jvm_agg import agg_reader

    uri = str(tmp_path / "mv")
    create_native_array(
        uri,
        [NativeDim("k", 1, 1, (0, 1000), None)],
        [NativeAttr("vec", 2, 4, False, None),          # float32 x 4
         NativeAttr("s", 13, 0xFFFFFFFF, True, None),   # var UTF-16
         NativeAttr("ok", 40, 1, True, None)],          # nullable BOOL
    )
    vecs = [[float(i), i + 0.5, -1.0, 0.25] for i in range(20)]
    texts = [None if i % 4 == 0 else "日本" * (i % 3) + str(i)
             for i in range(20)]
    oks = [None if i % 3 == 0 else i % 2 == 0 for i in range(20)]
    write_native_fragment(
        uri, {"k": list(range(20)), "vec": vecs, "s": texts, "ok": oks},
        ts=1, version=19,
    )
    df = agg_reader(spark, uri).load()
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "bigint", "array<float>", "string", "boolean"
    ]
    got = sorted((r.k, list(r.vec), r.s, r.ok) for r in df.collect())
    assert got == [(i, vecs[i], texts[i], oks[i]) for i in range(20)]
    got = sorted(
        (r.k, r.s) for r in df.where("k BETWEEN 3 AND 6").collect()
    )
    assert got == [(i, texts[i]) for i in range(3, 7)]


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
    plan = _scans(df)
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

    uri = _mk_wide(tmp_path, _WIDE)  # a two-split batch scan
    fact = agg_reader(spark, uri).load()
    dim = (
        spark.range(0, 100).selectExpr("id AS k", "id % 20 AS g")
        .filter("g = 0")
    )
    j = fact.join(dim.hint("broadcast"), "k")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "RuntimeFilters: [dynamicpruning" in plan, plan
    got = sorted(r.k for r in j.select("k").collect())
    assert got == [0, 20, 40, 60, 80]
    # a small fact side is read in the driver at planning time, before
    # any runtime filter exists: it joins exactly without one
    small = agg_reader(spark, _mk(tmp_path, n=500)).load()
    j2 = small.join(dim.hint("broadcast"), "k")
    assert "Local" in _scans(j2)
    assert sorted(r.k for r in j2.select("k").collect()) == [
        0, 20, 40, 60, 80,
    ]


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
    poison_data_tiles(uri, frags[:3])
    agg_reader(spark, uri).load().createOrReplaceTempView("jvm_topk")
    df = spark.sql("SELECT k, q FROM jvm_topk ORDER BY q DESC LIMIT 5")
    plan = _scans(df)
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


# ---- resident bridges -------------------------------------------------------


def _bridge_pids(jvm_pid):
    """PIDs of the JVM's children running jvm_bridge."""
    pids = set()
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            if ppid != jvm_pid:
                continue
            with open(f"/proc/{d}/cmdline", "rb") as f:
                if b"jvm_bridge" in f.read():
                    pids.add(int(d))
        except (OSError, ValueError, IndexError):
            pass  # exited while listed
    return pids


def _jvm_pid(spark):
    if not os.path.isdir("/proc/self"):
        pytest.skip("needs /proc to list the JVM's children")
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def _window_expect(n, lo, hi):
    ks = [k for k in range(n) if lo <= k <= hi]
    return len(ks), sum(k % 7 for k in ks)


def test_resident_bridge_spawns_once(spark, tmp_path):
    """20 pushed aggregates in one session reuse one resident bridge:
    at most one new jvm_bridge child of the JVM appears, so steady
    state spawns 0 processes per query."""
    from tiledb_mariadb_spark.sources.jvm_agg import agg_reader

    jvm = _jvm_pid(spark)
    uri = _mk(tmp_path, n=500)
    agg_reader(spark, uri).load().createOrReplaceTempView("jvm_spawns")
    before = _bridge_pids(jvm)
    new = set()
    for i in range(20):
        df = spark.sql(
            "SELECT COUNT(*) AS n, SUM(q) AS s FROM jvm_spawns "
            f"WHERE k BETWEEN {i * 10} AND {i * 10 + 300}"
        )
        assert "MetadataAggScan" in _scans(df)
        row = df.collect()[0]
        assert (row.n, row.s) == _window_expect(500, i * 10, i * 10 + 300)
        now = _bridge_pids(jvm)
        assert now, "no resident bridge outlived the query"
        new |= now - before
    assert len(new) <= 1, new


def test_bridge_killed_mid_query(spark, tmp_path):
    """Killing bridges, idle or mid-request, never yields a wrong
    answer: a query either respawns and answers exactly or fails with
    a bridge error, and the next query after the kills is exact."""
    import signal
    import threading
    import time

    from tiledb_mariadb_spark.sources.jvm_agg import agg_reader

    jvm = _jvm_pid(spark)
    n = 40000
    uri = _mk(tmp_path, n=n)
    agg_reader(spark, uri).load().createOrReplaceTempView("jvm_kill")
    queries = [
        ("SELECT COUNT(*) AS n, SUM(q) AS s FROM jvm_kill "
         "WHERE k BETWEEN 100 AND 30000", _window_expect(n, 100, 30000)),
        # an attr condition: the bridge row scan, not metadata
        ("SELECT COUNT(*) AS n, SUM(q) AS s FROM jvm_kill WHERE q >= 3",
         (sum(1 for k in range(n) if k % 7 >= 3),
          sum(k % 7 for k in range(n) if k % 7 >= 3))),
    ]

    def run(sql):
        r = spark.sql(sql).collect()[0]
        return (r.n, r.s)

    def kill_all():
        for pid in _bridge_pids(jvm):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass

    for sql, want in queries:  # bridges exist before the kills
        assert run(sql) == want
    kill_all()  # idle bridges die: the next borrow respawns
    for sql, want in queries:
        assert run(sql) == want
    stop = threading.Event()

    def killer():
        while not stop.is_set():
            kill_all()
            time.sleep(0.05)

    t = threading.Thread(target=killer, daemon=True)
    t.start()
    try:
        for _ in range(4):
            for sql, want in queries:
                try:
                    got = run(sql)
                except Exception as e:  # noqa: BLE001 - the clean error
                    assert "bridge" in str(e), str(e)[:2000]
                else:
                    assert got == want
    finally:
        stop.set()
        t.join(timeout=60)
    assert not t.is_alive()
    for sql, want in queries:
        assert run(sql) == want


def test_abandoned_stream_not_reused(spark, tmp_path):
    """A LIMIT above a residual filter stops reading the Arrow stream
    after its first batch; that bridge is destroyed, so the unread
    batches never reach the next request."""
    from tiledb_mariadb_spark.sources.jvm_agg import agg_reader

    # two splits of five Arrow batches (at most 32768 rows each): a
    # batch scan, whose task streams the LIMIT abandons
    n = _WIDE
    uri = _mk_wide(tmp_path, n)
    agg_reader(spark, uri).load().createOrReplaceTempView("jvm_abandon")
    for _ in range(3):
        df = spark.sql("SELECT k FROM jvm_abandon WHERE k * 2 + 1 > 0 LIMIT 5")
        assert "PushedLimit" not in _scans(df)
        assert "Local" not in _scans(df)
        assert len(df.collect()) == 5
        row = spark.sql(
            "SELECT COUNT(*) AS n, SUM(q) AS s FROM jvm_abandon WHERE q >= 3"
        ).collect()[0]
        assert (row.n, row.s) == (
            sum(1 for k in range(n) if k % 7 >= 3),
            sum(k % 7 for k in range(n) if k % 7 >= 3),
        )
        got = spark.sql(
            "SELECT COUNT(*) AS n FROM jvm_abandon WHERE k < 1000"
        ).collect()[0]
        assert got.n == 1000


def test_fragment_visible_to_next_request(spark, tmp_path):
    """A fragment committed between two queries is seen by the second
    one, through the metadata aggregate and the row scan alike."""
    from tiledb_mariadb_spark.sources.jvm_agg import agg_reader

    uri = _mk(tmp_path, n=300)
    agg_reader(spark, uri).load().createOrReplaceTempView("jvm_fresh")
    q_agg = "SELECT COUNT(*) AS n, MAX(k) AS hi FROM jvm_fresh"
    q_scan = "SELECT COUNT(*) AS n FROM jvm_fresh WHERE q = 1"
    assert tuple(spark.sql(q_agg).collect()[0]) == (300, 299)
    assert spark.sql(q_scan).collect()[0].n == 43
    write_native_fragment(
        uri,
        {"k": [1000, 1001], "v": [0.0, 1.0], "q": [1, 1],
         "tag": ["x", "y"], "w": [None, 5]},
        ts=20, version=19,
    )
    assert tuple(spark.sql(q_agg).collect()[0]) == (302, 1001)
    assert spark.sql(q_scan).collect()[0].n == 45


def test_bridge_error_carries_stderr(spark, tmp_path):
    """A bridge command that fails reports the bridge's own error text,
    not a bare 'bridge failed'."""
    from tiledb_mariadb_spark.sources.jvm_agg import agg_reader

    uri = _mk(tmp_path, n=10)
    with pytest.raises(Exception, match="must not be provided"):
        agg_reader(
            spark, uri, encryption_key="0123456789abcdef0123456789abcdef"
        ).load()


def test_write_task_failure_leaves_nothing(spark, tmp_path):
    """A write job whose last task fails after the others staged their
    fragments commits nothing: 0 rows are visible, and the next write
    job through the same bridges lands exactly."""
    from tiledb_mariadb_spark.sources.jvm_agg import (
        agg_reader,
        register_tiledb_agg,
    )

    register_tiledb_agg(spark)
    uri = str(tmp_path / "wfail")
    create_native_array(
        uri,
        [NativeDim("k", 1, 1, (0, 10**6), None)],
        [NativeAttr("v", 3, 1, False, None)],
    )
    df = spark.range(0, 4000, numPartitions=4).selectExpr(
        "id AS k",
        "CASE WHEN id = 3999 THEN raise_error('planted write failure') "
        "ELSE CAST(id AS DOUBLE) END AS v",
    )
    with pytest.raises(Exception, match="planted write failure"):
        df.write.format("tiledb_agg").option("path", uri).mode(
            "append"
        ).save()
    assert agg_reader(spark, uri).load().count() == 0
    spark.range(0, 4000, numPartitions=4).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS v"
    ).write.format("tiledb_agg").option("path", uri).mode("append").save()
    got = agg_reader(spark, uri).load().selectExpr(
        "COUNT(*) AS n", "SUM(k) AS s"
    ).collect()[0]
    assert (got.n, got.s) == (4000, sum(range(4000)))


def test_concurrent_first_build_compiles_once(tmp_path, monkeypatch):
    """Two threads asking for the jar in an empty build directory run
    ``javac`` once between them (the second waits on the build lock and
    re-checks), and both get the same loadable jar."""
    import threading
    import zipfile

    from tiledb_mariadb_spark.sources import jvm_agg

    calls = []
    real_run = jvm_agg.subprocess.run

    def counting_run(argv, *a, **kw):
        calls.append(argv[0])
        return real_run(argv, *a, **kw)

    monkeypatch.setattr(jvm_agg.subprocess, "run", counting_run)
    build = str(tmp_path / "jvm")
    start = threading.Barrier(2)
    jars, errors = [], []

    def build_jar():
        start.wait()
        try:
            jars.append(jvm_agg.ensure_agg_jar(build))
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(e)

    threads = [threading.Thread(target=build_jar) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert calls.count("javac") == 1 and calls.count("jar") == 1
    assert jars == [os.path.join(build, "tiledb_agg.jar")] * 2
    with zipfile.ZipFile(jars[0]) as z:
        assert z.testzip() is None
        names = set(z.namelist())
    assert "TileDBAggDataSource.class" in names
    assert (
        "META-INF/services/org.apache.spark.sql.sources.DataSourceRegister"
        in names
    )


# ---- local scans: small reads in the driver, with no Spark job --------------


def _small_model(n=2000):
    import numpy as np

    k = np.arange(n, dtype=np.int64) * 2  # gapped: odd keys are absent
    return k, k * 7 % 1001, k % 5


@pytest.fixture()
def small_view(spark, tmp_path):
    """A 2000-cell view ``(name, uri)`` over k = 0, 2, .., v = 7k % 1001,
    q = k % 5, registered through ``sql_table_from_array``."""
    from tiledb_mariadb_spark.sources.spark_datasource import (
        sql_table_from_array,
    )

    k, v, q = _small_model()
    uri = str(tmp_path / "small")
    create_native_array(
        uri,
        [NativeDim("k", 1, 1, (0, 10**6), None)],
        [NativeAttr("v", 1, 1, False, None),
         NativeAttr("q", 1, 1, False, None)],
    )
    write_native_fragment(uri, {"k": k, "v": v, "q": q}, ts=10, version=19)
    name = "small_" + os.path.basename(str(tmp_path))[-8:].replace("-", "_")
    sql_table_from_array(spark, name, uri)
    return name, uri


def test_small_reads_run_no_job(spark, small_view):
    """Point, range, needle, COUNT(*) and windowed aggregate reads of a
    small array plan as local scans: each runs 0 Spark jobs and answers
    exactly as the numpy model."""
    name, _uri = small_view
    k, v, q = _small_model()

    def rows(sql):
        return sorted(tuple(r) for r in spark.sql(sql).collect())

    lo, hi = 300, 1298
    win = (k >= lo) & (k <= hi)
    cases = [
        (f"SELECT k, v, q FROM {name} WHERE k = 640",
         [(640, 640 * 7 % 1001, 0)]),
        (f"SELECT k, v, q FROM {name} WHERE k = 641", []),
        (f"SELECT v, k FROM {name} WHERE k BETWEEN {lo} AND {hi}",
         sorted(zip(v[win].tolist(), k[win].tolist()))),
        (f"SELECT k FROM {name} WHERE v = 14",
         sorted((int(x),) for x in k[v == 14])),
        (f"SELECT COUNT(*) FROM {name}", [(len(k),)]),
        (f"SELECT COUNT(*) AS n, SUM(q) AS sq, MIN(v) AS mn, MAX(v) AS mx "
         f"FROM {name} WHERE k BETWEEN {lo} AND {hi}",
         [(int(win.sum()), int(q[win].sum()), int(v[win].min()),
           int(v[win].max()))]),
    ]
    for sql, want in cases:
        got, jobs, _tasks = _jobs(spark, lambda sql=sql: rows(sql))
        assert got == want, sql
        assert jobs == 0, sql


def test_multi_split_scan_stays_batch(spark, tmp_path):
    """A scan planned as more than one split still runs as a BatchScan
    with one task per split."""
    from tiledb_mariadb_spark.sources.jvm_agg import agg_reader

    uri = _mk_wide(tmp_path, _WIDE)
    agg_reader(spark, uri).load().createOrReplaceTempView("jvm_wide")
    df = spark.sql("SELECT k FROM jvm_wide WHERE k >= 0 AND q = 3")
    assert "Local" not in _scans(df)
    assert "BatchScan" in df._jdf.queryExecution().executedPlan().toString()
    got, jobs, tasks = _jobs(spark, df.collect)
    assert sorted(r.k for r in got) == list(range(3, _WIDE, 7))
    assert jobs >= 1 and tasks >= 2, (jobs, tasks)


def test_local_scan_limit_and_residual_exact(spark, small_view):
    """LIMIT, ORDER BY .. LIMIT and a residual filter Spark evaluates
    above a local scan answer exactly as the numpy model."""
    name, _uri = small_view
    k, v, _q = _small_model()
    resid = f"SELECT k, v FROM {name} WHERE k BETWEEN 100 AND 3000 AND v % 7 = 3"
    assert "Local" in _scans(spark.sql(resid))
    m = (k >= 100) & (k <= 3000) & (v % 7 == 3)
    assert sorted(tuple(r) for r in spark.sql(resid).collect()) == sorted(
        zip(k[m].tolist(), v[m].tolist())
    )
    got = spark.sql(f"SELECT k FROM {name} WHERE k >= 1000 LIMIT 5").collect()
    assert len(got) == 5 and len({r.k for r in got}) == 5
    assert all(r.k >= 1000 and r.k % 2 == 0 for r in got)
    got = spark.sql(
        f"SELECT k, v FROM {name} WHERE k < 3000 AND v % 7 = 3 "
        "ORDER BY v DESC, k LIMIT 4"
    ).collect()
    m = (k < 3000) & (v % 7 == 3)
    want = sorted(zip(k[m].tolist(), v[m].tolist()),
                  key=lambda r: (-r[1], r[0]))[:4]
    assert [tuple(r) for r in got] == want


def test_residual_filter_over_local_scan_runs_no_job(spark, small_view):
    """A deterministic residual filter, alone or under a projection,
    over a local scan is evaluated in the driver: 0 jobs, and the rows
    equal the numpy model.  A nondeterministic filter is left to Spark,
    which plans and runs it as usual."""
    name, _uri = small_view
    k, v, q = _small_model()
    m = (k < 100) & (v % 7 == 3)
    for sql, want in (
        (f"SELECT * FROM {name} WHERE k < 100 AND v % 7 = 3",
         zip(k[m].tolist(), v[m].tolist(), q[m].tolist())),
        (f"SELECT k, v + 1 AS w FROM {name} WHERE k < 100 AND v % 7 = 3",
         zip(k[m].tolist(), (v[m] + 1).tolist())),
    ):
        got, jobs, _tasks = _jobs(spark, spark.sql(sql).collect)
        assert sorted(tuple(r) for r in got) == sorted(want)
        assert jobs == 0, (sql, jobs)
    got, jobs, _tasks = _jobs(spark, spark.sql(
        f"SELECT k FROM {name} WHERE k < 100 AND rand(7) < 0.5"
    ).collect)
    assert {r.k for r in got} <= set(k[k < 100].tolist())
    assert jobs >= 1


def test_local_side_still_broadcasts(spark, small_view):
    """A local scan reports the bridge's statistics, so a small local
    side of a join is still broadcast without a hint."""
    name, _uri = small_view
    big = spark.range(0, 20_000).selectExpr("id AS k", "id % 3 AS g")
    small = spark.sql(f"SELECT k, v FROM {name} WHERE k < 500")
    assert "Local" in _scans(small)
    joined = big.join(small, "k")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert joined.count() == 250


def test_session_without_strategy_answers(spark, tmp_path):
    """A session whose planner lacks the local projection strategy still
    answers a pushed aggregate and a local row scan exactly; the
    aggregate's projection then runs as one job."""
    import sys

    from tiledb_mariadb_spark.sources import jvm_agg

    jvm_agg.register_tiledb_agg(spark)  # the jar and this thread's loader
    other = spark.newSession()
    assert other._jsparkSession.experimental().extraStrategies().size() == 0
    uri = _mk(tmp_path, n=300)
    (
        other.read.format("tiledb_agg").option("path", uri)
        .option("python", sys.executable).option("pythonpath", jvm_agg._REPO)
        .load().createOrReplaceTempView("jvm_nostrat")
    )
    agg = other.sql(
        "SELECT COUNT(*) AS n, SUM(q) AS s FROM jvm_nostrat "
        "WHERE k BETWEEN 10 AND 109"
    )
    assert "MetadataAggScan" in _scans(agg)
    row, jobs, _tasks = _jobs(other, lambda: agg.collect()[0])
    assert (row.n, row.s) == _window_expect(300, 10, 109)
    assert jobs == 1
    got = other.sql("SELECT k, q FROM jvm_nostrat WHERE k BETWEEN 5 AND 9")
    assert sorted(tuple(r) for r in got.collect()) == [
        (i, i % 7) for i in range(5, 10)
    ]


@pytest.mark.parametrize("n", [500, _WIDE], ids=["local", "batch"])
def test_one_snapshot_per_query(spark, tmp_path, n):
    """A query reads the snapshot its plan was made at: a newer append
    committed between planning and collect() stays invisible to it,
    whether it reads locally or in batch tasks, and the next query sees
    the append."""
    from tiledb_mariadb_spark.sources.jvm_agg import agg_reader

    uri = _mk_wide(tmp_path, n)
    view = f"jvm_snap_{n}"
    agg_reader(spark, uri).load().createOrReplaceTempView(view)
    sql = f"SELECT k, v FROM {view} WHERE k >= 0 AND q = 3"
    before = [(i, 3 * i) for i in range(3, n, 7)]
    df = spark.sql(sql)
    df._jdf.queryExecution().optimizedPlan()  # the splits request
    assert ("Local" in _scans(df)) == (n < _WIDE)
    write_native_fragment(  # ts: newer than every commit
        uri, {"k": [3, n + 4], "v": [-1, -2], "q": [3, 3]}, version=19
    )
    assert sorted(tuple(r) for r in df.collect()) == before
    after = sorted([(3, -1)] + before[1:] + [(n + 4, -2)])
    assert sorted(tuple(r) for r in spark.sql(sql).collect()) == after
