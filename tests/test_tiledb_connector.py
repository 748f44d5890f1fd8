"""TileDB-array connector: split planning, driver-side range pruning,
projection pushdown, time travel, and fragment-parallel writes — all run
against the parquet filesystem-fragment backend, which inherits the
ArrayBackend "not provable" planning defaults (no split weights, window
or condition boxes)."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from tiledb_mariadb_spark.sources.tiledb_array import (
    ArrayInfo,
    AttrInfo,
    DimInfo,
    FragmentDirBackend,
    plan_splits,
    read_array,
    write_array,
)

from .native_model import range_rows

INFO = ArrayInfo(
    dims=[DimInfo("x", "bigint", (0, 999)), DimInfo("y", "bigint", (0, 9))],
    attrs=[AttrInfo("v", "double"), AttrInfo("s", "string")],
)


def test_plan_splits_covers_domain():
    splits = plan_splits(INFO, target_splits=8)
    assert len(splits) == 8
    assert splits[0][0] == (0, 124) and splits[-1][0] == (875, 999)
    # the non-split axis rides along whole
    assert all(s[1] == (0, 9) for s in splits)


def test_plan_splits_prunes_with_predicate():
    splits = plan_splits(INFO, dim_ranges={"x": (100, 149)}, target_splits=8)
    # the narrowed span is split, not the full domain: every split ⊆ predicate
    assert all(lo >= 100 and hi <= 149 for (lo, hi), _ in splits)
    total = sum(hi - lo + 1 for (lo, hi), _ in splits)
    assert total == 50


def test_plan_splits_empty_when_disjoint():
    assert plan_splits(INFO, dim_ranges={"x": (5000, 6000)}) == []


def test_plan_splits_string_dim_single_split():
    info = ArrayInfo(
        dims=[DimInfo("k", "string", ("a", "z"))], attrs=[AttrInfo("v", "double")]
    )
    assert plan_splits(info, target_splits=8) == [[("a", "z")]]


def _make_array(tmp_path):
    import pandas as pd

    uri = str(tmp_path / "arr")
    be = FragmentDirBackend()
    be.create(uri, INFO)
    rows = pd.DataFrame(
        {
            "x": [i for i in range(1000) for _ in range(2)],
            "y": [j for _ in range(1000) for j in (0, 1)],
            "v": [float(i) for i in range(2000)],
            "s": [f"s{i}" for i in range(2000)],
        }
    )
    be.write(uri, rows, ts=100)
    return uri, be, rows


def test_full_scan_roundtrip(spark, tmp_path):
    uri, be, rows = _make_array(tmp_path)
    df = read_array(spark, uri, backend=be, target_splits=8)
    assert df.count() == 2000
    assert df.columns == ["x", "y", "v", "s"]
    got = df.filter((F.col("x") == 500) & (F.col("y") == 1)).collect()
    assert len(got) == 1 and got[0]["s"] == "s1001"


def test_range_pushdown_filters_and_projects(spark, tmp_path):
    uri, be, _ = _make_array(tmp_path)
    df = read_array(
        spark,
        uri,
        backend=be,
        columns=["v"],
        dim_ranges={"x": (10, 19), "y": (0, 0)},
        target_splits=8,
    )
    # dims always ride along (they are the coordinates); attrs are pruned
    assert df.columns == ["x", "y", "v"]
    out = df.collect()
    assert len(out) == 10
    assert all(10 <= r["x"] <= 19 and r["y"] == 0 for r in out)


def test_time_travel_hides_newer_fragments(spark, tmp_path):
    import pandas as pd

    uri, be, _ = _make_array(tmp_path)
    be.write(
        uri,
        pd.DataFrame({"x": [999], "y": [5], "v": [1.0], "s": ["late"]}),
        ts=200,
    )
    info_now = read_array(spark, uri, backend=be).count()
    info_then = read_array(spark, uri, backend=be, at=100).count()
    assert info_now == 2001 and info_then == 2000


def test_string_dim_split_planning(spark, tmp_path):
    """Round 7: string-keyed arrays are cut at the fragments' var-NED
    boundary keys instead of collapsing to one task.  Splits are
    disjoint-and-covering under the k+"\\0" successor rule (no
    double-counted boundary keys — the numpy U-dtype NUL-stripping trap
    is regression-pinned on both read paths), and the split count
    tracks the fragment count."""
    from tiledb_mariadb_spark.sources.tiledb_array import (
        ArrayInfo,
        AttrInfo,
        DimInfo,
        NativeDecoderBackend,
        plan_splits,
        read_array,
    )
    from tiledb_mariadb_spark.sources.tiledb_native import (
        string_dim_split_keys,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        write_native_fragment,
    )

    uri = str(tmp_path / "sds")
    be = NativeDecoderBackend()
    be.create(uri, ArrayInfo(
        dims=[DimInfo("doc_id", "string", None)],
        attrs=[AttrInfo("v", "bigint", False)],
    ))
    keys = [f"doc-{i:05d}" for i in range(300)]
    for f in range(3):
        ks = keys[f * 100:(f + 1) * 100]
        write_native_fragment(
            uri, {"doc_id": ks, "v": list(range(len(ks)))},
            ts=100 + f, version=19,
        )
    sk = string_dim_split_keys(uri)
    assert sk and sk[0] == "doc-00000" and sk[-1] == "doc-00299"
    splits = plan_splits(be.info(uri), None, 8, string_keys=sk)
    assert len(splits) > 1
    # disjoint + covering: split reads sum to exactly the table
    rows = [r.doc_id for r in read_array(
        spark, uri, target_splits=8
    ).collect()]
    assert len(rows) == 300 and len(set(rows)) == 300
    # NUL-successor lower bound is EXCLUSIVE of the boundary key on
    # both read paths (numpy would otherwise strip the trailing NUL)
    rg = [("doc-00000\x00", "doc-00099")]
    _n, rr = range_rows(uri, ranges=rg)
    assert [r[0] for r in rr] == keys[1:100]


def test_since_window_on_non_native_backend(spark, tmp_path):
    """read_array(since=) is part of the ArrayBackend interface, not a
    NativeDecoderBackend extra — on the parquet-fragment fake it selects
    only the window's fragments instead of raising TypeError inside
    executor tasks (round-7 advisor finding)."""
    import pandas as pd

    uri, be, _ = _make_array(tmp_path)  # base fragment at ts=100
    be.write(
        uri,
        pd.DataFrame({"x": [999], "y": [5], "v": [1.0], "s": ["late"]}),
        ts=200,
    )
    win = read_array(spark, uri, backend=be, since=150).collect()
    assert [(r.x, r.y, r.s) for r in win] == [(999, 5, "late")]
    assert read_array(spark, uri, backend=be, since=150, at=180).count() == 0
    assert read_array(spark, uri, backend=be, since=50).count() == 2001


def test_write_array_fragment_per_partition(spark, tmp_path):
    uri = str(tmp_path / "sink")
    be = FragmentDirBackend()
    be.create(uri, INFO)
    df = spark.range(100).select(
        F.col("id").alias("x"),
        (F.col("id") % 10).alias("y"),
        F.col("id").cast("double").alias("v"),
        F.concat(F.lit("r"), F.col("id")).alias("s"),
    )
    write_array(df.repartition(4), uri, backend=be)
    # independent fragment per non-empty partition, no coordination
    assert len(glob.glob(f"{uri}/frag_*.parquet")) >= 2
    back = read_array(spark, uri, backend=be, target_splits=4)
    assert back.count() == 100
    assert back.filter(F.col("x") == 42).collect()[0]["s"] == "r42"


# --- R-tree-weighted split planning -----------------------------------------


def test_weighted_splits_balance_skewed_coordinates(tmp_path):
    """Uniform-span splits put a clustered table's cells in one straggler
    task; R-tree tile weights cut at cell-count quantiles instead.
    Coverage is exact either way (cuts only move, never drop range)."""
    from tiledb_mariadb_spark.sources.tiledb_array import (
        NativeDecoderBackend,
        plan_splits,
    )
    from tiledb_mariadb_spark.sources.tiledb_native import (
        NativeAttr,
        NativeDim,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        create_native_array,
        write_native_fragment,
    )

    d = str(tmp_path / "skew")
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (0, 10**6), None)],
        attrs=[NativeAttr("v", 0, 1, False, None)],
        capacity=50,
    )
    # 900 cells clustered in [0,899], 100 spread over [10^4, 10^6]
    ks = list(range(900)) + [10_000 * i for i in range(1, 101)]
    write_native_fragment(d, {"k": sorted(ks), "v": [0] * len(ks)}, ts=10)
    be = NativeDecoderBackend()
    info = be.info(d)
    w = be.split_weights(d)
    assert w and len(w) == 20  # 1000 cells / cap 50

    def cells_per_split(splits):
        return [
            sum(1 for k in ks if lohi[0][0] <= k <= lohi[0][1])
            for lohi in splits
        ]

    uniform = plan_splits(info, target_splits=8)
    weighted = plan_splits(info, target_splits=8, weights=w)

    def assert_partition(splits):
        spans = sorted(s[0] for s in splits)
        assert spans[0][0] == info.dims[0].domain[0]
        assert spans[-1][1] == info.dims[0].domain[1]
        for (_a, b), (c, _d2) in zip(spans, spans[1:]):
            assert c == b + 1  # disjoint, gap-free

    assert_partition(uniform)
    assert_partition(weighted)
    cu, cw = cells_per_split(uniform), cells_per_split(weighted)
    assert max(cu) >= 850   # uniform: ~all clustered cells in one task
    assert max(cw) <= 400   # weighted: no task dominates
    assert sum(cu) == sum(cw) == len(ks)


def test_weighted_splits_respect_multirange(tmp_path):
    """Weights compose with the multi-range IN pushdown: per-piece splits
    still partition each merged range exactly."""
    from tiledb_mariadb_spark.sources.tiledb_array import (
        NativeDecoderBackend,
        plan_splits,
    )
    from tiledb_mariadb_spark.sources.tiledb_native import (
        NativeAttr,
        NativeDim,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        create_native_array,
        write_native_fragment,
    )

    d = str(tmp_path / "mr")
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (0, 10**6), None)],
        attrs=[NativeAttr("v", 0, 1, False, None)],
        capacity=10,
    )
    ks = list(range(100)) + list(range(5000, 5100))
    write_native_fragment(d, {"k": ks, "v": [0] * len(ks)}, ts=10)
    be = NativeDecoderBackend()
    info = be.info(d)
    w = be.split_weights(d)
    pieces = [(0, 99), (5000, 5099)]
    splits = plan_splits(
        info, dim_ranges={"k": pieces}, target_splits=6, weights=w
    )
    by_piece = {p: [] for p in pieces}
    for s in splits:
        lo, hi = s[0]
        owner = next(p for p in pieces if p[0] <= lo and hi <= p[1])
        by_piece[owner].append((lo, hi))
    for p, spans in by_piece.items():
        spans.sort()
        assert spans[0][0] == p[0] and spans[-1][1] == p[1]
        for (_a, b), (c, _d2) in zip(spans, spans[1:]):
            assert c == b + 1
