"""SQL table views over native arrays (``sql_table_from_array``, a temp
view over the JVM ``tiledb_agg`` format) keep every read option: for
each of ``at``, ``since``, ``target_splits``, ``bbox``, ``spatial_*``
and ``encryption_key`` the view returns the rows ``read_array`` returns
with the same option (``bbox``/``spatial_*`` as its ``dim_ranges``),
aggregates included, and an unknown option raises.  One frame serves
any sequence of queries: a filter pushed for one query never narrows
the next."""

import uuid

import numpy as np
import pytest

from tiledb_mariadb_spark.sources import tiledb_native_crypto as crypto
from tiledb_mariadb_spark.sources.jvm_agg import agg_reader, scan_descriptions
from tiledb_mariadb_spark.sources.spark_datasource import sql_table_from_array
from tiledb_mariadb_spark.sources.tiledb_array import (
    NativeDecoderBackend,
    read_array,
    spatial_dim_ranges,
)
from tiledb_mariadb_spark.sources.tiledb_native import NativeAttr, NativeDim
from tiledb_mariadb_spark.sources.tiledb_native_write import (
    create_native_array,
    write_native_fragment,
)

KEY = "0123456789abcdef0123456789abcdef"
_SPATIAL = ("bbox", "spatial_wkb", "spatial_dims", "spatial_pad")


def _reference(spark, uri, opts) -> str:
    """A temp view over ``read_array`` with ``opts``: the box/spatial
    options become its ``dim_ranges``, the rest are its own keywords."""
    kw = {k: v for k, v in opts.items() if k not in _SPATIAL}
    spatial = {k: v for k, v in opts.items() if k in _SPATIAL}
    if spatial:
        info = NativeDecoderBackend(
            encryption_key=opts.get("encryption_key")
        ).info(uri)
        kw["dim_ranges"] = spatial_dim_ranges(
            [d.name for d in info.dims], **spatial
        )
    kw.setdefault("target_splits", 16)
    name = "ref_" + uuid.uuid4().hex[:8]
    read_array(spark, uri, **kw).createOrReplaceTempView(name)
    return name


def _view_and_reference(spark, uri, **opts):
    """The registered SQL view's name and its ``read_array`` twin's,
    both read with ``opts``."""
    name = "vw_" + uuid.uuid4().hex[:8]
    sql_table_from_array(spark, name, uri, **opts)
    return name, _reference(spark, uri, opts)


def _rows(spark, sql):
    return sorted(tuple(r) for r in spark.sql(sql).collect())


def _plan(spark, sql):
    return " ".join(scan_descriptions(spark.sql(sql)))


@pytest.fixture()
def versions(tmp_path):
    """Three writes: ts=200 overwrites keys 50..149 of ts=100, and
    ts=300 adds keys 300..399, disjoint from ts=200."""
    uri = str(tmp_path / "ver")
    create_native_array(
        uri,
        [NativeDim("k", 1, 1, (0, 10**6), 64)],
        [NativeAttr("v", 1, 1, False, None),
         NativeAttr("q", 0, 1, False, None)],
    )
    write_native_fragment(
        uri, {"k": list(range(150)), "v": list(range(150)),
              "q": [i % 7 for i in range(150)]}, ts=100, version=19)
    write_native_fragment(
        uri, {"k": list(range(50, 150)), "v": [1000 + i for i in range(100)],
              "q": [1] * 100}, ts=200, version=19)
    write_native_fragment(
        uri, {"k": list(range(300, 400)), "v": [7 * i for i in range(100)],
              "q": [2] * 100}, ts=300, version=19)
    return uri


def _model(since=None, at=None):
    rows = {}
    for ts, keys, vals in (
        (100, range(150), range(150)),
        (200, range(50, 150), [1000 + i for i in range(100)]),
        (300, range(300, 400), [7 * i for i in range(100)]),
    ):
        if (since is None or ts >= since) and (at is None or ts <= at):
            rows.update(zip(keys, vals))
    return rows


def test_at_matches_native(spark, versions):
    view, ref = _view_and_reference(spark, versions, at=200)
    q = "SELECT k, v, q FROM {} WHERE k BETWEEN 40 AND 320"
    assert _rows(spark, q.format(view)) == _rows(spark, q.format(ref))
    want = _model(at=200)
    agg = "SELECT COUNT(*), SUM(v) FROM {}"
    assert _rows(spark, agg.format(view)) == [
        (len(want), sum(want.values()))
    ] == _rows(spark, agg.format(ref))


def test_since_rows_and_metadata_aggregates(spark, versions):
    """``since`` reaches the bridge: the split plan, the rows and the
    metadata aggregate all see only the ts>=200 window."""
    view, ref = _view_and_reference(spark, versions, since=200)
    q = "SELECT k, v, q FROM {}"
    got = _rows(spark, q.format(view))
    assert got == _rows(spark, q.format(ref))
    assert {k: v for k, v, _q in got} == _model(since=200)
    want = _model(since=200)
    for sql, expect in (
        ("SELECT COUNT(*), SUM(v) FROM {}",
         [(len(want), sum(want.values()))]),
        ("SELECT COUNT(*), SUM(v) FROM {} WHERE k BETWEEN 100 AND 349",
         [(100, sum(v for k, v in want.items() if 100 <= k <= 349))]),
    ):
        assert _rows(spark, sql.format(view)) == expect
        assert _rows(spark, sql.format(ref)) == expect
        # answered from the window's fragment metadata, not declined
        assert "TileDBMetadataAggScan" in _plan(spark, sql.format(view))


def test_since_top_k_honours_window(spark, versions):
    """The pushed top-k bound comes from the window's stats: one from
    the whole array (v up to 1099 at ts=200) would prune every window
    row."""
    view, ref = _view_and_reference(spark, versions, since=300)
    q = "SELECT k, v FROM {} ORDER BY v DESC LIMIT 3"
    assert _rows(spark, q.format(view)) == _rows(spark, q.format(ref)) == [
        (397, 679), (398, 686), (399, 693)
    ]


def test_target_splits_reaches_split_plan(spark, versions):
    """A full scan plans as many tasks as ``target_splits`` allows
    (default 16), the same count as ``read_array`` plans."""
    for n in (None, 1, 5):
        opts = {} if n is None else {"target_splits": n}
        view, ref = _view_and_reference(spark, versions, **opts)
        q = "SELECT k, v FROM {} WHERE v > 1000"
        assert _rows(spark, q.format(view)) == _rows(spark, q.format(ref))
        parts = spark.table(view).rdd.getNumPartitions()
        assert parts == spark.table(ref).rdd.getNumPartitions()
        assert parts == (16 if n is None else n)


def test_bbox_matches_native(spark, versions):
    view, ref = _view_and_reference(spark, versions, bbox="k:45.5:60")
    q = "SELECT k, v, q FROM {}"
    got = _rows(spark, q.format(view))
    assert got == _rows(spark, q.format(ref))
    assert [r[0] for r in got] == list(range(46, 61))
    # an aggregate over the box is not answered from whole-array stats
    agg = "SELECT COUNT(*), MAX(k) FROM {}"
    assert _rows(spark, agg.format(view)) == [(15, 60)]
    assert _rows(spark, agg.format(ref)) == [(15, 60)]


def test_spatial_wkb_matches_native(spark, tmp_path):
    from tiledb_mariadb_spark.operators.spatial import make_wkb_polygon

    uri = str(tmp_path / "sp")
    create_native_array(
        uri,
        [NativeDim("x", 3, 1, (0.0, 1000.0), None),
         NativeDim("y", 3, 1, (0.0, 1000.0), None)],
        [NativeAttr("v", 1, 1, False, None)],
        allows_dups=True,
    )
    xs = [i / 10.0 for i in range(5000)]
    write_native_fragment(
        uri, {"x": xs, "y": xs[::-1], "v": list(range(len(xs)))}, ts=10
    )
    wkb = make_wkb_polygon([(100.0, 300.0), (200.0, 300.0),
                            (200.0, 400.0), (100.0, 400.0)])
    view, ref = _view_and_reference(
        spark, uri, spatial_wkb=wkb.hex(), spatial_dims="x,y",
        spatial_pad=5.0,
    )
    q = "SELECT x, y, v FROM {}"
    got = _rows(spark, q.format(view))
    assert got == _rows(spark, q.format(ref))
    assert got and all(
        95.0 <= x <= 205.0 and 295.0 <= y <= 405.0 for x, y, _v in got
    )
    # without spatial_pad the view does not plan the scan
    bad = "vw_" + uuid.uuid4().hex[:8]
    sql_table_from_array(spark, bad, uri, spatial_wkb=wkb.hex(),
                         spatial_dims="x,y")
    with pytest.raises(Exception, match="spatial_pad"):
        spark.sql(f"SELECT * FROM {bad}").collect()


def test_encryption_key_matches_native(spark, tmp_path):
    uri = str(tmp_path / "enc")
    create_native_array(
        uri, [NativeDim("k", 1, 1, (0, 10**6), 100)],
        [NativeAttr("v", 1, 1, False, None)], compressor="zstd",
        encryption_key=KEY,
    )
    write_native_fragment(
        uri, {"k": list(range(300)), "v": [i * 11 for i in range(300)]},
        ts=10, version=19,
    )
    crypto._KEYS.clear()
    view, ref = _view_and_reference(spark, uri, encryption_key=KEY)
    q = "SELECT k, v FROM {} WHERE v >= 3000"
    got = _rows(spark, q.format(view))
    assert got == _rows(spark, q.format(ref))
    assert got == [(k, k * 11) for k in range(273, 300)]
    assert _rows(spark, f"SELECT COUNT(*) FROM {view}") == [(300,)]


def test_unknown_option_raises(spark, versions):
    with pytest.raises(ValueError, match="targetsplits"):
        sql_table_from_array(spark, "vw_bad", versions, targetsplits=4)


def test_views_register_from_other_threads(spark, versions):
    """A thread other than the one that ran ADD JAR registers and reads
    views (the benchmark sets up its views in parallel threads)."""
    import threading

    sql_table_from_array(spark, "vw_" + uuid.uuid4().hex[:8], versions)
    got, errors = {}, []

    def register(i):
        try:
            name = "vw_" + uuid.uuid4().hex[:8]
            sql_table_from_array(spark, name, versions)
            got[i] = _rows(spark, f"SELECT COUNT(*) FROM {name} WHERE v > 5")
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(e)

    threads = [threading.Thread(target=register, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    want = sum(1 for v in _model().values() if v > 5)
    assert got == {0: [(want,)], 1: [(want,)]}


def test_column_names_that_need_quoting(spark, tmp_path):
    uri = str(tmp_path / "quoted")
    create_native_array(
        uri, [NativeDim("k", 1, 1, (0, 100), None)],
        [NativeAttr("unit price", 1, 1, False, None)],
    )
    write_native_fragment(uri, {"k": [1, 2, 3], "unit price": [5, 6, 7]},
                          ts=10, version=19)
    view, ref = _view_and_reference(spark, uri)
    q = "SELECT k, `unit price` FROM {} WHERE `unit price` > 5"
    assert _rows(spark, q.format(view)) == _rows(spark, q.format(ref)) == [
        (2, 6), (3, 7)
    ]


@pytest.fixture()
def keys150(tmp_path):
    uri = str(tmp_path / "k150")
    create_native_array(
        uri, [NativeDim("k", 1, 1, (0, 10**6), 32)],
        [NativeAttr("v", 1, 1, False, None)],
    )
    k = np.arange(150, dtype=np.int64)
    write_native_fragment(uri, {"k": k, "v": k * 3}, ts=10, version=19)
    return uri


def test_reused_frame_does_not_replay_filters(spark, keys150):
    """One frame and one view serve a filtered query, then an
    unfiltered one, then another filter: each sees only its own WHERE
    (a reader that kept the previous query's pushed ranges counted 21
    rows for the whole array)."""
    name = "one_" + uuid.uuid4().hex[:8]
    agg_reader(spark, keys150).load().createOrReplaceTempView(name)
    k = np.arange(150)
    v = k * 3
    for where, n, keep in (
        ("k BETWEEN 40 AND 60", 21, (k >= 40) & (k <= 60)),
        (None, 150, np.ones(150, bool)),
        ("k >= 100", 50, k >= 100),
        (None, 150, np.ones(150, bool)),
    ):
        cond = "" if where is None else f" WHERE {where}"
        assert n == int(keep.sum())
        assert _rows(spark, f"SELECT COUNT(*) FROM {name}{cond}") == [(n,)]
        assert _rows(spark, f"SELECT k, v FROM {name}{cond}") == [
            (int(a), int(b)) for a, b in zip(k[keep], v[keep])
        ]
