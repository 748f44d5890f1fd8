"""Modern (v19) fragment writer: positional field files + the full v11+
metadata section table, read back by every decoder tier — full/range
reads, footer COUNT, R-tree pruning, per-tile and fragment-level
attribute stats, refutation pruning, time travel.  This closes the gap
the fixtures couldn't cover: multi-TILE and multi-FRAGMENT stats on
engine-written data."""

import os

from hypothesis import given, settings, strategies as st

from tiledb_mariadb_spark.sources.tiledb_native import (
    NativeAttr,
    NativeDim,
    attr_stats_native_array,
    count_native_array,
    fragment_attr_stats,
    fragment_tile_stats,
    parse_array_schema,
    parse_rtree_leaf_mbrs,
    read_native_array,
    _fragment_dirs,
    _schema_path,
)
from tiledb_mariadb_spark.sources.tiledb_native_write import (
    create_native_array,
    write_native_fragment,
)

from .native_model import range_rows


def _mk(tmp_path, capacity=10, nullable_v=False):
    d = str(tmp_path / "v19arr")
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (0, 100000), None)],
        attrs=[
            NativeAttr("v", 0, 1, nullable_v, None),
            NativeAttr("f", 3, 1, False, None),
            NativeAttr("s", 12, 0xFFFFFFFF, False, None),
        ],
        capacity=capacity,
    )
    return d


def test_v19_roundtrip_all_readers(tmp_path):
    d = _mk(tmp_path)
    ks = list(range(95))
    vs = [(k * 7) % 50 - 20 for k in ks]
    fs = [k * 0.25 for k in ks]
    ss = [f"doc{k}" for k in ks]
    frag = write_native_fragment(
        d, {"k": ks, "v": vs, "f": fs, "s": ss}, ts=1000, version=19
    )
    assert os.path.basename(frag).endswith("_19")
    assert sorted(os.listdir(frag)) == [
        "__fragment_metadata.tdb", "a0.tdb", "a1.tdb", "a2.tdb",
        "a2_var.tdb", "d0.tdb",
    ]
    _s, rows = read_native_array(d)
    assert [(r[0], r[1], r[3]) for r in rows] == list(zip(ks, vs, ss))
    assert count_native_array(d) == 95
    st_ = attr_stats_native_array(d)
    assert st_["v"] == {"min": min(vs), "max": max(vs), "sum": sum(vs)}
    assert st_["f"]["sum"] == sum(fs)  # sequential f64, bit-exact
    assert st_["k"]["sum"] == sum(ks)
    # var strings carry fragment-level extrema since round 7
    # (string MIN/MAX pushdown parity, ha_mytile.cc:480-487)
    assert st_["s"] == {"min": min(ss), "max": max(ss)}
    schema = parse_array_schema(_schema_path(d))
    tiles = fragment_tile_stats(frag, schema, "v")
    assert len(tiles) == 10  # capacity-packed: 95 cells / cap 10
    assert tiles[0][0] == min(vs[:10]) and tiles[0][1] == max(vs[:10])
    assert len(parse_rtree_leaf_mbrs(frag, schema)) == 10
    _n, rr = range_rows(d, [(20, 29)])
    assert [r[0] for r in rr] == list(range(20, 30))


def test_v19_multi_fragment_stats_and_time_travel(tmp_path):
    """Disjoint v19 fragments combine stats; `at=` sees only the first —
    the multi-fragment merge rules finally exercised on REAL stats."""
    d = _mk(tmp_path)
    write_native_fragment(
        d, {"k": [1, 2], "v": [5, -3], "f": [1.5, 2.5], "s": ["a", "b"]},
        ts=1000, version=19,
    )
    write_native_fragment(
        d, {"k": [10, 11], "v": [40, 7], "f": [0.5, 9.0], "s": ["c", "d"]},
        ts=2000, version=19,
    )
    st_ = attr_stats_native_array(d)
    assert st_["v"] == {"min": -3, "max": 40, "sum": 49}
    first = attr_stats_native_array(d, at=1500)
    assert first["v"] == {"min": -3, "max": 5, "sum": 2}
    assert count_native_array(d, at=1500) == 2


def test_v19_overlapping_fragments_refuse_combination(tmp_path):
    """Same coordinates twice: newest-wins would change the aggregate,
    so the metadata path must refuse (same rule as COUNT)."""
    d = _mk(tmp_path)
    rows = {"k": [1, 2], "v": [5, 6], "f": [0.0, 0.0], "s": ["x", "y"]}
    write_native_fragment(d, rows, ts=1000, version=19)
    write_native_fragment(d, rows, ts=2000, version=19)
    assert attr_stats_native_array(d) is None


def test_v19_mixed_with_v5_stays_honest(tmp_path):
    """A v5 fragment has no stats sections: reads merge both eras fine,
    the stats path goes dark rather than guessing."""
    d = _mk(tmp_path)
    write_native_fragment(
        d, {"k": [1], "v": [5], "f": [1.0], "s": ["a"]}, ts=1000,
        version=19,
    )
    write_native_fragment(
        d, {"k": [9], "v": [6], "f": [2.0], "s": ["b"]}, ts=2000,
        version=5,
    )
    _s, rows = read_native_array(d)
    assert [(r[0], r[1]) for r in rows] == [(1, 5), (9, 6)]
    assert attr_stats_native_array(d) is None


def test_v19_nullable_nulls_suppress_minmax(tmp_path):
    d = _mk(tmp_path, nullable_v=True)
    write_native_fragment(
        d,
        {"k": [1, 2, 3], "v": [5, None, 7], "f": [0.0, 1.0, 2.0],
         "s": ["a", "b", "c"]},
        ts=1000, version=19,
    )
    _s, rows = read_native_array(d)
    assert [r[1] for r in rows] == [5, None, 7]
    st_ = attr_stats_native_array(d)
    # a NULL in the fragment: min/max/sum withheld, null_count exact
    assert st_["v"] == {"null_count": 1}
    assert st_["f"]["sum"] == 3.0


def test_v19_connector_prunes_refuted_fragment(spark, tmp_path):
    """Two v19 fragments; a pushed condition refutes ONE — the planner
    keeps only the other (its stats refute ``v >= 50`` for ts=1000), so
    no task reads the refuted fragment, and the rows are exact."""
    from tiledb_mariadb_spark.sources.tiledb_array import (
        NativeDecoderBackend,
        read_array,
        scan_ranges,
    )
    from tiledb_mariadb_spark.sources.tiledb_native import (
        explain_native_pruning,
    )

    d = _mk(tmp_path)
    write_native_fragment(
        d, {"k": [1, 2], "v": [5, 6], "f": [0.0, 0.0], "s": ["a", "b"]},
        ts=1000, version=19,
    )
    write_native_fragment(
        d, {"k": [10, 11], "v": [50, 60], "f": [0.0, 0.0],
            "s": ["c", "d"]},
        ts=2000, version=19,
    )
    cond = [("v", ">=", 50)]
    plan = explain_native_pruning(d, conditions=cond)
    kept = [r["fragment"] for r in plan if r["decision"] == "read"]
    assert len(plan) == 2 and len(kept) == 1 and "_2000_" in kept[0], plan
    be = NativeDecoderBackend()
    ranges = scan_ranges(be, d, be.info(d), {}, cond, None, None)
    assert ranges == {"k": (10, 11)}  # the kept fragment's box alone
    df = read_array(spark, d, columns=["k", "v"], conditions=cond)
    got = sorted((r["k"], r["v"]) for r in df.collect())
    assert got == [(10, 50), (11, 60)]


def test_v19_empty_fragment(tmp_path):
    d = _mk(tmp_path)
    write_native_fragment(
        d, {"k": [], "v": [], "f": [], "s": []}, ts=1000, version=19
    )
    _s, rows = read_native_array(d)
    assert rows == []
    assert count_native_array(d) == 0
    # an EMPTY fragment's sums are 0 over zero cells — mathematically
    # exact for cross-fragment combination; min/max stay absent
    st_ = attr_stats_native_array(d)
    assert st_["v"] == {"sum": 0} and "min" not in st_["f"]


def test_v19_uint64_stats_past_int64(tmp_path):
    """UINT64 cells mixing values >= 2**63 with small ones write at v19
    (their stats once inferred float64 and failed to pack), and the
    cells and their metadata MIN/MAX/SUM read back exact."""
    d = str(tmp_path / "u64")
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (0, 100), None)],
        attrs=[NativeAttr("u", 10, 1, False, None)],
    )
    write_native_fragment(d, {"k": [1, 2], "u": [2**63, 1]}, version=19)
    _s, rows = read_native_array(d)
    assert rows == [(1, 2**63), (2, 1)]
    assert attr_stats_native_array(d)["u"] == {
        "min": 1, "max": 2**63, "sum": 2**63 + 1,
    }


def test_v19_fragment_float_sum_crosses_tile_boundaries(tmp_path):
    """Fragment-level float sum must be ONE sequential pass over the
    cells, not sum(per-tile sums): with capacity 3 the tiny value lands
    in the last tile and `tiny + 64` rounds at 64's ulp before the
    cross-tile combine re-rounds — one ulp off the reader's full-scan
    recompute (hypothesis-found falsifying example, pinned)."""
    d = str(tmp_path / "arr")
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (0, 500), None)],
        attrs=[NativeAttr("f", 3, 1, False, None)],
        capacity=3,
    )
    fs = [32.0, 0.0, 0.0, 0.0, 0.0, 0.0, 2.559884942909818e-11, 64.0]
    write_native_fragment(
        d, {"k": list(range(8)), "f": fs}, ts=1000, version=19
    )
    _s, rows = read_native_array(d)
    acc = 0.0
    for r in rows:
        acc += r[1]
    assert attr_stats_native_array(d)["f"]["sum"] == acc


@settings(max_examples=25, deadline=None)
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=500),
            st.integers(min_value=-1000, max_value=1000),
            st.floats(min_value=-100, max_value=100, allow_nan=False,
                      width=32),
        ),
        min_size=1, max_size=60, unique_by=lambda t: t[0],
    ),
    capacity=st.sampled_from([3, 7, 100]),
)
def test_v19_stats_fuzz_match_recompute(tmp_path_factory, data, capacity):
    """Random data, random tile packing: the engine-written metadata
    stats must equal a full-scan recompute exactly — including the
    float64 sequential accumulation."""
    d = str(tmp_path_factory.mktemp("v19fuzz") / "arr")
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (0, 500), None)],
        attrs=[NativeAttr("v", 1, 1, False, None),
               NativeAttr("f", 3, 1, False, None)],
        capacity=capacity,
    )
    ks = [t[0] for t in data]
    vs = [t[1] for t in data]
    fs = [float(t[2]) for t in data]
    write_native_fragment(
        d, {"k": ks, "v": vs, "f": fs}, ts=1000, version=19
    )
    _s, rows = read_native_array(d)
    got_k = [r[0] for r in rows]
    got_v = [r[1] for r in rows]
    got_f = [r[2] for r in rows]
    st_ = attr_stats_native_array(d)
    assert st_["v"] == {"min": min(got_v), "max": max(got_v),
                        "sum": sum(got_v)}
    acc = 0.0
    for x in got_f:
        acc += x
    assert st_["f"]["min"] == min(got_f)
    assert st_["f"]["max"] == max(got_f)
    assert st_["f"]["sum"] == acc
    assert st_["k"]["sum"] == sum(got_k)
    assert count_native_array(d) == len(data)
    schema = parse_array_schema(_schema_path(d))
    frag = _fragment_dirs(d)[0]
    ntiles = -(-len(data) // capacity)
    tiles = fragment_tile_stats(frag, schema, "v")
    assert tiles is not None and len(tiles) == ntiles
    assert fragment_attr_stats(frag, schema)["v"]["sum"] == sum(got_v)
