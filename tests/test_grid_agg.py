"""2-D grid rollup from tile metadata (grid_agg_native): GROUP BY
(floor(x/wx), floor(y/wy)) — the heatmap/datacube shape.  Tiles inside
one grid cell on every gridded dim serve from stats; straddlers decode
per cell.  Every number pinned against a brute-force recompute."""

import random

import pytest

from tiledb_mariadb_spark.sources.tiledb_native import (
    NativeAttr,
    NativeDim,
)
from tiledb_mariadb_spark.sources.tiledb_native_agg import (
    grid_agg_native,
)
from tiledb_mariadb_spark.sources.tiledb_native_write import (
    create_native_array,
    write_delete_condition,
    write_native_fragment,
)

from .native_model import range_rows


# float, var-string and enumerated attrs (``rich`` arrays): float sums
# of quarter-multiples are exact in any order; string and label extrema
# follow python ordering; labels are not in ordinal order
_RICH = [
    NativeAttr("f", 3, 1, False, None),
    NativeAttr("s", 12, 0xFFFFFFFF, False, None),
    NativeAttr("e", 6, 1, False, None, enumeration="colors"),
]
_LABELS = ["zebra", "apple", "mango", "kiwi"]


def _mk(tmp_path, name="garr", capacity=50, dups=False, rich=False):
    uri = str(tmp_path / name)
    create_native_array(
        uri,
        dims=[
            NativeDim("x", 1, 1, (0, 10**6), None),
            NativeDim("y", 1, 1, (0, 10**6), None),
        ],
        attrs=[
            NativeAttr("v", 1, 1, False, None),
            NativeAttr("w", 1, 1, True, None),
            *(_RICH if rich else []),
        ],
        capacity=capacity,
        allows_dups=dups,
        **({"enumerations": {"colors": _LABELS}} if rich else {}),
    )
    return uri


def _write_cells(uri, cells, seed=0, ts=None, rich=False):
    rng = random.Random(seed)
    cols = {
        "x": [c[0] for c in cells],
        "y": [c[1] for c in cells],
        "v": [rng.randrange(-500, 500) for _ in cells],
        "w": [None if rng.random() < 0.25 else rng.randrange(100)
              for _ in cells],
    }
    if rich:
        cols["f"] = [rng.randrange(-1000, 1000) * 0.25 for _ in cells]
        cols["s"] = [f"t{rng.randrange(40):02d}" for _ in cells]
        cols["e"] = [rng.randrange(1, len(_LABELS) + 1) for _ in cells]
    write_native_fragment(
        uri,
        cols,
        version=20 if rich else 19,
        **({"ts": ts} if ts is not None else {}),
    )


def _expected(uri, wx, wy, col, window_x=None):
    rng = (
        [window_x, (None, None)] if window_x else None
    )
    names, rows = range_rows(uri, rng)
    xi, yi, ci = names.index("x"), names.index("y"), names.index(col)
    out = {}
    for r in rows:
        b = (r[xi] // wx, r[yi] // wy)
        d = out.setdefault(b, {"rows": 0, "count": 0, "nulls": 0,
                               "vals": []})
        d["rows"] += 1
        v = r[ci]
        if v is None:
            d["nulls"] += 1
        else:
            d["count"] += 1
            d["vals"].append(v)
    return out


def _check(uri, wx, wy, window_x=None, cols=("v", "w")):
    kw = {"ranges": {"x": window_x}} if window_x else {}
    res = grid_agg_native(uri, {"x": wx, "y": wy}, fields=list(cols),
                          **kw)
    assert res is not None
    for col in cols:
        summable = col in ("v", "w", "f")
        exp = _expected(uri, wx, wy, col, window_x=window_x)
        assert sorted(res["buckets"]) == sorted(exp), (wx, wy, window_x)
        for b, e in exp.items():
            got = res["buckets"][b]
            s = got["fields"][col]
            assert got["count"] == e["rows"], (col, b)
            assert s["count"] == e["count"]
            assert s["sum"] == (
                sum(e["vals"]) if e["vals"] and summable else None
            )
            assert s["min"] == (min(e["vals"]) if e["vals"] else None)
            assert s["max"] == (max(e["vals"]) if e["vals"] else None)
            if col == "w":
                assert s["null_count"] == e["nulls"]
    return res


def test_grid_parity_fuzz(tmp_path):
    """Random 2-D point sets x grid widths == brute force, including a
    1-D grid (y free) and a windowed cube, over int, nullable int,
    float, var-string and enumerated attrs."""
    rng = random.Random(21)
    uri = _mk(tmp_path, rich=True)
    cells = sorted({(rng.randrange(0, 400), rng.randrange(0, 400))
                    for _ in range(1500)})
    _write_cells(uri, cells, seed=1, rich=True)
    cols = ("v", "w", "f", "s", "e")
    for wx, wy in ((100, 100), (64, 37), (400, 13), (7, 7)):
        _check(uri, wx, wy, cols=cols)
    _check(uri, 100, 100, window_x=(50, 250), cols=cols)
    # 1-D grid on a 2-D array: y rides free
    res = grid_agg_native(uri, {"x": 100}, fields=["v"])
    exp = _expected(uri, 100, 10**9, "v")
    assert sorted(res["buckets"]) == sorted(
        {(b[0],) for b in exp}
    )


def test_1d_grid_keys_are_tuples_on_dense_and_sparse(tmp_path):
    """A 1-D grid keys its buckets by 1-tuples on a dense array as on a
    sparse one, with the same buckets and counts."""
    dense = str(tmp_path / "dense1")
    sparse = str(tmp_path / "sparse1")
    for uri, kw in ((dense, {"array_type": "DENSE"}), (sparse, {})):
        create_native_array(
            uri,
            dims=[NativeDim("k", 1, 1, (0, 59), 10)],
            attrs=[NativeAttr("v", 1, 1, False, None)],
            **kw,
        )
    write_native_fragment(dense, {"v": list(range(60))},
                          subarray=[(0, 59)], version=19)
    write_native_fragment(sparse, {"k": list(range(60)),
                                   "v": list(range(60))}, version=19)
    got = {}
    for uri in (dense, sparse):
        res = grid_agg_native(uri, {"k": 20})
        assert list(res["buckets"]) == [(0,), (1,), (2,)], uri
        got[uri] = {b: (r["count"], r["fields"]["v"]["sum"])
                    for b, r in res["buckets"].items()}
    assert got[dense] == got[sparse]


def test_string_dim_grid_raises_value_error(tmp_path):
    """A string dimension has no bucket arithmetic: gridding it is bad
    input (ValueError, which the SQL bridge turns into a scan
    fallback), raised before any fragment is read."""
    from tiledb_mariadb_spark.sources.tiledb_native_agg import (
        bucketed_agg_native,
    )

    uri = str(tmp_path / "sdim")
    create_native_array(
        uri,
        dims=[NativeDim("name", 12, 0xFFFFFFFF, None, None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
    )
    write_native_fragment(uri, {"name": ["a", "b", "c"], "v": [1, 2, 3]},
                          version=19)
    with pytest.raises(ValueError, match="string dimension"):
        bucketed_agg_native(uri, 10)
    with pytest.raises(ValueError, match="string dimension"):
        grid_agg_native(uri, {"name": 10})


def test_clustered_layout_serves_from_stats(tmp_path):
    """Spatially clustered ingest: each grid cell's 50 points occupy a
    contiguous row-major span (x sub-range unique per cell), so every
    capacity-tile lands inside one grid cell — zero decode.  The
    writer sorts to global order, so the construction, not the input
    order, is what matters."""
    uri = _mk(tmp_path, capacity=50)
    cells = [
        (gx * 100 + gy * 25 + i % 25, gy * 100 + i // 25)
        for gx in range(4) for gy in range(4) for i in range(50)
    ]
    _write_cells(uri, cells, seed=3)
    res = grid_agg_native(uri, {"x": 100, "y": 100}, fields=["v"])
    a = res["audit"]
    assert a["tiles_contained"] == 16 and a["tiles_partial"] == 0
    assert a["cells_decoded"] == 0
    assert len(res["buckets"]) == 16
    assert all(b["count"] == 50 for b in res["buckets"].values())


def test_allows_dups_and_multifragment(tmp_path):
    """Duplicate coordinates (allows_dups) are real cells; overlapping
    fragments are admitted under dups and every copy counts."""
    uri = _mk(tmp_path, dups=True)
    cells = [(x, y) for x in range(40) for y in (1, 2)]
    _write_cells(uri, cells, seed=5, ts=10)
    _write_cells(uri, cells, seed=6, ts=20)  # same coords again
    res = grid_agg_native(uri, {"x": 10, "y": 10}, fields=["v"])
    assert sum(b["count"] for b in res["buckets"].values()) == 160
    exp = _expected(uri, 10, 10, "v")
    for b, e in exp.items():
        assert res["buckets"][b]["fields"]["v"]["sum"] == sum(e["vals"])


def test_trust_rules_and_validation(tmp_path):
    uri = _mk(tmp_path)
    _write_cells(uri, [(1, 1), (2, 2)], seed=1, ts=10)
    write_delete_condition(uri, [("v", ">", 10**9)], ts=20)
    assert grid_agg_native(uri, {"x": 10}) is None  # deletes refuse
    uri2 = _mk(tmp_path, name="g2")
    _write_cells(uri2, [(1, 1)], seed=1, ts=10)
    _write_cells(uri2, [(1, 1)], seed=2, ts=20)  # overlap, no dups
    assert grid_agg_native(uri2, {"x": 10}) is None
    with pytest.raises(ValueError, match="non-dimension"):
        grid_agg_native(uri2, {"v": 10})
    with pytest.raises(ValueError, match="positive int"):
        grid_agg_native(uri2, {"x": 0})
    with pytest.raises(ValueError, match="at least one"):
        grid_agg_native(uri2, {})


def test_vectorized_run_fold_matches_loop(tmp_path):
    """Folding a field must not depend on which other fields ride the
    same decode: fields=['v'] (pure-int straddlers) and fields=['v','w']
    (w carries Nones) fold the same tiles, so the 'v' results of both
    calls must match bit for bit, and both must match brute force."""
    rng = random.Random(77)
    uri = _mk(tmp_path, capacity=50)
    # scattered points: with wx=wy=13 nearly every tile straddles
    cells = sorted({(rng.randrange(0, 900), rng.randrange(0, 900))
                    for _ in range(2000)})
    _write_cells(uri, cells, seed=9)
    vec = grid_agg_native(uri, {"x": 13, "y": 13}, fields=["v"])
    loop = grid_agg_native(uri, {"x": 13, "y": 13}, fields=["v", "w"])
    assert vec is not None and loop is not None
    assert vec["audit"]["tiles_partial"] > 0  # straddlers exist
    assert sorted(vec["buckets"]) == sorted(loop["buckets"])
    for b, got in vec["buckets"].items():
        other = loop["buckets"][b]
        assert got["count"] == other["count"], b
        assert got["fields"]["v"] == other["fields"]["v"], b
    exp = _expected(uri, 13, 13, "v")
    for b, e in exp.items():
        s = vec["buckets"][b]["fields"]["v"]
        assert vec["buckets"][b]["count"] == e["rows"]
        assert s["sum"] == sum(e["vals"])
        assert s["min"] == min(e["vals"])
        assert s["max"] == max(e["vals"])


def test_vectorized_run_fold_overflow_refusal(tmp_path):
    """Values big enough that an int64 group sum could overflow must
    still sum exactly (python ints past the int64 bound)."""
    uri = str(tmp_path / "big")
    create_native_array(
        uri,
        dims=[
            NativeDim("x", 1, 1, (0, 10**6), None),
            NativeDim("y", 1, 1, (0, 10**6), None),
        ],
        attrs=[NativeAttr("v", 1, 1, False, None)],
        capacity=4,
    )
    big = 2**62 - 1
    write_native_fragment(
        uri,
        {
            "x": [0, 1, 2, 3, 4, 5, 6, 7],
            "y": [0, 1, 2, 3, 4, 5, 6, 7],
            "v": [big, big, big, big, -big, big, big, big],
        },
        version=19,
    )
    res = grid_agg_native(uri, {"x": 3, "y": 3}, fields=["v"])
    assert res is not None
    # bucket (0,0) holds x,y in {0,1,2}: sum = 3*big > int64 max
    assert res["buckets"][(0, 0)]["fields"]["v"]["sum"] == 3 * big
    assert res["buckets"][(1, 1)]["fields"]["v"]["sum"] == big
    assert res["buckets"][(1, 1)]["fields"]["v"]["min"] == -big
