"""DENSE metadata aggregation (round 8): `dense_windowed_agg_native` /
`dense_bucketed_agg_native` and their delegation from the sparse entry
points.

The dense read view materializes the union bounding box of the written
subarrays, with fill values (nullable -> NULL) for uncovered cells — so
a windowed aggregate decomposes into fragment stats (whole fragments in
the window), clipped-edge decode (straddling fragments), and pure fill
arithmetic (the gap region).  COUNT(*) is always the window-box volume.

Reference anchor: ha_mytile.cc:592-601 — the reference allows SUM
pushdown on dims only when dense and disables COUNT on dense because
its handler cannot know the fill surface; this engine DEFINES the fill
surface (q84 dense fill reads, driver-pinned), so both are exact here.
"""

from __future__ import annotations

import glob
import os
import random

import pytest

from tiledb_mariadb_spark.sources.tiledb_native import (
    NativeAttr,
    NativeDim,
)
from tiledb_mariadb_spark.sources.tiledb_native_agg import (
    bucketed_agg_native,
    dense_bucketed_agg_native,
    dense_windowed_agg_native,
    windowed_agg_native,
)
from tiledb_mariadb_spark.sources.tiledb_native_write import (
    create_native_array,
    write_native_fragment,
)

from .native_model import range_rows


def _mk(tmp_path, name="d", extent=10, nullable_w=True):
    uri = str(tmp_path / name)
    create_native_array(
        uri,
        dims=[NativeDim("k", 0, 1, (0, 9999), extent)],
        attrs=[
            NativeAttr("v", 1, 1, False, None),
            NativeAttr("w", 1, 1, nullable_w, None),
        ],
        array_type="DENSE",
    )
    return uri


def _brute(uri, lo, hi, col, at=None):
    names, rows = range_rows(uri, ranges=[(lo, hi)], at=at)
    i = names.index(col)
    vals = [r[i] for r in rows]
    nn = [v for v in vals if v is not None]
    return {
        "count_all": len(vals), "count": len(nn),
        "null": len(vals) - len(nn),
        "sum": sum(nn) if nn else None,
        "min": min(nn) if nn else None,
        "max": max(nn) if nn else None,
    }


def _check_window(uri, lo, hi, at=None):
    res = windowed_agg_native(uri, {"k": (lo, hi)}, at=at)
    assert res is not None
    for col in ("v", "w"):
        b = _brute(uri, lo, hi, col, at=at)
        f = res["fields"][col]
        assert res["count"] == b["count_all"], (lo, hi, col)
        assert f["count"] == b["count"], (lo, hi, col, f, b)
        assert f["sum"] == b["sum"], (lo, hi, col, f, b)
        assert f["min"] == b["min"] and f["max"] == b["max"], (
            lo, hi, col, f, b,
        )
    return res


def test_windowed_matches_scan_with_gaps(tmp_path):
    """Two disjoint written boxes with a fill gap between: every window
    class — stats-only, edge-clipped, gap-only, mixed."""
    uri = _mk(tmp_path)
    write_native_fragment(
        uri,
        {"v": list(range(50)),
         "w": [None if i % 5 == 0 else i for i in range(50)]},
        subarray=[(0, 49)], ts=1, version=19,
    )
    write_native_fragment(
        uri, {"v": list(range(100, 130)), "w": [7] * 30},
        subarray=[(70, 99)], ts=2, version=19,
    )
    _check_window(uri, 0, 99)   # whole bbox: stats + fills
    _check_window(uri, 5, 84)   # both fragments clipped
    r = _check_window(uri, 55, 65)  # pure gap: zero decode
    assert r["audit"]["cells_decoded"] == 0
    assert r["fields"]["v"]["min"] == 0 and r["fields"]["v"]["max"] == 0
    assert r["fields"]["w"]["count"] == 0  # nullable fill = NULL
    _check_window(uri, 0, 49)   # one whole fragment
    _check_window(uri, 40, 90)  # edge + gap + edge


def test_windowed_randomized_parity(tmp_path):
    rng = random.Random(11)
    for trial in range(3):
        uri = _mk(tmp_path, f"r{trial}")
        pos = 0
        for f in range(rng.randint(1, 4)):
            pos += rng.randint(0, 30)
            n = rng.randint(5, 60)
            write_native_fragment(
                uri,
                {"v": [rng.randrange(100) for _ in range(n)],
                 "w": [None if rng.random() < 0.3 else rng.randrange(50)
                       for _ in range(n)]},
                subarray=[(pos, pos + n - 1)], ts=f + 1, version=19,
            )
            pos += n
        for _ in range(6):
            lo = rng.randrange(0, pos)
            hi = rng.randrange(lo, pos + 20)
            _check_window(uri, lo, hi)


def test_stats_path_decode_poison(tmp_path):
    """Fragments wholly inside the window with non-null stats answer
    WITHOUT decoding — poison every data tile and ask again."""
    uri = _mk(tmp_path)
    write_native_fragment(
        uri, {"v": list(range(50)), "w": list(range(50))},
        subarray=[(0, 49)], ts=1, version=19,
    )
    write_native_fragment(
        uri, {"v": list(range(100, 130)), "w": [7] * 30},
        subarray=[(70, 99)], ts=2, version=19,
    )
    for frag in glob.glob(os.path.join(uri, "__fragments", "__*")):
        for f in os.listdir(frag):
            if f != "__fragment_metadata.tdb":
                with open(os.path.join(frag, f), "wb") as fh:
                    fh.write(b"PoIsOn")
    res = windowed_agg_native(uri, {"k": (0, 99)})
    assert res["audit"]["cells_decoded"] == 0
    assert res["count"] == 100
    assert res["fields"]["v"]["sum"] == sum(range(50)) + sum(
        range(100, 130)
    )  # fill v=0 adds nothing
    assert res["fields"]["w"]["count"] == 80  # 20 fill NULLs
    assert res["fields"]["w"]["null_count"] == 20


def test_dim_closed_form(tmp_path):
    uri = _mk(tmp_path)
    write_native_fragment(
        uri, {"v": list(range(30)), "w": [1] * 30},
        subarray=[(10, 39)], ts=1, version=19,
    )
    res = windowed_agg_native(uri, {"k": (12, 31)}, fields=["k"])
    f = res["fields"]["k"]
    assert (f["count"], f["sum"], f["min"], f["max"]) == (
        20, sum(range(12, 32)), 12, 31,
    )


def test_overlap_newest_wins(tmp_path):
    """Overlapping dense patches no longer refuse (r8 verdict #5): the
    window decomposes into disjoint newest-wins regions and only the
    shadow-clipped sub-boxes decode — values match the brute scan."""
    uri = _mk(tmp_path)
    write_native_fragment(
        uri, {"v": list(range(50)), "w": [1] * 50},
        subarray=[(0, 49)], ts=1, version=19,
    )
    write_native_fragment(
        uri, {"v": [999] * 10, "w": [2] * 10},
        subarray=[(45, 54)], ts=2, version=19,
    )
    _check_window(uri, 0, 54)
    _check_window(uri, 40, 49)   # straddles the shadow boundary
    _check_window(uri, 45, 54)   # entirely the newest patch
    _check_window(uri, 0, 44)    # entirely the unshadowed remainder
    res = dense_bucketed_agg_native(uri, 10)
    assert res is not None
    names, rows = range_rows(uri)
    ik, iv = names.index("k"), names.index("v")
    import collections

    exp = collections.defaultdict(list)
    for r in rows:
        exp[r[ik] // 10].append(r[iv])
    assert set(res["buckets"]) == set(exp)
    for b, vals in exp.items():
        got = res["buckets"][b]
        assert got["count"] == len(vals)
        assert got["fields"]["v"]["sum"] == sum(vals)
        assert got["fields"]["v"]["min"] == min(vals)
        assert got["fields"]["v"]["max"] == max(vals)


def test_overlap_randomized_parity(tmp_path):
    """Randomized overlapping patch histories (layered boxes, nullable
    attr) match the brute scan on every stat across random windows."""
    import random

    rng = random.Random(91)
    uri = _mk(tmp_path, "rnd_ovl")
    for ts in range(1, 7):
        lo = rng.randrange(0, 900)
        n = rng.randrange(5, 120)
        write_native_fragment(
            uri,
            {
                "v": [rng.randrange(-50, 50) for _ in range(n)],
                "w": [
                    None if rng.random() < 0.3 else rng.randrange(0, 9)
                    for _ in range(n)
                ],
            },
            subarray=[(lo, lo + n - 1)], ts=ts, version=19,
        )
    for _ in range(12):
        lo = rng.randrange(0, 950)
        hi = min(999, lo + rng.randrange(1, 300))
        res = dense_windowed_agg_native(uri, {"k": (lo, hi)})
        names, rows = range_rows(uri, ranges=[(lo, hi)])
        if not rows:
            continue
        assert res is not None
        for col in ("v", "w"):
            b = _brute(uri, lo, hi, col)
            f = res["fields"][col]
            assert res["count"] == b["count_all"], (lo, hi)
            assert f["count"] == b["count"], (lo, hi, col, f, b)
            assert f["sum"] == b["sum"], (lo, hi, col, f, b)
            assert f["min"] == b["min"] and f["max"] == b["max"], (
                lo, hi, col, f, b,
            )


def test_time_travel_window(tmp_path):
    uri = _mk(tmp_path)
    write_native_fragment(
        uri, {"v": list(range(50)), "w": [1] * 50},
        subarray=[(0, 49)], ts=1000, version=19,
    )
    write_native_fragment(
        uri, {"v": [5] * 30, "w": [2] * 30},
        subarray=[(70, 99)], ts=2000, version=19,
    )
    _check_window(uri, 0, 99, at=1500)  # second fragment invisible
    res = windowed_agg_native(uri, {"k": (0, 99)}, at=1500)
    assert res["count"] == 50  # bbox at ts=1500 is [0,49]


def test_bucketed_matches_scan(tmp_path):
    uri = _mk(tmp_path)
    write_native_fragment(
        uri,
        {"v": list(range(50)),
         "w": [None if i % 7 == 0 else i for i in range(50)]},
        subarray=[(0, 49)], ts=1, version=19,
    )
    write_native_fragment(
        uri, {"v": list(range(100, 130)), "w": [3] * 30},
        subarray=[(70, 99)], ts=2, version=19,
    )
    import collections

    names, rows = range_rows(uri, ranges=[(0, 99)])
    iv, iw = names.index("v"), names.index("w")
    for width in (25, 30, 100, 7):
        res = bucketed_agg_native(uri, width)
        exp_v = collections.defaultdict(list)
        exp_w = collections.defaultdict(list)
        for row in rows:
            exp_v[row[0] // width].append(row[iv])
            exp_w[row[0] // width].append(row[iw])
        assert sorted(res["buckets"]) == sorted(exp_v), width
        for b, vals in exp_v.items():
            got = res["buckets"][b]
            assert got["count"] == len(vals), (width, b)
            assert got["fields"]["v"]["sum"] == sum(vals), (width, b)
            wn = [x for x in exp_w[b] if x is not None]
            assert got["fields"]["w"]["count"] == len(wn), (width, b)
            assert got["fields"]["w"]["sum"] == (
                sum(wn) if wn else None
            ), (width, b)


def test_bucket_aligned_ingest_zero_decode(tmp_path):
    """Fragment-per-bucket ingest (the time-partitioned raster shape):
    the whole rollup is fragment stats + fill arithmetic, zero decode."""
    uri = _mk(tmp_path, extent=25)
    for b in range(4):
        write_native_fragment(
            uri,
            {"v": [b * 10 + i % 5 for i in range(25)], "w": [b] * 25},
            subarray=[(b * 25, b * 25 + 24)], ts=b + 1, version=19,
        )
    res = bucketed_agg_native(uri, 25)
    assert res["audit"]["cells_decoded"] == 0
    assert sorted(res["buckets"]) == [0, 1, 2, 3]
    for b in range(4):
        assert res["buckets"][b]["count"] == 25
        assert res["buckets"][b]["fields"]["v"]["sum"] == sum(
            b * 10 + i % 5 for i in range(25)
        )


def test_empty_and_out_of_bbox(tmp_path):
    uri = _mk(tmp_path)
    res = dense_windowed_agg_native(uri, {"k": (0, 10)})
    assert res["count"] == 0 and res["fields"]["v"]["sum"] is None
    write_native_fragment(
        uri, {"v": [1] * 10, "w": [1] * 10},
        subarray=[(0, 9)], ts=1, version=19,
    )
    res = dense_windowed_agg_native(uri, {"k": (500, 600)})
    assert res["count"] == 0
    assert dense_bucketed_agg_native(uri, 10, ranges={"k": (500, 600)})[
        "buckets"
    ] == {}


def test_bad_inputs(tmp_path):
    uri = _mk(tmp_path)
    write_native_fragment(
        uri, {"v": [1] * 10, "w": [1] * 10},
        subarray=[(0, 9)], ts=1, version=19,
    )
    with pytest.raises(ValueError, match="non-dimension"):
        dense_windowed_agg_native(uri, {"v": (0, 1)})
    with pytest.raises(ValueError, match="unknown field"):
        dense_windowed_agg_native(uri, {"k": (0, 1)}, fields=["nope"])
    with pytest.raises(ValueError, match="positive int"):
        dense_bucketed_agg_native(uri, 0)


if __name__ == "__main__":
    pytest.main([__file__, "-q"])


def test_straddling_fragment_uses_interior_tile_stats(tmp_path):
    """A window over one big 1-D dense fragment decodes ONLY the edge
    slivers — interior tiles contribute their (padding-free) per-tile
    stats.  'Last month over a consolidated year' = 2 sliver reads."""
    uri = str(tmp_path / "big")
    create_native_array(
        uri,
        dims=[NativeDim("k", 0, 1, (0, 9999), 100)],
        attrs=[
            NativeAttr("v", 1, 1, False, None),
            NativeAttr("w", 1, 1, True, None),
        ],
        array_type="DENSE",
    )
    write_native_fragment(
        uri,
        {"v": list(range(1000)),
         "w": [None if i % 9 == 0 else i for i in range(1000)]},
        subarray=[(0, 999)], ts=1, version=19,
    )
    res = _check_window(uri, 150, 849)
    # v (non-nullable): 2 edge slivers x 50 cells = 100; w's tiles all
    # hold NULLs, so the writer withheld their min/max/sum tile stats
    # and w honestly decodes the full 700-cell clip — 800 total vs the
    # 1400 a stat-less plan would decode
    assert res["audit"]["cells_decoded"] == 800, res["audit"]
    assert res["audit"].get("tiles_stats", 0) == 6, res["audit"]
    # unaligned-edge window on an unaligned-box fragment stays exact
    uri2 = str(tmp_path / "unal")
    create_native_array(
        uri2,
        dims=[NativeDim("k", 0, 1, (3, 9999), 10)],
        attrs=[
            NativeAttr("v", 1, 1, False, None),
            NativeAttr("w", 1, 1, True, None),
        ],
        array_type="DENSE",
    )
    write_native_fragment(
        uri2,
        {"v": list(range(100, 137)),
         "w": [None if i % 4 == 0 else i for i in range(37)]},
        subarray=[(17, 53)], ts=1, version=19,
    )
    # edge tiles of the BOX carry padding-poisoned stats: they must
    # never contribute (the interior-of-box rule)
    for lo, hi in [(17, 53), (20, 49), (23, 42), (18, 22)]:
        _check_window(uri2, lo, hi)


def test_dense_grid_2d(tmp_path):
    """2-D dense heatmap downsample: grid_agg_native delegates to the
    dense twin; every grid cell of the bbox is present (fills
    included), values match a brute-force scan."""
    import collections

    from tiledb_mariadb_spark.sources.tiledb_native_agg import (
        grid_agg_native,
    )

    uri = str(tmp_path / "g2")
    create_native_array(
        uri,
        dims=[
            NativeDim("x", 0, 1, (0, 99), 10),
            NativeDim("y", 0, 1, (0, 99), 10),
        ],
        attrs=[NativeAttr("v", 1, 1, False, None)],
        array_type="DENSE",
    )
    # one 20x30 box at (5..24, 10..39): row-major cells
    vals = [x * 100 + y for x in range(5, 25) for y in range(10, 40)]
    write_native_fragment(
        uri, {"v": vals}, subarray=[(5, 24), (10, 39)], ts=1, version=19
    )
    res = grid_agg_native(uri, {"x": 10, "y": 10})
    assert res is not None
    names, rows = range_rows(uri)
    ix, iy, iv = names.index("x"), names.index("y"), names.index("v")
    exp = collections.defaultdict(list)
    for r in rows:
        exp[(r[ix] // 10, r[iy] // 10)].append(r[iv])
    assert sorted(res["buckets"]) == sorted(exp)
    for k, vs in exp.items():
        got = res["buckets"][k]
        assert got["count"] == len(vs), k
        assert got["fields"]["v"]["sum"] == sum(vs), k
        assert got["fields"]["v"]["min"] == min(vs), k
    # windowed grid
    res2 = grid_agg_native(
        uri, {"x": 10, "y": 10}, ranges={"x": (7, 18), "y": (12, 33)}
    )
    exp2 = collections.defaultdict(int)
    for r in rows:
        if 7 <= r[ix] <= 18 and 12 <= r[iy] <= 33:
            exp2[(r[ix] // 10, r[iy] // 10)] += 1
    assert {k: v["count"] for k, v in res2["buckets"].items()} == dict(exp2)


def test_dense_2d_windowed_randomized_parity(tmp_path):
    """N-dim windows over 2-D dense layouts: random disjoint boxes +
    random windows, windowed_agg_native vs brute-force scan (fills,
    clipped boxes on BOTH axes, dim closed forms)."""
    from tiledb_mariadb_spark.sources.tiledb_native_agg import (
        dense_windowed_agg_native,
    )

    rng = random.Random(23)
    for trial in range(3):
        uri = str(tmp_path / f"d2r{trial}")
        create_native_array(
            uri,
            dims=[
                NativeDim("x", 0, 1, (0, 199), 10),
                NativeDim("y", 0, 1, (0, 199), 10),
            ],
            attrs=[
                NativeAttr("v", 1, 1, False, None),
                NativeAttr("w", 1, 1, True, None),
            ],
            array_type="DENSE",
        )
        # disjoint boxes stacked along x
        xpos = 0
        for f in range(rng.randint(1, 3)):
            xpos += rng.randint(0, 10)
            nx, ny = rng.randint(3, 25), rng.randint(3, 40)
            ylo = rng.randint(0, 60)
            n = nx * ny
            write_native_fragment(
                uri,
                {"v": [rng.randrange(100) for _ in range(n)],
                 "w": [None if rng.random() < 0.25 else rng.randrange(50)
                       for _ in range(n)]},
                subarray=[(xpos, xpos + nx - 1), (ylo, ylo + ny - 1)],
                ts=f + 1, version=19,
            )
            xpos += nx
        for _ in range(5):
            xlo = rng.randrange(0, xpos + 5)
            xhi = rng.randrange(xlo, xpos + 15)
            ylo = rng.randrange(0, 90)
            yhi = rng.randrange(ylo, 110)
            res = dense_windowed_agg_native(
                uri, {"x": (xlo, xhi), "y": (ylo, yhi)},
                fields=["v", "w", "x", "y"],
            )
            assert res is not None
            names, rows = range_rows(
                uri, ranges=[(xlo, xhi), (ylo, yhi)]
            )
            idx = {n_: i for i, n_ in enumerate(names)}
            assert res["count"] == len(rows)
            for col in ("v", "w", "x", "y"):
                vals = [r[idx[col]] for r in rows]
                nn = [v for v in vals if v is not None]
                f_ = res["fields"][col]
                assert f_["count"] == len(nn), (trial, col, xlo, xhi)
                assert f_["sum"] == (sum(nn) if nn else None), (
                    trial, col, f_, len(nn),
                )
                assert f_["min"] == (min(nn) if nn else None)
                assert f_["max"] == (max(nn) if nn else None)


def test_grid_bad_widths_raise_even_when_unprovable(tmp_path):
    """Invalid widths raise ValueError BEFORE the dense-context probe:
    an overlapping-patch array (unprovable -> None) must not swallow
    bad input into a silent None (r8 ADVICE)."""
    from tiledb_mariadb_spark.sources.tiledb_native_agg import (
        dense_grid_agg_native,
        grid_agg_native,
    )

    uri = _mk(tmp_path, "gbad")
    write_native_fragment(
        uri, {"v": list(range(50)), "w": [1] * 50},
        subarray=[(0, 49)], ts=1, version=19,
    )
    write_native_fragment(
        uri, {"v": [9] * 10, "w": [2] * 10},
        subarray=[(45, 54)], ts=2, version=19,
    )
    # the overlap itself now evaluates newest-wins (r9, verdict #5)
    assert dense_grid_agg_native(uri, {"k": 10}) is not None
    for fn in (dense_grid_agg_native, grid_agg_native):
        with pytest.raises(ValueError, match="at least one"):
            fn(uri, {})
        with pytest.raises(ValueError, match="non-dimension"):
            fn(uri, {"v": 10})
        with pytest.raises(ValueError, match="positive int"):
            fn(uri, {"k": 0})


def test_bucketed_footer_parse_cached_across_buckets(tmp_path):
    """The bucketed rollup parses each fragment's stats footer ONCE per
    call, not once per bucket (r8 ADVICE: O(buckets x fragments)
    re-parse made the metadata fast path slower than the scan)."""
    import tiledb_mariadb_spark.sources.tiledb_native_agg as agg_mod
    from tiledb_mariadb_spark.sources import tiledb_native as tn

    uri = _mk(tmp_path, "dcache")
    # 10 bucket-aligned fragments of 10 cells (extent 10, width 10)
    for b in range(10):
        write_native_fragment(
            uri,
            {"v": [b] * 10, "w": [b] * 10},
            subarray=[(b * 10, b * 10 + 9)], ts=b + 1, version=19,
        )
    calls = {"n": 0}
    real = tn.fragment_attr_stats

    def counting(*a, **k):
        calls["n"] += 1
        return real(*a, **k)

    orig = tn.fragment_attr_stats
    tn.fragment_attr_stats = counting
    try:
        res = agg_mod.dense_bucketed_agg_native(uri, 10)
    finally:
        tn.fragment_attr_stats = orig
    assert res is not None and len(res["buckets"]) == 10
    assert calls["n"] <= 10  # one parse per fragment, NOT per pair
    assert [res["buckets"][b]["fields"]["v"]["sum"] for b in range(10)] == [
        b * 10 for b in range(10)
    ]


def test_overlap_aligned_geometry_zero_decode(tmp_path):
    """Tile-aligned patch geometry answers a newest-wins window from
    METADATA alone: the shadowed fragment's surviving region is served
    by interior tile stats and the patch by fragment stats — audit
    shows zero decoded cells."""
    uri = _mk(tmp_path, "ovl0", nullable_w=False)
    write_native_fragment(
        uri, {"v": list(range(500)), "w": [3] * 500},
        subarray=[(0, 499)], ts=1, version=19,
    )
    write_native_fragment(
        uri, {"v": [7] * 100, "w": [4] * 100},
        subarray=[(450, 549)], ts=2, version=19,
    )
    res = dense_windowed_agg_native(uri, {"k": (0, 549)})
    assert res is not None
    b = _brute(uri, 0, 549, "v")
    assert res["count"] == b["count_all"]
    f = res["fields"]["v"]
    assert (f["sum"], f["min"], f["max"]) == (b["sum"], b["min"], b["max"])
    assert res["audit"]["cells_decoded"] == 0, res["audit"]


def test_dense_2d_overlap_randomized_parity(tmp_path):
    """2-D OVERLAPPING patch histories (random layered boxes on both
    axes, newest-wins): windowed + grid rollups match the brute scan —
    the guillotine box subtraction and per-region ladder are exercised
    on genuinely 2-D shadow geometry."""
    from tiledb_mariadb_spark.sources.tiledb_native_agg import (
        dense_grid_agg_native,
        dense_windowed_agg_native,
    )

    rng = random.Random(47)
    for trial in range(3):
        uri = str(tmp_path / f"ovl2d{trial}")
        create_native_array(
            uri,
            dims=[
                NativeDim("x", 0, 1, (0, 199), 10),
                NativeDim("y", 0, 1, (0, 199), 10),
            ],
            attrs=[
                NativeAttr("v", 1, 1, False, None),
                NativeAttr("w", 1, 1, True, None),
            ],
            array_type="DENSE",
        )
        for f in range(rng.randint(2, 4)):
            nx, ny = rng.randint(3, 40), rng.randint(3, 40)
            xlo, ylo = rng.randint(0, 120), rng.randint(0, 120)
            n = nx * ny
            write_native_fragment(
                uri,
                {"v": [rng.randrange(100) for _ in range(n)],
                 "w": [None if rng.random() < 0.25 else rng.randrange(50)
                       for _ in range(n)]},
                subarray=[(xlo, xlo + nx - 1), (ylo, ylo + ny - 1)],
                ts=f + 1, version=19,
            )
        for _ in range(5):
            xlo = rng.randrange(0, 150)
            xhi = rng.randrange(xlo, 180)
            ylo = rng.randrange(0, 150)
            yhi = rng.randrange(ylo, 180)
            res = dense_windowed_agg_native(
                uri, {"x": (xlo, xhi), "y": (ylo, yhi)}
            )
            names, rows = range_rows(
                uri, ranges=[(xlo, xhi), (ylo, yhi)]
            )
            if not rows:
                continue
            assert res is not None
            iv = names.index("v")
            vals = [r[iv] for r in rows]
            f = res["fields"]["v"]
            assert res["count"] == len(vals)
            assert f["sum"] == sum(vals)
            assert f["min"] == min(vals) and f["max"] == max(vals)
            iw = names.index("w")
            wn = [r[iw] for r in rows if r[iw] is not None]
            fw = res["fields"]["w"]
            assert fw["count"] == len(wn)
            assert fw["sum"] == (sum(wn) if wn else None)
        # grid rollup over the full bbox matches a grouped brute scan
        g = dense_grid_agg_native(uri, {"x": 25, "y": 25})
        assert g is not None
        names, rows = range_rows(uri)
        ix, iy, iv = names.index("x"), names.index("y"), names.index("v")
        import collections

        exp = collections.defaultdict(list)
        for r in rows:
            exp[(r[ix] // 25, r[iy] // 25)].append(r[iv])
        assert set(g["buckets"]) == set(exp)
        for key, vals in exp.items():
            got = g["buckets"][key]
            assert got["count"] == len(vals)
            assert got["fields"]["v"]["sum"] == sum(vals)
