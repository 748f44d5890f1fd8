"""Bucketed metadata rollup (bucketed_agg_native): GROUP BY
floor(dim0/width) answered from tile stats in one footer walk — tiles
inside one bucket contribute stats unread, only bucket-edge tiles
decode.  Every number is pinned against a full-read recompute; the
poison test proves interior tiles are never opened."""

import glob
import math
import os
import random
import shutil

import pytest

from tiledb_mariadb_spark.sources.tiledb_native import (
    NativeAttr,
    NativeDim,
)
from tiledb_mariadb_spark.sources.tiledb_native_agg import (
    bucketed_agg_native,
)
from tiledb_mariadb_spark.sources.tiledb_native_write import (
    create_native_array,
    write_delete_condition,
    write_native_fragment,
)

from .native_model import range_rows


def _mk(tmp_path, name="barr", capacity=100, lo=0, **kw):
    uri = str(tmp_path / name)
    create_native_array(
        uri,
        dims=[NativeDim("k", 1, 1, (lo, 10**8), None)],
        attrs=[
            NativeAttr("v", 1, 1, False, None),
            NativeAttr("f", 3, 1, False, None),
            NativeAttr("w", 1, 1, True, None),
            NativeAttr("tag", 12, 0xFFFFFFFF, False, None),
        ],
        capacity=capacity,
        **kw,
    )
    return uri


def _write(uri, base, n, seed=0, ts=None, stride=1):
    rng = random.Random(seed)
    ks = list(range(base, base + n * stride, stride))
    write_native_fragment(
        uri,
        {
            "k": ks,
            "v": [rng.randrange(-1000, 1000) for _ in ks],
            "f": [rng.randrange(-1000, 1000) * 0.25 for _ in ks],
            "w": [None if rng.random() < 0.2 else rng.randrange(50)
                  for _ in ks],
            "tag": [f"t{k % 13:02d}" for k in ks],
        },
        version=19,
        **({"ts": ts} if ts is not None else {}),
    )


def _expected_buckets(uri, width, col, window=None):
    """Brute-force GROUP BY floor(k/width) from a full read."""
    names, rows = range_rows(
        uri, [window] if window else None
    )
    ki, ci = names.index("k"), names.index(col)
    out = {}
    for r in rows:
        b = r[ki] // width
        d = out.setdefault(
            b, {"rows": 0, "count": 0, "nulls": 0, "vals": []})
        d["rows"] += 1
        v = r[ci]
        if v is None:
            d["nulls"] += 1
        else:
            d["count"] += 1
            d["vals"].append(v)
    return out


def _check(uri, width, cols=("v", "w"), float_cols=("f",)):
    res = bucketed_agg_native(uri, width, fields=["v", "f", "w", "tag"])
    assert res is not None
    for col in cols:
        exp = _expected_buckets(uri, width, col)
        assert sorted(res["buckets"]) == sorted(exp)
        for b, e in exp.items():
            got = res["buckets"][b]
            s = got["fields"][col]
            assert got["count"] == e["rows"], (col, b)
            assert s["count"] == e["count"], (col, b)
            assert s["min"] == (min(e["vals"]) if e["vals"] else None)
            assert s["max"] == (max(e["vals"]) if e["vals"] else None)
            assert s["sum"] == (sum(e["vals"]) if e["vals"] else None)
            if col == "w":
                assert s["null_count"] == e["nulls"]
    for col in float_cols:
        exp = _expected_buckets(uri, width, col)
        for b, e in exp.items():
            s = res["buckets"][b]["fields"][col]
            assert math.isclose(s["sum"], sum(e["vals"]), rel_tol=1e-9)
            assert s["min"] == min(e["vals"])
            assert s["max"] == max(e["vals"])
    return res


def test_parity_fuzz_widths(tmp_path):
    """Random fragment layouts x bucket widths == brute-force GROUP BY,
    including widths aligned and unaligned to capacity and stride
    gaps (empty buckets absent)."""
    uri = _mk(tmp_path)
    for i, (base, n, stride) in enumerate(
        ((0, 900, 1), (1500, 700, 2), (4000, 500, 3))
    ):
        _write(uri, base, n, seed=i, stride=stride)
    for width in (100, 250, 64, 1000, 7, 5200):
        _check(uri, width)


def test_string_extrema_per_bucket(tmp_path):
    uri = _mk(tmp_path)
    _write(uri, 0, 500, seed=5)
    res = bucketed_agg_native(uri, 130, fields=["tag"])
    exp = _expected_buckets(uri, 130, "tag")
    for b, e in exp.items():
        s = res["buckets"][b]["fields"]["tag"]
        assert s["min"] == min(e["vals"])
        assert s["max"] == max(e["vals"])
        assert s["sum"] is None  # strings never sum


def test_aligned_buckets_never_decode_interior(tmp_path):
    """Bucket width = k*capacity on a dense key layout: every tile is
    contained; POISON all data files — only metadata may answer (the
    nullable col 'w' withholds stats when a fragment saw NULLs, so
    restrict to fields whose stats are always written)."""
    uri = _mk(tmp_path, capacity=100)
    _write(uri, 0, 2000, seed=7)  # keys 0..1999, tiles aligned to 100
    before = bucketed_agg_native(uri, 400, fields=["v", "f"])
    a = before["audit"]
    assert a["tiles_contained"] == 20 and a["tiles_partial"] == 0
    assert a["cells_decoded"] == 0
    for frag in glob.glob(os.path.join(uri, "__fragments", "__*")):
        for f in os.listdir(frag):
            if f != "__fragment_metadata.tdb":
                with open(os.path.join(frag, f), "wb") as fh:
                    fh.write(b"PoIsOn")
    res = bucketed_agg_native(uri, 400, fields=["v", "f"])
    assert res == before
    assert sorted(res["buckets"]) == [0, 1, 2, 3, 4]
    assert all(b["count"] == 400 for b in res["buckets"].values())


def test_edge_tiles_decode_exactly(tmp_path):
    """Unaligned width: only the straddling tiles decode (audit-pinned),
    and the numbers still equal brute force."""
    uri = _mk(tmp_path, capacity=100)
    _write(uri, 0, 2000, seed=3)
    res = _check(uri, 150)  # lcm(150,100)=300: every 3rd tile straddles
    a = res["audit"]
    assert a["tiles_total"] == 20
    assert a["tiles_partial"] == 20 - a["tiles_contained"] > 0
    assert a["tiles_contained"] > 0


def test_negative_coordinates_floor(tmp_path):
    """Bucket of a negative coordinate floors (SQL FLOOR(v/w)), never
    truncates toward zero."""
    uri = _mk(tmp_path, lo=-(10**6))
    _write(uri, -250, 500, seed=1)  # keys -250..249
    res = bucketed_agg_native(uri, 100, fields=["v"])
    exp = _expected_buckets(uri, 100, "v")
    assert sorted(res["buckets"]) == sorted(exp) == [-3, -2, -1, 0, 1, 2]
    for b, e in exp.items():
        assert res["buckets"][b]["count"] == e["rows"]


def test_trust_rules_refuse(tmp_path):
    """Deletes / overlapping non-dup fragments -> None (fall back to a
    scan), never a wrong rollup."""
    uri = _mk(tmp_path)
    _write(uri, 0, 300, seed=1, ts=10)
    _write(uri, 100, 300, seed=2, ts=20)  # overlap: newest-wins hides
    assert bucketed_agg_native(uri, 100, fields=["v"]) is None
    uri2 = _mk(tmp_path, name="bdel")
    _write(uri2, 0, 300, seed=1, ts=10)
    write_delete_condition(uri2, [("v", ">", 0)], ts=20)
    assert bucketed_agg_native(uri2, 100, fields=["v"]) is None
    with pytest.raises(ValueError, match="width"):
        bucketed_agg_native(uri2, 0)
    with pytest.raises(ValueError, match="unknown field"):
        bucketed_agg_native(uri2, 10, fields=["nope"])


def test_windowed_buckets_fuzz(tmp_path):
    """ranges= windows the rollup: random window x width combinations
    equal the brute-force windowed GROUP BY, and out-of-window tiles
    are skipped from metadata."""
    uri = _mk(tmp_path)
    for i, (base, n_) in enumerate(((0, 900), (2000, 700))):
        _write(uri, base, n_, seed=i)
    rng = random.Random(99)
    cases = [((0, 5000), 250), ((450, 2450), 100), ((899, 901), 7)]
    cases += [
        (tuple(sorted((rng.randrange(0, 3000), rng.randrange(0, 3000)))),
         rng.choice([64, 100, 250, 1000]))
        for _ in range(8)
    ]
    for window, width in cases:
        res = bucketed_agg_native(
            uri, width, fields=["v", "w"], ranges={"k": window})
        assert res is not None
        for col in ("v", "w"):
            exp = _expected_buckets(uri, width, col, window=window)
            assert sorted(res["buckets"]) == sorted(exp), (window, width)
            for b, e in exp.items():
                got = res["buckets"][b]
                s = got["fields"][col]
                assert got["count"] == e["rows"]
                assert s["count"] == e["count"]
                assert s["sum"] == (sum(e["vals"]) if e["vals"] else None)
                assert s["min"] == (min(e["vals"]) if e["vals"] else None)
                assert s["max"] == (max(e["vals"]) if e["vals"] else None)
    # narrow window on a wide array: most tiles skip, none decode
    # beyond the boundary (capacity 100, window covers 2 tiles)
    res = bucketed_agg_native(
        uri, 50, fields=["v"], ranges={"k": (2100, 2299)})
    a = res["audit"]
    assert a["tiles_skipped"] > a["tiles_contained"] + a["tiles_partial"]
    with pytest.raises(ValueError, match="non-dimension"):
        bucketed_agg_native(uri, 50, ranges={"v": (0, 1)})


@pytest.mark.skipif(
    shutil.which("javac") is None or shutil.which("jar") is None,
    reason="needs a JDK (javac + jar) to build the shim",
)
def test_sql_surface_metadata_equals_scan(spark, tmp_path):
    """GROUP BY FLOOR(k/300) over format('tiledb_agg'): the bucketed
    metadata rollup equals the scan fallback row-for-row (forced by a
    delete commit, which trips the trust rules)."""
    from tiledb_mariadb_spark.sources.jvm_agg import (
        agg_reader,
        scan_descriptions,
    )

    uri = _mk(tmp_path)
    _write(uri, 0, 700, seed=11, ts=10)
    _write(uri, 1200, 500, seed=12, ts=20)
    agg_reader(spark, uri).load().createOrReplaceTempView("b_sql")
    stats = ", ".join(
        f"MIN({c}), MAX({c}), SUM({c})" for c in ("k", "v", "f", "w")
    )
    q = (
        f"SELECT FLOOR(k/300) AS b, COUNT(*), {stats}, COUNT(w), "
        "MIN(tag), MAX(tag) FROM b_sql WHERE k BETWEEN 150 AND 1450 "
        "GROUP BY FLOOR(k/300) ORDER BY b"
    )
    plan = " ".join(scan_descriptions(spark.sql(q)))
    assert "GroupedPushedAggregates" in plan, plan
    meta = [tuple(r) for r in spark.sql(q).collect()]
    # no-op delete trips the trust rules -> scan fallback, same numbers
    write_delete_condition(uri, [("v", ">", 10**9)], ts=30)
    plan2 = " ".join(scan_descriptions(spark.sql(q)))
    assert "GroupedPushedAggregates" not in plan2, plan2
    scan = [tuple(r) for r in spark.sql(q).collect()]
    assert len(meta) == len(scan) > 0
    for m, s in zip(meta, scan):
        for x, y in zip(m, s):
            if isinstance(x, float):
                assert math.isclose(x, y, rel_tol=1e-9), (m, s)
            else:
                assert x == y, (m, s)


def test_time_travel_and_since(tmp_path):
    uri = _mk(tmp_path)
    _write(uri, 0, 400, seed=1, ts=10)
    _write(uri, 1000, 400, seed=2, ts=20)
    at10 = bucketed_agg_native(uri, 500, fields=["v"], at=10)
    assert sorted(at10["buckets"]) == [0]
    since20 = bucketed_agg_native(uri, 500, fields=["v"], since=15)
    assert sorted(since20["buckets"]) == [2]
    assert since20["buckets"][2]["count"] == 400
