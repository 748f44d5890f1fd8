"""Range-windowed metadata aggregation (windowed_agg_native): the
subarray form of the reference's group_by_handler aggregates
(mytile/ha_mytile.cc:607-715) on TileDB core's tile-stats design —
interior tiles answer from fragment metadata, only boundary tiles
decode.  Every number is pinned against a full range-read recompute;
the poison tests prove interior tiles are never opened."""

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
    windowed_agg_native,
)
from tiledb_mariadb_spark.sources.tiledb_native_write import (
    create_native_array,
    write_delete_condition,
    write_native_fragment,
)

from .native_model import range_rows


def _expected(uri, lo, hi, col, at=None, since=None):
    names, rows = range_rows(
        uri, [(lo, hi)], at=at, since=since
    )
    i = names.index(col)
    vals = [r[i] for r in rows]
    nn = [v for v in vals if v is not None]
    return {
        "rows": len(rows),
        "count": len(nn),
        "nulls": len(vals) - len(nn),
        "sum": (
            sum(nn) if nn and not isinstance(nn[0], str) else None
        ),
        "min": min(nn) if nn else None,
        "max": max(nn) if nn else None,
    }


def _mk(tmp_path, name="warr", capacity=100, **kw):
    uri = str(tmp_path / name)
    create_native_array(
        uri,
        dims=[NativeDim("k", 1, 1, (0, 10**8), None)],
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


def _write(uri, base, n, seed=0, ts=None):
    rng = random.Random(seed)
    ks = list(range(base, base + n))
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


def test_parity_fuzz_windows(tmp_path):
    """Randomized windows over 3 disjoint fragments: every stat equals
    the range-read recompute (ints exact, floats isclose)."""
    uri = _mk(tmp_path)
    for i, base in enumerate((0, 1500, 4000)):
        _write(uri, base, 900, seed=i)
    rng = random.Random(42)
    windows = [(0, 5000), (899, 900), (1500, 2399), (4500, 4500)]
    windows += [
        tuple(sorted((rng.randrange(0, 5200), rng.randrange(0, 5200))))
        for _ in range(12)
    ]
    for lo, hi in windows:
        res = windowed_agg_native(uri, {"k": (lo, hi)}, fields=["v", "f", "w"])
        assert res is not None
        for col in ("v", "w"):
            exp = _expected(uri, lo, hi, col)
            got = res["fields"][col]
            assert res["count"] == exp["rows"]
            assert got["count"] == exp["count"]
            assert got["sum"] == exp["sum"]
            assert got["min"] == exp["min"]
            assert got["max"] == exp["max"]
            if col == "w":
                assert got["null_count"] == exp["nulls"]
        expf = _expected(uri, lo, hi, "f")
        gotf = res["fields"]["f"]
        assert gotf["min"] == expf["min"] and gotf["max"] == expf["max"]
        if expf["sum"] is None:
            assert gotf["sum"] is None
        else:
            assert math.isclose(gotf["sum"], expf["sum"], rel_tol=1e-9)


def test_interior_fragments_never_decoded(tmp_path):
    """Fragments fully inside the window keep serving after their data
    files are POISONED — the metadata really answered."""
    uri = _mk(tmp_path)
    for i, base in enumerate((0, 1000, 2000, 3000)):
        _write(uri, base, 1000, seed=i)
    lo, hi = 950, 3049  # straddles frag0 and frag3; 1 & 2 interior
    # only stats the metadata can serve end-to-end: a nullable field's
    # min/max/sum would legitimately decode interior tiles (the writer
    # skips those stats when the fragment holds a NULL)
    res_before = windowed_agg_native(
        uri, {"k": (lo, hi)}, fields=["v"],
    )
    for frag in glob.glob(os.path.join(uri, "__fragments", "__*")):
        b = os.path.basename(frag)
        # fragment names embed [t1_t2]; interior = bases 1000,2000
        names, rows = range_rows(uri, None, frags=[frag])
        i = names.index("k")
        if min(r[i] for r in rows) in (1000, 2000):
            for f in os.listdir(frag):
                if f != "__fragment_metadata.tdb":
                    with open(os.path.join(frag, f), "wb") as fh:
                        fh.write(b"PoIsOn")
    res = windowed_agg_native(uri, {"k": (lo, hi)}, fields=["v"])
    assert res == res_before
    exp = _expected(uri, lo, 999, "v")  # frag0's window part (unpoisoned)
    assert res["count"] == 2100
    assert res["fields"]["v"]["count"] == 2100
    assert exp["rows"] == 50


def test_interior_tiles_never_decoded_audit(tmp_path):
    """Single fragment, window covering many interior tiles: only the
    two boundary tiles decode (audit-pinned)."""
    uri = _mk(tmp_path, capacity=100)
    _write(uri, 0, 5000, seed=9)
    res = windowed_agg_native(uri, {"k": (250, 4749)}, fields=["v"])
    a = res["audit"]
    assert a["tiles_total"] == 50
    assert a["tiles_contained"] == 44
    assert a["tiles_partial"] == 2
    assert a["tiles_skipped"] == 4
    # 2 boundary tiles x 100 dim cells + 2 x 50 matched attr cells
    assert a["cells_decoded"] == 300
    exp = _expected(uri, 250, 4749, "v")
    assert res["fields"]["v"]["sum"] == exp["sum"]


def test_counts_only_serves_null_bearing_and_string_fields(tmp_path):
    """stats=('count','null_count') answers from metadata even for the
    nullable and var-string fields whose min/max/sum would decode."""
    uri = _mk(tmp_path, capacity=100)
    _write(uri, 0, 3000, seed=3)
    res = windowed_agg_native(
        uri, {"k": (100, 2899)}, fields=["w", "tag"],
        stats=("count", "null_count"),
    )
    a = res["audit"]
    assert a["tiles_partial"] == 0  # window is tile-aligned
    assert a["cells_decoded"] == 0
    expw = _expected(uri, 100, 2899, "w")
    assert res["fields"]["w"]["count"] == expw["count"]
    assert res["fields"]["w"]["null_count"] == expw["nulls"]
    assert res["fields"]["tag"]["count"] == 2800
    assert res["fields"]["tag"]["sum"] is None  # not requested
    assert res["fields"]["tag"]["min"] is None


def test_string_minmax_decodes_exactly(tmp_path):
    """Var-string MIN/MAX has no tile stats — served by decode, equal to
    the read path's lexicographic extrema."""
    uri = _mk(tmp_path, capacity=100)
    _write(uri, 0, 1000, seed=5)
    res = windowed_agg_native(uri, {"k": (37, 612)}, fields=["tag"])
    exp = _expected(uri, 37, 612, "tag")
    got = res["fields"]["tag"]
    assert got["min"] == exp["min"] and got["max"] == exp["max"]
    assert got["count"] == exp["count"]
    assert got["sum"] is None  # strings never sum


def test_enum_labels_decode_not_ordinal_stats(tmp_path):
    """Enum attr min/max are LABEL extrema (decode), never raw-ordinal
    tile stats — ordinal order is not label order."""
    uri = str(tmp_path / "enum_arr")
    labels = ["zebra", "apple", "mango"]
    create_native_array(
        uri,
        dims=[NativeDim("k", 1, 1, (0, 10**6), None)],
        attrs=[NativeAttr("color", 6, 1, False, None,
                          enumeration="colors")],
        enumerations={"colors": labels},
        capacity=50,
    )
    write_native_fragment(
        uri,
        {"k": list(range(300)),
         "color": [i % 3 + 1 for i in range(300)]},  # 1-based ordinals
        version=20,
    )
    res = windowed_agg_native(uri, {"k": (10, 289)}, fields=["color"])
    exp = _expected(uri, 10, 289, "color")
    got = res["fields"]["color"]
    assert got["min"] == exp["min"] == "apple"
    assert got["max"] == exp["max"] == "zebra"
    assert got["sum"] is None


def test_deletes_return_none(tmp_path):
    uri = _mk(tmp_path)
    _write(uri, 0, 500, seed=1, ts=100)
    write_delete_condition(uri, [("v", ">", 0)], ts=200)
    assert windowed_agg_native(uri, {"k": (0, 499)}) is None
    # time travel BEFORE the delete: provable again
    res = windowed_agg_native(uri, {"k": (0, 499)}, at=150)
    assert res is not None and res["count"] == 500


def test_overlap_without_dups_returns_none(tmp_path):
    uri = _mk(tmp_path)
    _write(uri, 0, 500, seed=1)
    _write(uri, 250, 500, seed=2)  # overlapping NEDs, newest wins
    assert windowed_agg_native(uri, {"k": (0, 999)}) is None


def test_overlap_with_dups_sums_both(tmp_path):
    uri = _mk(tmp_path, name="dups", allows_dups=True)
    _write(uri, 0, 500, seed=1)
    _write(uri, 250, 500, seed=2)
    res = windowed_agg_native(uri, {"k": (0, 999)}, fields=["v"])
    exp = _expected(uri, 0, 999, "v")
    assert res["count"] == exp["rows"] == 1000
    assert res["fields"]["v"]["sum"] == exp["sum"]


def test_since_at_window(tmp_path):
    uri = _mk(tmp_path)
    _write(uri, 0, 300, seed=1, ts=1000)
    _write(uri, 300, 300, seed=2, ts=2000)
    _write(uri, 600, 300, seed=3, ts=3000)
    res = windowed_agg_native(
        uri, {"k": (0, 899)}, fields=["v"], since=1500, at=2500
    )
    exp = _expected(uri, 0, 899, "v", at=2500, since=1500)
    assert res["count"] == exp["rows"] == 300
    assert res["fields"]["v"]["sum"] == exp["sum"]


def test_dense_served_by_dense_twin(tmp_path):
    """Round 8: dense arrays no longer refuse — the dense twin answers
    from fragment stats + fill arithmetic (tests/test_dense_agg.py has
    the full matrix; this pins the delegation)."""
    uri = str(tmp_path / "dense")
    create_native_array(
        uri,
        dims=[NativeDim("i", 1, 1, (0, 99), 10)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
        array_type="DENSE",
    )
    write_native_fragment(
        uri, {"v": list(range(50))}, subarray=[(0, 49)], version=19
    )
    res = windowed_agg_native(uri, {"i": (0, 49)})
    assert res["count"] == 50
    assert res["fields"]["v"]["sum"] == sum(range(50))


def test_bad_inputs(tmp_path):
    uri = _mk(tmp_path)
    _write(uri, 0, 100, seed=1)
    with pytest.raises(ValueError, match="non-dimension"):
        windowed_agg_native(uri, {"v": (0, 1)})
    with pytest.raises(ValueError, match="unknown field"):
        windowed_agg_native(uri, {"k": (0, 1)}, fields=["nope"])


def test_empty_array_and_empty_window(tmp_path):
    uri = _mk(tmp_path)
    res = windowed_agg_native(uri, {"k": (0, 10)}, fields=["v"])
    assert res["count"] == 0
    assert res["fields"]["v"]["sum"] is None
    _write(uri, 0, 100, seed=1)
    res = windowed_agg_native(uri, {"k": (5000, 6000)}, fields=["v"])
    assert res["count"] == 0
    assert res["audit"]["cells_decoded"] == 0


def test_encrypted_array(tmp_path):
    from tiledb_mariadb_spark.sources.tiledb_native import open_encryption

    key = b"0123456789abcdef0123456789abcdef"
    uri = str(tmp_path / "enc")
    create_native_array(
        uri,
        dims=[NativeDim("k", 1, 1, (0, 10**6), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
        capacity=100,
        encryption_key=key,
    )
    write_native_fragment(
        uri,
        {"k": list(range(1000)), "v": [i * 3 for i in range(1000)]},
        version=19,
        encryption_key=key,
    )
    open_encryption(uri, key)
    res = windowed_agg_native(uri, {"k": (150, 849)}, fields=["v"])
    exp = _expected(uri, 150, 849, "v")
    assert res["count"] == exp["rows"] == 700
    got = res["fields"]["v"]
    assert (got["sum"], got["min"], got["max"]) == (
        exp["sum"], exp["min"], exp["max"],
    )
    assert res["audit"]["tiles_contained"] >= 5


@pytest.mark.skipif(
    shutil.which("javac") is None or shutil.which("jar") is None,
    reason="needs a JDK (javac + jar) to build the shim",
)
def test_sql_windowed_stats_surface(spark, tmp_path):
    """WHERE dim BETWEEN over format('tiledb_agg'): metadata-served
    when provable, a scan under deletes — identical numbers, each
    pinned against a full range-read recompute."""
    from tiledb_mariadb_spark.sources.jvm_agg import (
        agg_reader,
        scan_descriptions,
    )

    uri = _mk(tmp_path, capacity=100)
    for i, base in enumerate((0, 1000, 2000)):
        _write(uri, base, 1000, seed=i)
    agg_reader(spark, uri).load().createOrReplaceTempView("wstats")
    q = (
        "SELECT COUNT(*) AS n, SUM(v) AS sv, MIN(v) AS mnv, "
        "MAX(v) AS mxv, MIN(k) AS mnk, MAX(k) AS mxk, COUNT(w) AS cw, "
        "MIN(tag) AS mnt, MAX(tag) AS mxt FROM wstats "
        "WHERE k BETWEEN 150 AND 2849"
    )
    plan = " ".join(scan_descriptions(spark.sql(q)))
    assert "MetadataAggScan" in plan, plan
    md = spark.sql(q).collect()[0]
    exp = _expected(uri, 150, 2849, "v")
    expw = _expected(uri, 150, 2849, "w")
    expt = _expected(uri, 150, 2849, "tag")
    assert tuple(md) == (
        exp["rows"], exp["sum"], exp["min"], exp["max"], 150, 2849,
        expw["count"], expt["min"], expt["max"],
    )
    assert md.n == 2700 and md.cw == md.n - expw["nulls"]

    # a delete makes metadata unprovable -> scan, same numbers
    write_delete_condition(uri, [("v", ">", 10**9)], ts=None)
    plan2 = " ".join(scan_descriptions(spark.sql(q)))
    assert "MetadataAggScan" not in plan2, plan2
    assert spark.sql(q).collect()[0] == md
