"""The columnar range reader against a reference model.

`read_native_array_range_np` must return exactly the rows
`tests/native_model.ArrayModel` computes from the written inputs — same
rows, same order, same values — across overlapping fragments
(newest-wins), allows_dups, time travel, ranges, projections,
stats-refutation skips, deletes, dense fills and evolution fills, for
every field shape the format holds.
"""

import random
import struct

import numpy as np
import pytest

from tiledb_mariadb_spark.sources.tiledb_native import (
    NativeAttr,
    NativeDim,
    read_native_array,
    read_native_array_range_np,
)

from .native_model import ArrayModel, boolean, char, enum, range_rows

VAR = 0xFFFFFFFF


@pytest.mark.parametrize("seed", range(8))
def test_random_fragments_parity(tmp_path, seed):
    rng = random.Random(seed)
    m = ArrayModel(
        str(tmp_path / f"a{seed}"),
        [NativeDim("k", 1, 1, (0, 100000), None)],
        [
            NativeAttr("v", 3, 1, False, None),
            NativeAttr("w", 7, 1, False, None),  # int16
        ],
        allows_dups=rng.random() < 0.4,
        capacity=64,
    )
    for ts in (100, 200, 300):
        keys = sorted(rng.sample(range(0, 2000), rng.randint(1, 400)))
        m.write(
            {"k": keys, "v": [kk * 0.5 for kk in keys],
             "w": [kk % 1000 for kk in keys]},
            ts=ts, version=rng.choice([5, 19]),
        )
    m.check()
    m.check(ranges=[(50, 1500)])
    m.check(ranges=[(None, 700)], columns=["w"])
    m.check(at=250)  # time travel: first two fragments only
    m.check(since=200)  # window: last two fragments only
    # stats refutation as a skip proof (v19 fragments prune, v5 decode)
    m.check(prune_conditions=[("w", ">", 10)])
    m.check(ranges=[(50000, 60000)])  # empty result window
    # typed columns for non-nullable scalars
    _n, cols = read_native_array_range_np(m.dir)
    assert cols["v"].dtype == np.float64 and cols["w"].dtype == np.int16


def test_evolution_fill_parity(tmp_path):
    m = ArrayModel(
        str(tmp_path / "evo"), [NativeDim("k", 1, 1, (0, 1000), None)],
        [NativeAttr("v", 1, 1, False, None)],
    )
    m.write({"k": [1, 2, 3], "v": [10, 20, 30]}, ts=100)
    m.evolve(
        [NativeAttr("z", 1, 1, False, struct.pack("<q", -7))],
        fills={"z": -7},
    )
    m.write({"k": [5], "v": [50], "z": [500]}, ts=200)
    m.check()
    m.check(ranges=[(1, 3)])


def test_invalid_utf8_reads_as_replacement(tmp_path):
    """Text bytes that are not valid UTF-8 — fixed CHAR(k) and var —
    decode per cell with errors='replace'; the valid cells beside them
    keep their exact text."""
    m = ArrayModel(
        str(tmp_path / "bad"), [NativeDim("k", 1, 1, (0, 100), None)],
        [NativeAttr("c", 4, 8, False, None),      # CHAR(8)
         NativeAttr("s", 12, VAR, False, None)],  # var UTF-8
        norm={"c": char(8), "s": lambda b: b.decode("utf-8", "replace")},
    )
    m.write(
        {"k": [1, 2], "c": [b"\xff\xfe", "ok"],
         "s": [b"a\xc3(b", "fine".encode()]},
        ts=100,
    )
    m.check()
    _n, rows = range_rows(m.dir)
    assert "�" in rows[0][1] and "�" in rows[0][2]
    assert rows[1][1:] == ("ok" + "\0" * 6, "fine")


@pytest.mark.parametrize("seed", range(4))
def test_fixed_char_parity(tmp_path, seed):
    """Fixed-width CHAR(k) attrs read as object strings including
    trailing NUL padding (why numpy's S dtype was rejected) and
    multibyte cells, across fragments / ranges / projections / nullable
    validity / time travel / deletes."""
    rng = random.Random(9000 + seed)
    m = ArrayModel(
        str(tmp_path / f"fc{seed}"),
        [NativeDim("k", 1, 1, (0, 100000), None)],
        [
            NativeAttr("c", 4, 8, False, None),       # CHAR(8)
            NativeAttr("u", 12, 6, False, None),      # UTF8(6)
            NativeAttr("one", 11, 1, False, None),    # ASCII CHAR(1)
            NativeAttr("nc", 4, 4, True, None),       # nullable CHAR(4)
            NativeAttr("v", 1, 1, False, None),
        ],
        norm={"c": char(8), "u": char(6), "nc": char(4)},
        capacity=64,
    )
    pool = ["", "a", "ab", "abc", "xyzw", "éé", "日本", "padded\x00x"]
    for ts in (100, 200, 300):
        ks = sorted(rng.sample(range(0, 800), rng.randint(20, 200)))
        m.write(
            {
                "k": ks,
                "c": [rng.choice(pool) for _ in ks],
                "u": [rng.choice(pool[:6]) for _ in ks],
                "one": [rng.choice("abcxyz") for _ in ks],
                "nc": [None if kk % 5 == 0 else "ab" for kk in ks],
                "v": [kk * 2 for kk in ks],
            },
            ts=ts, version=rng.choice([5, 19]),
        )
    m.check()
    m.check(ranges=[(50, 600)])
    m.check(columns=["c", "one"])
    m.check(at=250)
    m.delete([("one", "=", "a")], ts=400)
    m.check()


def test_fixed_char_dense_parity(tmp_path):
    """Dense arrays with fixed-CHAR attrs: same object-string decode,
    fills for unwritten cells, unaligned overlay."""
    m = ArrayModel(
        str(tmp_path / "fcd"), [NativeDim("x", 1, 1, (0, 19), 5)],
        [NativeAttr("c", 4, 4, False, None)],
        norm={"c": char(4)}, array_type="DENSE",
    )
    m.write({"c": [f"r{i:02d}" for i in range(10)]},
            ts=10, subarray=[(0, 9)], version=19)
    m.write({"c": ["zz" for _ in range(5)]},
            ts=20, subarray=[(8, 12)], version=19)
    m.check()
    m.check(ranges=[(5, 11)])


def test_blob_dim_parity(tmp_path):
    """Var-BINARY (BLOB) DIMENSIONS: bytes keys, lexicographic bytes
    order, newest-wins dedup, bytes range bounds."""
    m = ArrayModel(
        str(tmp_path / "bdim"), [NativeDim("g", 39, VAR, None, None)],
        [NativeAttr("v", 1, 1, False, None)], capacity=32,
    )
    rng = random.Random(17)
    universe = [bytes([i, i ^ 0x5A, i % 7]) for i in range(200)]
    for ts in (100, 200):
        keys = sorted(rng.sample(universe, 80))
        m.write({"g": keys, "v": [k[0] * ts for k in keys]},
                ts=ts, version=19)
    m.check()
    m.check(ranges=[(bytes([20]), bytes([150]))])
    m.check(at=150)


def test_bool_attr_parity(tmp_path):
    """BOOL attrs read as 0/1 integers — including nullable bools and
    bool delete conditions."""
    m = ArrayModel(
        str(tmp_path / "ba"), [NativeDim("k", 1, 1, (0, 1000), None)],
        [NativeAttr("flag", 40, 1, False, None),
         NativeAttr("opt", 40, 1, True, None)],
        norm={"flag": boolean, "opt": boolean},
    )
    m.write(
        {"k": list(range(50)), "flag": [i % 2 for i in range(50)],
         "opt": [None if i % 7 == 0 else i % 3 == 0 for i in range(50)]},
        ts=100, version=19,
    )
    m.check()
    m.check(ranges=[(10, 30)], columns=["flag"])
    m.delete([("flag", "=", 1)], ts=200)
    m.check()


@pytest.mark.parametrize("seed", range(4))
def test_string_dim_parity(tmp_path, seed):
    """Var-UTF-8 DIMENSIONS (string-keyed tables, t/string_dim.test):
    lexicographic merge order, newest-wins dedup on string keys, range
    masks with string bounds."""
    rng = random.Random(5000 + seed)
    m = ArrayModel(
        str(tmp_path / f"sd{seed}"),
        [NativeDim("doc_id", 12, VAR, None, None)],
        [NativeAttr("v", 1, 1, False, None),
         NativeAttr("s", 12, VAR, False, None)],
        capacity=32,
    )
    universe = [f"doc-{i:05d}" for i in range(400)]
    for ts in (100, 200, 300):
        keys = sorted(rng.sample(universe, rng.randint(1, 120)))
        m.write(
            {"doc_id": keys, "v": [int(k[4:]) * ts for k in keys],
             "s": [k[::-1] for k in keys]},
            ts=ts, version=rng.choice([5, 19]),
        )
    m.check()
    m.check(ranges=[("doc-00050", "doc-00250")])
    m.check(ranges=[(None, "doc-00199")], columns=["v"])
    m.check(at=250)


def test_string_dim_2d_parity(tmp_path):
    """Mixed string + numeric dims: per-position lexicographic order
    (string primary, int secondary)."""
    m = ArrayModel(
        str(tmp_path / "sd2"),
        [NativeDim("lang", 12, VAR, None, None),
         NativeDim("n", 1, 1, (0, 1000), None)],
        [NativeAttr("v", 3, 1, False, None)], capacity=16,
    )
    rng = random.Random(11)
    for ts in (100, 200):
        pts = sorted(
            {(rng.choice(["de", "en", "fr", "ja"]), rng.randint(0, 50))
             for _ in range(60)}
        )
        m.write(
            {"lang": [p[0] for p in pts], "n": [p[1] for p in pts],
             "v": [p[1] * 0.5 for p in pts]},
            ts=ts, version=19,
        )
    m.check()
    m.check(ranges=[("en", "fr"), (10, 40)])
    m.check(ranges=[(None, None), (None, 25)], columns=["v"])


def test_encrypted_parity(tmp_path):
    """Encrypted arrays decrypt through the per-chunk GCM layer
    (read_byte_span consults the key registry)."""
    from tiledb_mariadb_spark.sources import tiledb_native_crypto as crypto

    m = ArrayModel(
        str(tmp_path / "enc"), [NativeDim("k", 1, 1, (0, 10000), None)],
        [NativeAttr("v", 3, 1, False, None)],
        compressor="zstd", encryption_key=b"p" * 32,
    )
    try:
        m.write({"k": list(range(500)), "v": [i * 0.25 for i in range(500)]},
                ts=100, version=19)
        m.write({"k": [5, 7], "v": [9.0, 9.0]}, ts=200, version=19)
        m.check()
        m.check(ranges=[(3, 9)])
    finally:
        crypto._KEYS.clear()


@pytest.mark.parametrize("seed", range(4))
def test_var_string_parity(tmp_path, seed):
    """Var-UTF-8 attrs across fragments, overwrites, multibyte text,
    empty strings, ranges and projections."""
    rng = random.Random(1000 + seed)
    m = ArrayModel(
        str(tmp_path / f"vs{seed}"),
        [NativeDim("k", 1, 1, (0, 100000), None)],
        [NativeAttr("s", 12, VAR, False, None),
         NativeAttr("v", 1, 1, False, None)],
        capacity=32, compressor="zstd",
    )
    alphabet = ["", "a", "héllo", "日本語テキスト", "x" * 500, "mid"]
    for ts in (100, 200):
        keys = sorted(rng.sample(range(0, 1500), rng.randint(1, 300)))
        m.write(
            {"k": keys,
             "s": [alphabet[kk % len(alphabet)] + str(kk) for kk in keys],
             "v": list(keys)},
            ts=ts, version=rng.choice([5, 19]),
        )
    m.check()
    m.check(ranges=[(40, 900)])
    m.check(ranges=[(None, 500)], columns=["s"])
    m.check(at=150)


@pytest.mark.parametrize("codec", [13, 14, 15, 16])
def test_utf16_utf32_parity(tmp_path, codec):
    """STRING_UTF16/UTF32/UCS2/UCS4 attrs (dtypes 13-16), var and
    fixed, sparse and dense: decoded with their codec, fixed cells
    keep their NUL padding, nullable cells read NULL."""
    py = {13: "utf-16-le", 14: "utf-32-le", 15: "utf-16-le",
          16: "utf-32-le"}[codec]
    unit = 2 if codec in (13, 15) else 4
    texts = ["", "a", "héllo", "日本語", "x" * 40, "zz"]

    def fixed(v):
        return None if v is None else v.encode(py).ljust(3 * unit, b"\0"
                                                         ).decode(py)

    m = ArrayModel(
        str(tmp_path / "sp"), [NativeDim("k", 1, 1, (0, 1000), None)],
        [NativeAttr("s", codec, VAR, False, None),
         NativeAttr("n", codec, VAR, True, None),
         NativeAttr("f", codec, 3, False, None)],  # 3 code units
        norm={"f": fixed}, capacity=16,
    )
    for ts in (100, 200):
        ks = list(range(ts // 100, 60, 2))
        m.write(
            {"k": ks, "s": [texts[kk % 6] + str(ts) for kk in ks],
             "n": [None if kk % 3 == 0 else texts[kk % 5] for kk in ks],
             "f": [texts[kk % 4][:1] + "é" for kk in ks]},
            ts=ts, version=19,
        )
    m.check()
    m.check(ranges=[(10, 40)], columns=["s"])
    m.check(at=150)
    d = ArrayModel(
        str(tmp_path / "dn"), [NativeDim("x", 1, 1, (0, 19), 5)],
        [NativeAttr("s", codec, VAR, False, None)],
        fills={"s": ""}, array_type="DENSE",
    )
    d.write({"s": [texts[i % 6] for i in range(5)]}, ts=10,
            subarray=[(5, 9)], version=19)
    d.write({"s": ["日" * i for i in range(5)]}, ts=20,
            subarray=[(15, 19)], version=19)
    d.check()
    d.check(ranges=[(7, 16)])


def test_geom_wkt_parity(tmp_path):
    """Var GEOM_WKT attrs (dtype 42) read as UTF-8 text."""
    m = ArrayModel(
        str(tmp_path / "wkt"), [NativeDim("k", 1, 1, (0, 1000), None)],
        [NativeAttr("g", 42, VAR, False, None)],
    )
    shapes = [f"POINT ({i} {i * 2})" for i in range(30)]
    m.write({"k": list(range(30)), "g": shapes}, ts=100, version=19)
    m.write({"k": [3, 40], "g": ["LINESTRING (0 0, 1 1)", "POINT (9 9)"]},
            ts=200, version=19)
    m.check()
    m.check(ranges=[(2, 5)])


@pytest.mark.parametrize("order", ["ROW_MAJOR", "COL_MAJOR", "HILBERT"])
def test_multidim_parity(tmp_path, order):
    """2-D arrays in every cell order: the composite-key dedup keeps
    sorted-coordinate output, including cross-fragment overwrites at
    identical (x, y)."""
    rng = random.Random(7)
    m = ArrayModel(
        str(tmp_path / f"md_{order}"),
        [NativeDim("x", 1, 1, (0, 1000), 10),
         NativeDim("y", 1, 1, (0, 1000), 10)],
        [NativeAttr("v", 3, 1, False, None)],
        capacity=32, cell_order=order,
    )
    for ts in (100, 200):
        pts = set()
        while len(pts) < 150:
            pts.add((rng.randint(0, 300), rng.randint(0, 300)))
        pts = sorted(pts)
        m.write(
            {"x": [p[0] for p in pts], "y": [p[1] for p in pts],
             "v": [p[0] * 0.5 + p[1] for p in pts]},
            ts=ts, version=19,
        )
    m.check()
    m.check(ranges=[(10, 200), (None, None)])
    m.check(ranges=[(10, 200), (50, 250)])
    m.check(columns=["v"], ranges=[(None, None), (0, 100)])
    m.check(ranges=[(900, 999), (None, None)])  # empty window


@pytest.mark.parametrize("seed", range(4))
def test_nullable_parity(tmp_path, seed):
    """Nullable scalar AND var-string attrs: validity tiles mask to
    python None (never NaN) across overwrites, ranges and projections."""
    rng = random.Random(2000 + seed)
    m = ArrayModel(
        str(tmp_path / f"nl{seed}"),
        [NativeDim("k", 1, 1, (0, 100000), None)],
        [
            NativeAttr("v", 3, 1, True, None),     # nullable f64
            NativeAttr("s", 12, VAR, True, None),  # nullable str
            NativeAttr("w", 1, 1, False, None),    # plain i64
        ],
        capacity=48,
    )
    for ts in (100, 200):
        keys = sorted(rng.sample(range(0, 1500), rng.randint(1, 300)))
        m.write(
            {"k": keys,
             "v": [None if kk % 5 == 0 else kk * 0.5 for kk in keys],
             "s": [None if kk % 7 == 0 else f"s{kk}" for kk in keys],
             "w": list(keys)},
            ts=ts, version=rng.choice([5, 19]),
        )
    m.check()
    m.check(ranges=[(30, 1200)])
    m.check(columns=["v", "s"])
    m.check(at=150)


def test_enum_parity(tmp_path):
    """Applied enumerations map ordinals -> labels, including the
    0='' convention and NULL cells."""
    labels = ["red", "green", "blue"]
    m = ArrayModel(
        str(tmp_path / "enum"), [NativeDim("k", 1, 1, (0, 1000), None)],
        [NativeAttr("c", 6, 1, False, None, enumeration="colors"),
         NativeAttr("n", 6, 1, True, None, enumeration="colors")],
        enumerations={"colors": labels},
        norm={"c": enum(labels), "n": enum(labels)},
    )
    m.write(
        {"k": [1, 2, 3, 4], "c": ["red", "blue", 2, ""],
         "n": [None, "green", None, "red"]},
        ts=100, version=19,
    )
    m.write({"k": [2], "c": ["green"], "n": [None]}, ts=200, version=19)
    m.check()
    m.check(ranges=[(2, 4)], columns=["c"])
    m.check(columns=["n"])


def test_datetime_ticks_parity(tmp_path):
    """DATETIME dims/attrs are raw int64 ticks (rendering belongs to
    callers)."""
    m = ArrayModel(
        str(tmp_path / "dt"), [NativeDim("ts", 24, 1, (0, 10**9), None)],
        [NativeAttr("ms", 25, 1, False, None),   # DATETIME_MS
         NativeAttr("day", 21, 1, True, None)],  # DATETIME_DAY null
    )
    m.write({"ts": [100, 200, 300], "ms": [1000, 2000, 3000],
             "day": [None, 14, 15]}, ts=100, version=19)
    m.check()
    m.check(ranges=[(150, 400)])


@pytest.mark.parametrize("seed", range(10))
def test_delete_parity(tmp_path, seed):
    """Visible .del commits: (col, op, value) AND-lists applied after
    the merge, writer-ts gated, NULL-safe — randomized fragments and
    predicates, deletes on projection-dropped attrs, ts-gated
    re-inserts."""
    rng = random.Random(1000 + seed)
    m = ArrayModel(
        str(tmp_path / f"del{seed}"),
        [NativeDim("k", 1, 1, (0, 100000), None)],
        [
            NativeAttr("v", 3, 1, False, None),     # float64
            NativeAttr("w", 1, 1, True, None),      # int64 nullable
            NativeAttr("s", 12, VAR, False, None),  # var UTF-8
        ],
        allows_dups=rng.random() < 0.3, capacity=64,
    )
    for ts in (100, 200, 300, 400):
        keys = sorted(rng.sample(range(0, 1500), rng.randint(1, 300)))
        m.write(
            {"k": keys, "v": [kk * 0.25 for kk in keys],
             "w": [None if kk % 7 == 0 else kk % 50 for kk in keys],
             "s": [f"s{kk % 9}" for kk in keys]},
            ts=ts, version=rng.choice([5, 19]),
        )
    ops = ["=", "!=", "<", "<=", ">", ">="]
    for dts in rng.sample([150, 250, 350, 450], rng.randint(1, 3)):
        conds = []
        for _ in range(rng.randint(1, 2)):
            which = rng.random()
            if which < 0.25:
                conds.append(("w", rng.choice(["is_null", "is_not_null"])))
            elif which < 0.5:
                conds.append(
                    ("s", rng.choice(["=", "!="]), f"s{rng.randint(0, 9)}")
                )
            elif which < 0.75:
                conds.append(("v", rng.choice(ops), rng.uniform(0, 400)))
            else:
                conds.append(("k", rng.choice(ops), rng.randint(0, 1500)))
        m.delete(conds, ts=dts)
    m.check()
    m.check(ranges=[(50, 1200)])
    # deletes referencing attrs the projection dropped still apply
    m.check(columns=["v"])
    m.check(columns=["s"], ranges=[(None, 900)])
    m.check(at=320)  # time travel: only deletes visible at 320


def test_delete_on_dropped_column_reads_null(tmp_path):
    """A delete whose condition names a column the schema no longer has
    (dropped by evolution) reads that column as NULL: is_null matches
    every older cell, a value comparison matches none."""
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        evolve_native_schema,
        write_delete_condition,
        write_native_fragment,
    )

    m = ArrayModel(
        str(tmp_path / "drop"), [NativeDim("k", 1, 1, (0, 100), None)],
        [NativeAttr("v", 1, 1, False, None),
         NativeAttr("gone", 1, 1, False, None)],
    )
    write_native_fragment(m.dir, {"k": [1, 2], "v": [1, 2], "gone": [5, 6]},
                          ts=100, version=5)
    write_delete_condition(m.dir, [("gone", "=", 5)], ts=150)
    write_delete_condition(m.dir, [("gone", "is_null")], ts=160)
    write_native_fragment(m.dir, {"k": [3], "v": [3], "gone": [7]},
                          ts=170, version=5)
    evolve_native_schema(m.dir, drop_attrs=["gone"])
    assert range_rows(m.dir) == (["k", "v"], [(3, 3)])
    assert range_rows(m.dir, at=155) == (["k", "v"], [(1, 1), (2, 2)])


def _torn_pair(tmp_path):
    """A 100-cell array and the fragment of a 1-cell twin whose files
    stand in for torn ones."""
    import glob
    import os

    def make(name, n):
        m = ArrayModel(
            str(tmp_path / name), [NativeDim("k", 1, 1, (0, 1000), None)],
            [NativeAttr("v", 1, 1, False, None),
             NativeAttr("s", 12, VAR, False, None)],
        )
        m.write({"k": list(range(n)), "v": list(range(n)),
                 "s": [str(i) for i in range(n)]}, ts=100, version=19)
        return m, glob.glob(os.path.join(m.dir, "__fragments", "*"))[0]

    m, frag = make("torn", 100)
    _short, short_frag = make("short", 1)
    return m, frag, short_frag


def test_torn_files_raise(tmp_path):
    """A data file with fewer cells than the fragment's coordinates
    raises ValueError, fixed or var; a missing dim file raises
    FileNotFoundError."""
    import os

    m, frag, short_frag = _torn_pair(tmp_path)
    for f in ("a0.tdb", "a1_var.tdb"):
        p = os.path.join(frag, f)
        keep = open(p, "rb").read()
        open(p, "wb").write(open(os.path.join(short_frag, f), "rb").read())
        with pytest.raises(ValueError):
            read_native_array_range_np(m.dir)
        with pytest.raises(ValueError):
            read_native_array(m.dir)
        open(p, "wb").write(keep)
    m.check()
    os.remove(os.path.join(frag, "d0.tdb"))
    with pytest.raises(FileNotFoundError):
        read_native_array_range_np(m.dir)


def test_exotic_shapes_through_read_array(tmp_path, spark):
    """The shapes that once had a second reader — UTF-16/UTF-32 var and
    fixed text, GEOM_WKT, invalid UTF-8 — read the model's rows through
    the Spark data source too, and a torn file fails the scan with the
    decoder's ValueError."""
    import os

    from tiledb_mariadb_spark.sources.tiledb_array import read_array

    m = ArrayModel(
        str(tmp_path / "exotic"), [NativeDim("k", 1, 1, (0, 1000), None)],
        [NativeAttr("u16", 13, VAR, True, None),
         NativeAttr("u32", 14, 2, False, None),  # 2 code units
         NativeAttr("wkt", 42, VAR, False, None),
         NativeAttr("bad", 4, 3, False, None)],
        norm={
            "u32": lambda v: v.encode("utf-32-le").ljust(8, b"\0")
            .decode("utf-32-le"),
            "bad": char(3),
        },
    )
    m.write(
        {"k": [1, 2, 3], "u16": ["日本語", None, "é"],
         "u32": ["ab", "x", "日"],
         "wkt": ["POINT (1 2)", "POINT (3 4)", "LINESTRING (0 0, 1 1)"],
         "bad": [b"\xff\xfe", "ok", b"a\xc3"]},
        ts=100, version=19,
    )
    m.check()
    df = read_array(spark, m.dir)
    got = sorted(tuple(r) for r in df.select(*m.read()[0]).collect())
    assert got == m.read()[1]
    _t, frag, short_frag = _torn_pair(tmp_path)
    p = os.path.join(frag, "a0.tdb")
    open(p, "wb").write(open(os.path.join(short_frag, "a0.tdb"), "rb").read())
    with pytest.raises(Exception, match="ValueError"):
        read_array(spark, _t.dir).collect()


def test_native_to_dataframe_reads_columns(tmp_path, spark):
    """Discovery ships the decoded columns under the schema-derived
    types: exact nullable big ints, array<float> cells, UTF-16 text and
    enumeration labels."""
    from tiledb_mariadb_spark.sources.tiledb_native import (
        native_to_dataframe,
    )

    labels = ["red", "green"]
    m = ArrayModel(
        str(tmp_path / "disc"), [NativeDim("k", 1, 1, (0, 100), None)],
        [NativeAttr("big", 1, 1, True, None),
         NativeAttr("vec", 2, 4, False, None),
         NativeAttr("s", 13, VAR, False, None),
         NativeAttr("c", 6, 1, False, None, enumeration="colors")],
        enumerations={"colors": labels}, norm={"c": enum(labels)},
    )
    m.write({"k": [1, 2, 3], "big": [2**53 + 1, None, -5],
             "vec": [[1.0, 2.0, 3.0, 4.5]] * 3, "s": ["日本", "", "x"],
             "c": ["red", "green", 0]}, ts=100, version=19)
    df = native_to_dataframe(spark, m.dir)
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "bigint", "bigint", "array<float>", "string", "string"
    ]
    got = sorted(
        tuple(list(v) if isinstance(v, list) else v for v in r)
        for r in df.collect()
    )
    assert got == m.read()[1]


@pytest.mark.parametrize("seed", range(6))
def test_dense_parity(tmp_path, seed):
    """DENSE arrays: generated coordinates, oldest -> newest scatter
    (newest-wins), gaps materialize fills.  Randomized extents (incl.
    space-tiled global order), v5+v19 fragments, tile-aligned subarray
    overwrites, ranges, projections and time travel."""
    rng = random.Random(seed)
    ext1 = rng.choice([None, 4, 10])
    ext2 = rng.choice([None, 5, 10])
    m = ArrayModel(
        str(tmp_path / f"dp{seed}"),
        [NativeDim("x", 1, 1, (0, 9), ext1),
         NativeDim("y", 1, 1, (0, 9), ext2)],
        [NativeAttr("v", 1, 1, False, None),
         NativeAttr("f", 3, 1, False, None)],
        array_type="DENSE",
    )
    vals = [x * 100 + y for x in range(10) for y in range(10)]
    m.write({"v": vals, "f": [v * 0.5 for v in vals]}, ts=100,
            version=rng.choice([5, 19]))
    ts = 200
    for _ in range(rng.randint(0, 2)):
        e1, e2 = ext1 or 10, ext2 or 10
        x0 = rng.randrange(0, 10, e1)
        x1 = min(9, x0 + e1 * rng.randint(1, 2) - 1)
        y0 = rng.randrange(0, 10, e2)
        y1 = min(9, y0 + e2 * rng.randint(1, 2) - 1)
        nn = (x1 - x0 + 1) * (y1 - y0 + 1)
        m.write({"v": [ts] * nn, "f": [float(ts)] * nn}, ts=ts,
                version=rng.choice([5, 19]), subarray=[(x0, x1), (y0, y1)])
        ts += 100
    m.check()
    m.check(ranges=[(2, 7), (None, None)])
    m.check(ranges=[(None, None), (3, 8)])
    m.check(ranges=[(2, 7), (3, 8)])
    m.check(columns=["f"])
    m.check(ranges=[(4, 4), (5, 5)], columns=["v"])
    m.check(at=150)


def test_dense_enum_gap_reads_fill_label(tmp_path):
    """Gap cells of an ENUMERATED dense attr read as the fill ordinal's
    label, like every other cell of the label column."""
    labels = ["red", "green", "blue"]
    m = ArrayModel(
        str(tmp_path / "denum"), [NativeDim("x", 1, 1, (0, 19), 5)],
        [NativeAttr("c", 6, 1, False, None, enumeration="colors")],
        enumerations={"colors": labels}, array_type="DENSE",
        fills={"c": ""}, norm={"c": enum(labels)},
    )
    m.write({"c": ["red"] * 5}, ts=10, subarray=[(0, 4)], version=19)
    m.write({"c": ["blue", 2, 0, 1, 3]}, ts=20, subarray=[(10, 14)],
            version=19)
    m.check()
    m.check(ranges=[(3, 11)])


def test_dense_fill_parity(tmp_path):
    """Disjoint subarray fragments: the bounding box materializes FILL
    values between them, window reads included."""
    m = ArrayModel(
        str(tmp_path / "dfill"), [NativeDim("x", 1, 1, (0, 19), 5)],
        [NativeAttr("v", 3, 1, False, None)],
        fills={"v": 0.0}, array_type="DENSE",
    )
    m.write({"v": [1.5] * 5}, ts=100, version=19, subarray=[(5, 9)])
    m.write({"v": [2.5] * 5}, ts=200, version=19, subarray=[(15, 19)])
    m.check()                  # bbox 5..19, fills at 10..14
    m.check(ranges=[(7, 16)])
    m.check(ranges=[(0, 3)])    # empty window
    m.check(ranges=[(10, 13)])  # all fills


@pytest.mark.parametrize("seed", range(4))
def test_multivalue_fixed_parity(tmp_path, seed):
    """Fixed multi-value numeric cells (the vector-store embedding
    shape, float32 x D) read as python lists.  Overwrites, ranges,
    projections, evolved-in fills."""
    rng = random.Random(3000 + seed)
    m = ArrayModel(
        str(tmp_path / f"mv{seed}"),
        [NativeDim("k", 1, 1, (0, 100000), None)],
        [
            NativeAttr("emb", 2, 8, False, None),   # float32 x 8
            NativeAttr("pair", 1, 2, False, None),  # int64 x 2
            NativeAttr("v", 3, 1, False, None),     # scalar alongside
        ],
        capacity=32, compressor="zstd",
    )
    for ts in (100, 200):
        keys = sorted(rng.sample(range(0, 800), rng.randint(1, 200)))
        m.write(
            {"k": keys,
             "emb": [[float(kk % 7 + j) for j in range(8)] for kk in keys],
             "pair": [[kk, kk * 2] for kk in keys],
             "v": [kk * 0.5 for kk in keys]},
            ts=ts,
            version=5,  # evolution below refuses v10+ fragments
        )
    m.check()
    m.check(ranges=[(40, 600)])
    m.check(columns=["emb"])
    m.check(at=150)
    # evolved-in multi-value attr: fills on the old fragments
    m.evolve(
        [NativeAttr("ev", 1, 2, False, struct.pack("<qq", -1, -2))],
        fills={"ev": [-1, -2]},
    )
    m.write({"k": [900], "emb": [[0.0] * 8], "pair": [[9, 18]],
             "v": [1.0], "ev": [[5, 6]]}, ts=300, version=5)
    m.check()


def test_multivalue_dense_parity(tmp_path):
    """Dense + fixed multi-value: generated coordinates with list
    cells, fills between subarray fragments."""
    m = ArrayModel(
        str(tmp_path / "mvd"), [NativeDim("x", 1, 1, (0, 19), 5)],
        [NativeAttr("vec", 2, 4, False,
                    struct.pack("<4f", -1.0, -1.0, -1.0, -1.0))],
        fills={"vec": [-1.0] * 4}, array_type="DENSE",
    )
    m.write({"vec": [[float(i), i + 0.5, 0.0, 1.0] for i in range(5)]},
            ts=100, version=19, subarray=[(5, 9)])
    m.write({"vec": [[9.0, 9.0, 9.0, 9.0]] * 5},
            ts=200, version=19, subarray=[(15, 19)])
    m.check()
    m.check(ranges=[(7, 16)])


def test_var_numeric_parity(tmp_path):
    """Var-length numeric cells read as python lists of their values."""
    m = ArrayModel(
        str(tmp_path / "vn"), [NativeDim("k", 1, 1, (0, 100), None)],
        [NativeAttr("xs", 0, VAR, False, None),
         NativeAttr("fs", 3, VAR, True, None)],
    )
    m.write({"k": [1, 2, 3], "xs": [[1, 2, 3], [], [-7]],
             "fs": [[0.5], None, [1.5, 2.5]]}, ts=100, version=19)
    m.write({"k": [2], "xs": [[9, 9]], "fs": [[]]}, ts=200, version=19)
    m.check()
    m.check(ranges=[(2, 3)], columns=["fs"])


@pytest.mark.parametrize("seed", range(3))
def test_nullable_multivalue_parity(tmp_path, seed):
    """Nullable fixed multi-value cells: the validity tile masks WHOLE
    cells to None."""
    rng = random.Random(4000 + seed)
    m = ArrayModel(
        str(tmp_path / f"nmv{seed}"),
        [NativeDim("k", 1, 1, (0, 100000), None)],
        [NativeAttr("vec", 2, 4, True, None)],  # float32 x 4, NULLABLE
        capacity=32,
    )
    for ts in (100, 200):
        keys = sorted(rng.sample(range(0, 600), rng.randint(1, 150)))
        m.write(
            {"k": keys,
             "vec": [None if kk % 5 == 0 else [float(kk), kk + 0.5, 0.0, 1.0]
                     for kk in keys]},
            ts=ts, version=rng.choice([5, 19]),
        )
    m.check()
    m.check(ranges=[(30, 450)])
    m.check(at=150)


def test_zipped_coords_parity():
    """Legacy (pre-2.0) zipped __coords.tdb fragments — the reference's
    own 1.6 quickstart fixture — de-interleave into dim columns; ranges
    and projections agree with the full read."""
    import os

    from tiledb_mariadb_spark.reference_fixtures import TILEDB_ARRAYS

    d = f"{TILEDB_ARRAYS}/1.6/quickstart_sparse"
    if not os.path.isdir(d):
        pytest.skip(f"reference fixture not present: {d}")
    _n, full = range_rows(d)
    assert full == sorted(full)
    _n, r1 = range_rows(d, ranges=[(1, 1), (None, None)])
    assert r1 == [r for r in full if r[0] == 1]
    _n, r2 = range_rows(d, ranges=[(None, 2), (2, None)], columns=["a"])
    assert r2 == [r for r in full if r[0] <= 2 and r[1] >= 2]


def test_evolved_enum_fill_parity(tmp_path):
    """An ENUMERATED attr with NO data file in a fragment (the layout a
    real-TileDB ArraySchemaEvolution that adds an enum attr produces —
    our own evolve refuses to create it, but the reader must serve it):
    every cell reads as the fill ordinal's LABEL ('' for 0, NULL when
    nullable).  Simulated by removing the attr's data file from one
    fragment — byte-identical to the evolved layout, where the
    pre-evolution fragment simply lacks the file."""
    import glob
    import os

    d = str(tmp_path / "evoenum")
    m = ArrayModel(
        d, [NativeDim("k", 1, 1, (0, 1000), None)],
        [
            NativeAttr("v", 1, 1, False, None),
            NativeAttr("color", 6, 1, False, struct.pack("<i", 2),
                       enumeration="colors"),
            NativeAttr("tone", 6, 1, True, None, enumeration="colors"),
        ],
        enumerations={"colors": ["red", "green", "blue"]},
    )
    m.write({"k": [1, 2, 3], "v": [10, 20, 30],
             "color": ["blue", "red", "green"],
             "tone": ["green", None, "red"]}, ts=100)
    frag = glob.glob(os.path.join(d, "__fragments", "*"))
    if not frag:  # name-era layout: fragment dirs at the root
        frag = [
            p for p in glob.glob(os.path.join(d, "__*"))
            if os.path.isdir(p) and "schema" not in p
            and "commits" not in p and "meta" not in p
        ]
    for f in glob.glob(os.path.join(frag[0], "color*")) + glob.glob(
        os.path.join(frag[0], "tone*")
    ):
        os.remove(f)
    # fill ordinal 2 -> 'green'; nullable enum -> NULL
    want = [(1, 10, "green", None), (2, 20, "green", None),
            (3, 30, "green", None)]
    assert range_rows(d)[1] == want
    assert range_rows(d, ranges=[(2, 3)], columns=["color", "tone"])[1] == [
        (k, c, t) for k, _v, c, t in want[1:]
    ]
    assert read_native_array(d)[1] == want


def test_var_binary_parity(tmp_path):
    """Var-BINARY attrs (BLOB dtype 39, GEOM_WKB dtype 41 — the spatial
    tier's column) read as bytes cells across fragments, ranges and
    projections."""
    m = ArrayModel(
        str(tmp_path / "vbin"), [NativeDim("k", 1, 1, (0, 10000), None)],
        [NativeAttr("blob", 39, VAR, False, None),
         NativeAttr("wkb", 41, VAR, False, None),
         NativeAttr("v", 1, 1, False, None)],
        capacity=32,
    )
    rng = random.Random(7)
    for ts in (100, 200):
        ks = sorted(rng.sample(range(0, 500), 120))
        m.write(
            {"k": ks,
             "blob": [bytes([kk % 256] * (kk % 17)) for kk in ks],
             "wkb": [b"\x01\x03" + kk.to_bytes(4, "little") for kk in ks],
             "v": [kk * 3 for kk in ks]},
            ts=ts, version=rng.choice([5, 19]),
        )
    assert isinstance(range_rows(m.dir)[1][0][1], bytes)
    m.check()
    m.check(ranges=[(40, 300)])
    m.check(columns=["wkb"])


def test_var_binary_dense_parity(tmp_path):
    """Dense arrays with var-binary attrs; fill for unwritten cells is
    the empty-bytes fill."""
    m = ArrayModel(
        str(tmp_path / "vbind"), [NativeDim("x", 1, 1, (0, 19), 5)],
        [NativeAttr("wkb", 41, VAR, False, struct.pack("<"))],
        fills={"wkb": b""}, array_type="DENSE",
    )
    m.write({"wkb": [bytes([i] * (i % 5 + 1)) for i in range(10)]},
            ts=10, subarray=[(0, 9)], version=19)
    m.write({"wkb": [b"zz" for _ in range(5)]},
            ts=20, subarray=[(8, 12)], version=19)  # unaligned overlay
    m.check()
    m.check(ranges=[(5, 11)])
