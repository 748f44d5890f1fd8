"""Writer-side v20 enumerations — the inverse of the q303 reader path.

Parity target: CREATE TABLE with ENUM columns
(mytile/ha_mytile.cc:1330-1351 create-with-enumeration) and the
t/enum.test golden shape: stored values are MariaDB 1-based ordinals
(0 = ''), reads serve labels, oversize enumerations revert to the base
type.  Everything below round-trips through the SAME reader that
decodes the committed enum_array fixture, so write→read is
byte-compatible with the v20 path by construction.
"""

import os
import struct

import pytest

from tiledb_mariadb_spark.sources import tiledb_native_crypto as crypto
from tiledb_mariadb_spark.sources.tiledb_native import (
    NativeAttr,
    NativeDim,
    fragment_attr_stats,
    parse_array_schema,
    read_native_array,
    _schema_path,
)
from tiledb_mariadb_spark.sources.tiledb_native_write import (
    create_native_array,
    evolve_native_schema,
    write_native_fragment,
)

from .native_model import range_rows

LABELS = ["red", "green", "blue"]


@pytest.fixture(autouse=True)
def _clean_registry():
    yield
    crypto._KEYS.clear()


def _mk(tmp_path, name="enum_arr", **kw):
    d = str(tmp_path / name)
    create_native_array(
        d,
        [NativeDim("d0", 1, 1, (0, 1000), 100)],
        [
            NativeAttr("color", 6, 1, False, None, enumeration="colors"),
            NativeAttr("v", 1, 1, False, None),
        ],
        enumerations={"colors": LABELS},
        **kw,
    )
    return d


def test_v20_blob_round_trip(tmp_path):
    d = _mk(tmp_path)
    s = parse_array_schema(_schema_path(d))
    assert s.version == 20
    assert s.attrs[0].enumeration == "colors"
    assert s.enumerations == {"colors": LABELS}
    # layout parity: labels live under __schema/__enumerations/<path>
    rel = s.enumeration_paths["colors"]
    assert os.path.isfile(os.path.join(d, "__schema", "__enumerations", rel))


def test_labels_and_ordinals_round_trip(tmp_path):
    d = _mk(tmp_path)
    # labels, a raw 1-based ordinal, and '' (= stored 0) all accepted
    write_native_fragment(
        d, {"d0": [1, 2, 3, 4], "color": ["red", "blue", 2, ""],
            "v": [10, 20, 30, 40]}, version=19,
    )
    _, rows = read_native_array(d)
    assert rows == [(1, "red", 10), (2, "blue", 20), (3, "green", 30),
                    (4, "", 40)]
    # projection through the O(split) range reader serves labels too
    names, r = range_rows(d, ranges=[(2, 3)], columns=["color"])
    assert (names, r) == (["d0", "color"], [(2, "blue"), (3, "green")])


def test_bad_label_and_ordinal_rejected(tmp_path):
    d = _mk(tmp_path)
    with pytest.raises(ValueError, match="not a label"):
        write_native_fragment(d, {"d0": [1], "color": ["mauve"], "v": [1]})
    with pytest.raises(ValueError, match="out of range"):
        write_native_fragment(d, {"d0": [1], "color": [7], "v": [1]})


def test_unlinked_enumeration_rejected(tmp_path):
    with pytest.raises(ValueError, match="no labels"):
        create_native_array(
            str(tmp_path / "a"),
            [NativeDim("d0", 1, 1, (0, 9), 1)],
            [NativeAttr("c", 6, 1, False, None, enumeration="nope")],
        )


def test_enum_stats_withheld_others_served(tmp_path):
    d = _mk(tmp_path)
    frag = write_native_fragment(
        d, {"d0": [1, 2], "color": ["red", "blue"], "v": [5, 6]}, version=19,
    )
    s = parse_array_schema(_schema_path(d))
    st = fragment_attr_stats(frag, s)
    # ordinal stats exist on disk but describe a view reads never serve
    assert st["color"] == {}
    assert st["v"] == {"min": 5, "max": 6, "sum": 11}


def test_oversize_enum_reverts_to_ints(tmp_path):
    # the reference's 65536-byte DDL budget (mytile-discovery.cc:364,
    # gene_symbol in r/enum.result): a huge label set is written intact
    # but READS as the raw stored ordinals
    d = str(tmp_path / "big")
    create_native_array(
        d, [NativeDim("d0", 1, 1, (0, 10), 1)],
        [NativeAttr("g", 9, 1, False, None, enumeration="genes")],
        enumerations={"genes": [f"gene_{i:05d}" for i in range(20000)]},
    )
    s = parse_array_schema(_schema_path(d))
    assert "genes" not in s.enumerations  # reverted on read
    write_native_fragment(d, {"d0": [1], "g": [12345]})
    _, rows = read_native_array(d)
    assert rows == [(1, 12345)]


def test_encrypted_enum_array(tmp_path):
    key = b"k" * 32
    d = _mk(tmp_path, name="enc", encryption_key=key)
    write_native_fragment(d, {"d0": [1], "color": ["blue"], "v": [9]},
                          version=19)
    _, rows = read_native_array(d)
    assert rows == [(1, "blue", 9)]
    blob = b""
    for root, _dirs, files in os.walk(d):
        for f in files:
            blob += open(os.path.join(root, f), "rb").read()
    for lb in LABELS:  # label bytes sealed along with everything else
        assert lb.encode() not in blob
    crypto._KEYS.clear()
    with pytest.raises(ValueError, match="encrypted"):
        read_native_array(d)


def test_evolution_preserves_enum_links(tmp_path):
    d = _mk(tmp_path, name="evo")
    write_native_fragment(d, {"d0": [1], "color": ["green"], "v": [5]},
                          version=5)
    s = evolve_native_schema(
        d, add_attrs=[NativeAttr("w", 1, 1, False, struct.pack("<q", 0))]
    )
    assert s.attrs[0].enumeration == "colors"
    assert s.enumerations == {"colors": LABELS}
    write_native_fragment(d, {"d0": [2], "color": ["red"], "v": [6],
                              "w": [7]}, version=5)
    _, rows = read_native_array(d)
    assert sorted(rows) == [(1, "green", 5, 0), (2, "red", 6, 7)]
    with pytest.raises(NotImplementedError, match="enumerated"):
        evolve_native_schema(
            d, add_attrs=[NativeAttr("e", 6, 1, False, None,
                                     enumeration="colors")]
        )


@pytest.mark.parametrize("seed", range(5))
def test_enum_roundtrip_fuzz(tmp_path, seed):
    """Property: random label sets (unicode, mixed sizes, up to a few
    hundred) round-trip write→read exactly, with random label/ordinal
    mixed writes mapping to the right labels on read."""
    import random

    from tiledb_mariadb_spark.sources.tiledb_native import (
        read_native_array,
    )

    rng = random.Random(300 + seed)
    pool = ["red", "grün", "青", "x" * rng.randint(1, 40), "ß", "mid",
            "émoji✓", "tab\tsep", "long-" + "y" * 80]
    n_labels = rng.randint(1, len(pool))
    labels = rng.sample(pool, n_labels)
    d = str(tmp_path / f"fz{seed}")
    create_native_array(
        d, [NativeDim("k", 1, 1, (0, 10000), None)],
        [NativeAttr("c", 9, 1, False, None, enumeration="e")],
        enumerations={"e": labels},
    )
    s = parse_array_schema(_schema_path(d))
    assert s.enumerations["e"] == labels
    n = rng.randint(1, 200)
    keys = sorted(rng.sample(range(0, 5000), n))
    vals, expect = [], []
    for _ in keys:
        if rng.random() < 0.5:
            lb = rng.choice(labels)
            vals.append(lb)
            expect.append(lb)
        else:
            o = rng.randint(0, len(labels))
            vals.append(o)
            expect.append("" if o == 0 else labels[o - 1])
    write_native_fragment(d, {"k": keys, "c": vals}, version=19)
    _, rows = read_native_array(d)
    assert [r[1] for r in rows] == expect


@pytest.mark.parametrize("dense", [False, True])
@pytest.mark.parametrize("ordinal", [-1, -3, 4])
def test_out_of_range_ordinals_raise(tmp_path, dense, ordinal):
    """A stored ordinal below 1 (other than the 0 = '' convention) or
    past the last label is corruption: every reader raises the
    'enumeration ordinal out of range' ValueError — a negative ordinal
    must not wrap around to a label from the end.  The ordinals are
    written through a non-enumerated twin (the writer refuses them) and
    its fragment is moved under the enumerated schema."""
    import shutil

    from tiledb_mariadb_spark.sources.tiledb_native import (
        _field_cells,
        _field_file,
        _fragment_dirs,
        _np_field,
        read_native_array_range_np,
    )

    kw = {"array_type": "DENSE"} if dense else {}
    dims = [NativeDim("d0", 1, 1, (0, 9), 10)]
    d, twin = str(tmp_path / "enum"), str(tmp_path / "twin")
    create_native_array(
        d, dims, [NativeAttr("c", 5, 1, False, None, enumeration="colors")],
        enumerations={"colors": LABELS}, **kw,
    )
    create_native_array(twin, dims, [NativeAttr("c", 5, 1, False, None)],
                        **kw)
    def place(ords):
        # the twin's only fragment, moved under the enumerated schema
        cols = {"c": ords, **({} if dense else {"d0": [1, 2, 3, 4]})}
        for arr in (twin, d):
            for sub in ("__fragments", "__commits"):
                shutil.rmtree(os.path.join(arr, sub), ignore_errors=True)
                os.makedirs(os.path.join(arr, sub))
        write_native_fragment(twin, cols, ts=100, version=19,
                              subarray=[(0, 3)] if dense else None)
        for sub in ("__fragments", "__commits"):
            shutil.copytree(os.path.join(twin, sub), os.path.join(d, sub),
                            dirs_exist_ok=True)

    place([1, 0, 2, 3])
    assert read_native_array_range_np(d)[1]["c"].tolist() == [
        "red", "", "green", "blue"
    ]
    place([1, 0, ordinal, 3])
    with pytest.raises(ValueError, match="ordinal out of range"):
        read_native_array_range_np(d)
    with pytest.raises(ValueError, match="ordinal out of range"):
        read_native_array(d)
    schema = parse_array_schema(_schema_path(d))
    frag = _fragment_dirs(d)[0]
    a = schema.attrs[0]
    n = _field_cells(_field_file(frag, a.name, 0, "a"), a)
    with pytest.raises(ValueError, match="ordinal out of range"):
        _np_field(frag, schema, a, 0, "a", 0, n).tolist()
