"""STRING_UTF16/UTF32/UCS2/UCS4 attributes (tiledb.h dtypes 13-16).

The reference maps all four to VARCHAR (mytile/mytile.cc:63-68); here
they round-trip through the native writer + decoder with the matching
LE codec (UCS-2/4 are strict subsets of UTF-16/32).  The numpy fast
path refuses these dtypes (not in its support sets), so decoding runs
on the exact row path."""

from __future__ import annotations

import pytest

from tiledb_mariadb_spark.sources.tiledb_native import (
    NativeAttr,
    NativeDim,
)
from tiledb_mariadb_spark.sources.tiledb_native_write import (
    create_native_array,
    write_native_fragment,
)

from .native_model import range_rows

VAR = 0xFFFFFFFF
WORDS = ["héllo", "wörld", "日本語テキスト", "", "Ωμέγα", "plain"]


@pytest.mark.parametrize("dtype_id", [13, 14, 15, 16])
def test_var_roundtrip(tmp_path, dtype_id):
    uri = str(tmp_path / f"v{dtype_id}")
    create_native_array(
        uri,
        dims=[NativeDim("k", 1, 1, (0, 100), None)],
        attrs=[NativeAttr("s", dtype_id, VAR, False, None)],
    )
    write_native_fragment(
        uri, {"k": list(range(len(WORDS))), "s": WORDS}, ts=1, version=19
    )
    names, rows = range_rows(uri)
    got = [r[names.index("s")] for r in rows]
    assert got == WORDS
    # range + projection still exact
    names, rows = range_rows(uri, ranges=[(1, 2)])
    assert [r[names.index("s")] for r in rows] == WORDS[1:3]


@pytest.mark.parametrize("dtype_id", [13, 14])
def test_fixed_width_roundtrip(tmp_path, dtype_id):
    """Fixed CHAR(k)-style cells: cvn counts CODE UNITS, cells pad with
    NUL units."""
    uri = str(tmp_path / f"f{dtype_id}")
    create_native_array(
        uri,
        dims=[NativeDim("k", 1, 1, (0, 100), None)],
        attrs=[NativeAttr("s", dtype_id, 4, False, None)],
    )
    vals = ["abcd", "éé", "語", ""]
    write_native_fragment(
        uri, {"k": [0, 1, 2, 3], "s": vals}, ts=1, version=19
    )
    names, rows = range_rows(uri)
    got = [r[names.index("s")].rstrip("\x00") for r in rows]
    assert got == ["abcd", "éé", "語", ""]


def test_nullable_utf16(tmp_path):
    uri = str(tmp_path / "n16")
    create_native_array(
        uri,
        dims=[NativeDim("k", 1, 1, (0, 100), None)],
        attrs=[NativeAttr("s", 13, VAR, True, None)],
    )
    vals = ["ä", None, "βγ", None]
    write_native_fragment(
        uri, {"k": [0, 1, 2, 3], "s": vals}, ts=1, version=19
    )
    names, rows = range_rows(uri)
    assert [r[names.index("s")] for r in rows] == vals


def test_spark_schema_maps_to_string(tmp_path):
    from tiledb_mariadb_spark.sources.tiledb_array import (
        NativeDecoderBackend,
    )

    uri = str(tmp_path / "sch")
    create_native_array(
        uri,
        dims=[NativeDim("k", 1, 1, (0, 100), None)],
        attrs=[
            NativeAttr(f"s{d}", d, VAR, False, None)
            for d in (13, 14, 15, 16)
        ],
    )
    write_native_fragment(
        uri, {"k": [0], "s13": ["a"], "s14": ["b"], "s15": ["c"],
              "s16": ["d"]},
        ts=1, version=19,
    )
    info = NativeDecoderBackend().info(uri)
    assert all(a.dtype == "string" for a in info.attrs)


if __name__ == "__main__":
    pytest.main([__file__, "-q"])


def test_utf16_truncation_never_splits_surrogate(tmp_path):
    """Over-long fixed UTF-16 cells truncate at a CHARACTER boundary:
    a 4-byte surrogate pair straddling the cvn*2-byte cap drops whole
    (read-back has no U+FFFD mangling, r8 ADVICE)."""
    uri = str(tmp_path / "surr")
    create_native_array(
        uri,
        dims=[NativeDim("k", 1, 1, (0, 100), None)],
        attrs=[NativeAttr("s", 13, 4, False, None)],  # 4 UTF-16 units
    )
    # "ab" (2 units) + U+1F600 (surrogate PAIR: units 3-4 — fits) and
    # "abc" (3 units) + U+1F600 (pair would straddle unit 4 — drops)
    vals = ["ab\U0001f600", "abc\U0001f600", "abcdef"]
    write_native_fragment(uri, {"k": [0, 1, 2], "s": vals}, ts=1, version=19)
    names, rows = range_rows(uri)
    got = [r[names.index("s")].rstrip("\x00") for r in rows]
    assert got == ["ab\U0001f600", "abc", "abcd"]
    assert all("�" not in g for g in got)


def test_utf8_truncation_never_splits_multibyte(tmp_path):
    """Fixed UTF-8 cells: a multibyte sequence straddling the byte cap
    drops whole instead of leaving a mangled partial sequence."""
    uri = str(tmp_path / "u8trunc")
    create_native_array(
        uri,
        dims=[NativeDim("k", 1, 1, (0, 100), None)],
        attrs=[NativeAttr("s", 12, 4, False, None)],  # 4 bytes
    )
    # "abc" + "é" (2 bytes: straddles byte 4) and "a" + "語" (3 bytes,
    # bytes 2-4 — fits exactly)
    vals = ["abcé", "a語", "abcdef"]
    write_native_fragment(uri, {"k": [0, 1, 2], "s": vals}, ts=1, version=19)
    names, rows = range_rows(uri)
    got = [r[names.index("s")].rstrip("\x00") for r in rows]
    assert got == ["abc", "a語", "abcd"]


def test_mixed_truncating_batch_byte_identity():
    """Round-10 selective truncation: a batch where only SOME cells
    overflow must pack byte-identically to the old all-cells ljust
    loop (reference reimplemented inline) for every text dtype."""
    from tiledb_mariadb_spark.sources.tiledb_native import _TEXT_CODEC
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        _DT,
        _pack_fixed,
    )

    def ref(vals, dtype_id, cvn):
        _, _c, size = _DT[dtype_id]
        cb = cvn * size
        codec = _TEXT_CODEC[dtype_id]
        out = bytearray()
        for v in vals:
            b = (b"" if v is None
                 else v.encode(codec) if isinstance(v, str) else bytes(v))
            if len(b) > cb:
                b = b[:cb]
                if dtype_id in (13, 15) and cb >= 2:
                    u = int.from_bytes(b[cb - 2:cb], "little")
                    if 0xD800 <= u <= 0xDBFF:
                        b = b[:cb - 2]
                elif dtype_id in (4, 11, 12):
                    i = len(b)
                    while i > 0 and (b[i - 1] & 0xC0) == 0x80:
                        i -= 1
                    if i > 0 and (b[i - 1] & 0xC0) == 0xC0:
                        lead = b[i - 1]
                        need = (2 if lead >> 5 == 0b110
                                else 3 if lead >> 4 == 0b1110 else 4)
                        if len(b) - (i - 1) < need:
                            b = b[:i - 1]
            out += b.ljust(cb, b"\x00")
        return bytes(out)

    cases = {
        11: ["ok", "é" * 9, None, "x\x00y", "日本語テキスト", ""],   # UTF-8
        13: ["ab", "𐐷" * 7, "c", None, "ポ" * 30],                  # UTF-16
        14: ["a", "𐐷" * 5, "", None, "ラ" * 9],                     # UTF-32
        4:  ["plain", "over" * 10, None, "z"],                      # char
    }
    for dtype_id, vals in cases.items():
        for cvn in (1, 2, 3, 8):
            assert _pack_fixed(vals, dtype_id, cvn) == ref(
                vals, dtype_id, cvn
            ), f"dtype {dtype_id} cvn {cvn}"
