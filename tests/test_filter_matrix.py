"""Filter-matrix round-trips: the round-7 codecs (LZ4, BZIP2, DELTA,
POSITIVE_DELTA, BITSHUFFLE, generalized fixed-width RLE, var-string RLE,
DICTIONARY) through the real chunked-tile write→read path, plus
end-to-end arrays with per-field pipelines.

Compat notes (also in the decoder docstrings): LZ4 is the real LZ4
BLOCK format (pyarrow lz4_raw == libtiledb's LZ4_compress_default
stream) and BZIP2 the real bz2 stream — byte-compatible with
libtiledb.  Fixed-width RLE generalizes the record layout pinned on
the reference fixtures' validity tiles.  Var-string RLE / DICTIONARY /
BITSHUFFLE / POSITIVE_DELTA / DELTA are symmetric engine
implementations with semantics cited to the public TileDB filter
sources; their byte-level differential vs real libtiledb is pending
the standing no-wheel item (mytile/mytile.cc filter map is the
reference surface)."""

import os
import random
import struct

import pytest

from tiledb_mariadb_spark.sources.tiledb_native import (
    NativeAttr,
    NativeDim,
    _F_BITSHUFFLE,
    _F_BYTESHUFFLE,
    _F_BZIP2,
    _F_DD,
    _F_DELTA,
    _F_DICT,
    _F_GZIP,
    _F_LZ4,
    _F_MD5,
    _F_POSDELTA,
    _F_RLE,
    _F_SHA256,
    _F_ZSTD,
    _bitshuffle,
    _rle_decode,
    read_native_array,
    read_byte_span,
    read_tile_file,
)
from tiledb_mariadb_spark.sources.tiledb_native_write import (
    _encode_chunked,
    create_native_array,
    write_native_fragment,
)


def _roundtrip(tmp_path, filters, data, elem=8, var_lens=None):
    enc = _encode_chunked(data, filters, elem=elem, var_lens=var_lens)
    p = str(tmp_path / "tile.bin")
    with open(p, "wb") as f:
        f.write(enc)
    out = read_tile_file(
        p, filters=list(filters), elem=elem, var=var_lens is not None
    )
    assert out == data
    return enc


def _rand_ints(n, seed=7, lo=-(10**9), hi=10**9, code="q"):
    rnd = random.Random(seed)
    return struct.pack(f"<{n}{code}", *[rnd.randrange(lo, hi) for _ in range(n)])


# ---------------------------------------------------------------- codecs


@pytest.mark.parametrize("ftype", [_F_LZ4, _F_BZIP2, _F_DELTA])
def test_codec_roundtrip_random_int64(tmp_path, ftype):
    _roundtrip(tmp_path, [(ftype, b"")], _rand_ints(20000))  # multi-chunk


@pytest.mark.parametrize("ftype", [_F_LZ4, _F_BZIP2])
def test_codec_roundtrip_compressible(tmp_path, ftype):
    data = (b"abcdef" * 40000)[: 200001]  # odd length, highly repetitive
    enc = _roundtrip(tmp_path, [(ftype, b"")], data, elem=1)
    assert len(enc) < len(data) // 4  # actually compresses


def test_delta_signed_wraparound(tmp_path):
    vals = [2**62, -(2**62), 0, -1, 2**63 - 1, -(2**63)]
    data = struct.pack(f"<{len(vals)}q", *vals)
    _roundtrip(tmp_path, [(_F_DELTA, b"")], data)


@pytest.mark.parametrize("width,code", [(2, "h"), (4, "i"), (8, "q")])
def test_rle_fixed_multibyte(tmp_path, width, code):
    rnd = random.Random(width)
    vals = []
    while len(vals) < 5000:
        vals += [rnd.randrange(-100, 100)] * rnd.randrange(1, 40)
    data = struct.pack(f"<{len(vals)}{code}", *vals[: len(vals)])
    _roundtrip(tmp_path, [(_F_RLE, b"")], data, elem=width)


def test_rle_fixed_long_run_split():
    """Runs longer than 65535 split across records; the 1-byte layout
    is unchanged from the fixtures' validity-tile pin."""
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        _rle_fixed_encode,
    )

    data = b"\x01" * 70000 + b"\x02" * 3
    enc = _rle_fixed_encode(data, 1)
    assert _rle_decode(enc, 1, len(data)) == data
    assert len(enc) == 3 * 3  # 65535 + 4465 + 3 → three records


def test_bitshuffle_symmetry_and_remainder():
    rnd = random.Random(11)
    for elem in (1, 2, 4, 8):
        for n in (0, 1, 7, 8, 9, 1000, 1003):
            data = bytes(rnd.randrange(256) for _ in range(n * elem))
            fwd = _bitshuffle(data, elem, forward=True)
            assert _bitshuffle(fwd, elem, forward=False) == data
            if n >= 8:
                assert fwd != data or len(set(data)) <= 1


def test_bitshuffle_improves_zstd_on_low_entropy(tmp_path):
    """The point of bitshuffle: small-magnitude ints compress far
    better once bit planes are grouped."""
    vals = struct.pack("<30000q", *[i % 7 for i in range(30000)])
    plain = _roundtrip(tmp_path, [(_F_ZSTD, b"")], vals)
    shuf = _roundtrip(tmp_path, [(_F_BITSHUFFLE, b""), (_F_ZSTD, b"")], vals)
    assert len(shuf) < len(plain)


def test_positive_delta_roundtrip_multiwindow(tmp_path):
    rnd = random.Random(5)
    vals = sorted(rnd.randrange(0, 10**14) for _ in range(40000))
    data = struct.pack("<40000Q", *vals)
    enc = _roundtrip(tmp_path, [(_F_POSDELTA, b""), (_F_LZ4, b"")], data)
    assert len(enc) < len(data)  # sorted timestamps compress


def test_positive_delta_refuses_decreasing():
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        _posdelta_forward,
    )

    with pytest.raises(ValueError, match="non-decreasing"):
        _posdelta_forward(struct.pack("<3Q", 5, 4, 6), 8)


# -------------------------------------------------- var-string codecs


def _var_payload(seed=13, n=50000):
    rnd = random.Random(seed)
    cells = [
        rnd.choice([b"en", b"de", b"fr", b"zh-Hans", b"pt-BR"])
        for _ in range(n)
    ]
    return b"".join(cells), [len(c) for c in cells]


def test_var_string_dict_roundtrip(tmp_path):
    data, lens = _var_payload()
    enc = _roundtrip(tmp_path, [(_F_DICT, b"")], data, elem=1, var_lens=lens)
    assert len(enc) < len(data) // 3  # ~1 idx byte per ~3.6-byte cell


def test_var_string_rle_roundtrip(tmp_path):
    # RLE wants RUNS: clustered cells (a sorted label column — the
    # string-DIMENSION shape the 2.9+ default targets)
    data, lens = _var_payload()
    cells = sorted(_cells(data, lens))
    data, lens = b"".join(cells), [len(c) for c in cells]
    enc = _roundtrip(tmp_path, [(_F_RLE, b"")], data, elem=1, var_lens=lens)
    assert len(enc) < len(data) // 100  # 5 runs cover 50k cells
    # and the random (run-free) shape still round-trips, just bigger
    rdata, rlens = _var_payload(seed=99)
    _roundtrip(tmp_path, [(_F_RLE, b"")], rdata, elem=1, var_lens=rlens)


def _cells(data, lens):
    out, pos = [], 0
    for ln in lens:
        out.append(data[pos : pos + ln])
        pos += ln
    return out


def test_var_codec_chunks_align_to_cells(tmp_path):
    """Chunks of a var-cell codec are cell-aligned and self-contained:
    a byte-span read of ONE cell decodes without touching every chunk."""
    data, lens = _var_payload(n=200000)  # many chunks
    enc = _encode_chunked(data, [(_F_DICT, b"")], elem=1, var_lens=lens)
    p = str(tmp_path / "var.bin")
    with open(p, "wb") as f:
        f.write(enc)
    import tiledb_mariadb_spark.sources.tiledb_native as tn

    tn._SPAN_STATS["chunks_decoded"] = 0
    out = read_byte_span(
        p, 0, lens[0], filters=[(_F_DICT, b"")], elem=1, var=True
    )
    assert out == data[: lens[0]]
    assert tn._SPAN_STATS["chunks_decoded"] == 1


def test_dictionary_ratio_on_labels(tmp_path):
    data, lens = _var_payload(n=100000)
    dc = _roundtrip(tmp_path, [(_F_DICT, b"")], data, elem=1, var_lens=lens)
    # 5 dictionary entries + one index byte per cell: ~len(cells) bytes
    assert len(dc) < len(lens) + 512


# --------------------------------------------------- pipeline shapes


def test_checksum_then_transform_then_compressor(tmp_path):
    """Meta-part alignment: one part per filter, last-filter-first —
    the combination that misfired before the r7 ordering fix."""
    data = _rand_ints(5000)
    _roundtrip(tmp_path, [(_F_MD5, b""), (_F_BITSHUFFLE, b""), (_F_ZSTD, b"")], data)
    _roundtrip(tmp_path, [(_F_BYTESHUFFLE, b""), (_F_SHA256, b""), (_F_GZIP, b"")], data)


def test_checksum_detects_corruption(tmp_path):
    data = _rand_ints(1000)
    enc = bytearray(
        _encode_chunked(data, [(_F_MD5, b""), (_F_LZ4, b"")], elem=8)
    )
    enc[-1] ^= 0xFF
    p = str(tmp_path / "bad.bin")
    with open(p, "wb") as f:
        f.write(bytes(enc))
    with pytest.raises(ValueError):
        read_tile_file(p, filters=[(_F_MD5, b""), (_F_LZ4, b"")], elem=8)


def test_writer_refuses_unroundtrippable_shapes():
    data = b"\x00" * 64
    with pytest.raises(NotImplementedError, match="compressor must be last"):
        _encode_chunked(data, [(_F_ZSTD, b""), (_F_MD5, b"")], elem=8)
    with pytest.raises(NotImplementedError, match="trailing compressor"):
        _encode_chunked(data, [(_F_MD5, b""), (_F_BITSHUFFLE, b"")], elem=8)
    with pytest.raises(NotImplementedError, match="var-length"):
        _encode_chunked(data, [(_F_DICT, b"")], elem=8)  # no var_lens
    with pytest.raises(NotImplementedError):
        _encode_chunked(data, [(_F_DD, b"")], elem=8)  # decoder-only


def test_webp_refused_loudly():
    from tiledb_mariadb_spark.sources.tiledb_native import _reverse_pipeline

    meta = struct.pack("<IIII", 0, 1, 8, 4)
    with pytest.raises(NotImplementedError):
        _reverse_pipeline([(18, b"")], [meta], b"abcd", 8)


# ------------------------------------------------------- end-to-end


def test_mixed_pipeline_array_roundtrip(tmp_path):
    """Every new codec on its natural column shape in ONE array,
    written and read through the real fragment paths (whole-array and
    columnar range read)."""
    arr = str(tmp_path / "fm")
    create_native_array(
        arr,
        dims=[NativeDim("k", 1, 1, (0, 10**6), None,
                        filters=[(_F_POSDELTA, b""), (_F_LZ4, b"")])],
        attrs=[
            NativeAttr("v", 1, 1, False, None,
                       filters=[(_F_BITSHUFFLE, b""), (_F_ZSTD, b"")]),
            NativeAttr("lang", 12, 0xFFFFFFFF, False, None,
                       filters=[(_F_DICT, b"")]),
            NativeAttr("flag", 12, 0xFFFFFFFF, False, None,
                       filters=[(_F_RLE, b"")]),
            NativeAttr("n", 0, 1, False, None, filters=[(_F_DELTA, b"")]),
            NativeAttr("w", 3, 1, False, None, filters=[(_F_BZIP2, b"")]),
        ],
    )
    n = 3000
    write_native_fragment(
        arr,
        {
            "k": list(range(n)),
            "v": [i * 7 for i in range(n)],
            "lang": [["en", "de", "fr"][i % 3] for i in range(n)],
            "flag": ["A" if i < n // 2 else "B" for i in range(n)],
            "n": [i % 100 for i in range(n)],
            "w": [i * 0.5 for i in range(n)],
        },
        ts=5,
        version=19,
    )
    schema, rows = read_native_array(arr)
    assert len(rows) == n
    names = [d.name for d in schema.dims] + [a.name for a in schema.attrs]
    m = dict(zip(names, rows[123]))
    assert m == {"k": 123, "v": 861, "lang": "en", "flag": "A",
                 "n": 23, "w": 61.5}
    from tiledb_mariadb_spark.sources.tiledb_array import (
        NativeDecoderBackend,
    )

    df = NativeDecoderBackend().read_range(
        arr, [(100, 199)], ["k", "lang", "flag", "w"]
    )
    assert len(df) == 100
    assert list(df["k"]) == list(range(100, 200))
    assert list(df["lang"]) == [["en", "de", "fr"][i % 3]
                                for i in range(100, 200)]
    assert list(df["w"]) == [i * 0.5 for i in range(100, 200)]


def test_string_compressor_default(tmp_path):
    """create_native_array(string_compressor=) routes var-string fields
    to whole-cell RLE/dictionary (the modern libtiledb string-dim
    default) while numeric fields keep the byte compressor."""
    for mode, want in (("rle", _F_RLE), ("dictionary", _F_DICT)):
        arr = str(tmp_path / f"sc_{mode}")
        schema = create_native_array(
            arr,
            dims=[NativeDim("k", 1, 1, (0, 10**6), None)],
            attrs=[
                NativeAttr("lang", 12, 0xFFFFFFFF, False, None),
                NativeAttr("v", 3, 1, False, None),
            ],
            compressor="zstd",
            string_compressor=mode,
        )
        lang = next(a for a in schema.attrs if a.name == "lang")
        v = next(a for a in schema.attrs if a.name == "v")
        assert [f[0] for f in lang.filters] == [want]
        assert [f[0] for f in v.filters] == [_F_ZSTD]
        write_native_fragment(
            arr,
            {"k": [1, 2, 3], "lang": ["en", "en", "de"], "v": [0.5, 1.5, 2.5]},
            ts=3,
            version=19,
        )
        _s, rows = read_native_array(arr)
        assert rows == [(1, "en", 0.5), (2, "en", 1.5), (3, "de", 2.5)]


def test_lz4_bzip2_create_compressor(tmp_path):
    for comp in ("lz4", "bzip2"):
        arr = str(tmp_path / f"c_{comp}")
        create_native_array(
            arr,
            dims=[NativeDim("k", 1, 1, (0, 1000), None)],
            attrs=[NativeAttr("v", 3, 1, False, None)],
            compressor=comp,
        )
        write_native_fragment(
            arr, {"k": [1, 2], "v": [0.25, 0.75]}, ts=2, version=19
        )
        _s, rows = read_native_array(arr)
        assert rows == [(1, 0.25), (2, 0.75)]


def test_encrypted_mixed_pipeline(tmp_path):
    """GCM chunk sealing wraps whatever the pipeline produced — the new
    codecs compose with encryption unchanged."""
    arr = str(tmp_path / "enc")
    create_native_array(
        arr,
        dims=[NativeDim("k", 1, 1, (0, 1000), None)],
        attrs=[NativeAttr("lang", 12, 0xFFFFFFFF, False, None,
                          filters=[(_F_DICT, b"")])],
        encryption_key=b"\x07" * 32,
    )
    # plaintexts of 8+ bytes: random GCM ciphertext holds a given 2-byte
    # value by chance, but not a given 12-byte one
    alpha, bravo = "lang-alpha-7", "lang-bravo-3"
    write_native_fragment(
        arr, {"k": [1, 2, 3], "lang": [alpha, bravo, alpha]}, ts=2,
        version=19,
    )
    _s, rows = read_native_array(arr)
    assert rows == [(1, alpha), (2, bravo), (3, alpha)]
    # ciphertext at rest: no dictionary entry may be readable
    fr = os.path.join(arr, "__fragments")
    frag_dir = os.path.join(fr, os.listdir(fr)[0])
    blob = b"".join(
        open(os.path.join(frag_dir, f), "rb").read()
        for f in os.listdir(frag_dir)
        if f.endswith(".tdb")
    )
    for plain in (alpha, bravo):
        assert plain.encode() not in blob


# ----------------------------------------------- DDL filter surface


def test_filter_csv_parse_and_render():
    """parse_filter_list / filter_list_to_str parity
    (mytile/mytile.cc:1308-1444): CSV → pipeline → CSV round-trips with
    options; unknown names raise the reference's error."""
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        native_filters_from_csv,
        native_filters_to_csv,
    )

    for csv in (
        "GZIP=9",
        "POSITIVE_DELTA=128,LZ4",
        "BITSHUFFLE,ZSTD=7",
        "CHECKSUM_MD5,BZIP2=5",
        "SCALE_FLOAT=(4-0.01-100),GZIP=9",
        "RLE",
        "DICTIONARY_ENCODING",
        "DELTA",
    ):
        f = native_filters_from_csv(csv)
        assert native_filters_to_csv(f) == csv
    # NONE contributes nothing (the reference's coordinate_filters="NONE")
    assert native_filters_from_csv("NONE") == []
    # option encodings match the schema-blob serialization conventions
    import struct as _s

    # the real 5-byte compressor layout: [compressor enum u8][level i32]
    # (pinned against the obs fixture's ZSTD/DOUBLE_DELTA entries)
    f = native_filters_from_csv("GZIP=9")
    assert f[0][1][0] == 1 and _s.unpack_from("<i", f[0][1], 1)[0] == 9
    f = native_filters_from_csv("POSITIVE_DELTA=128,LZ4")
    assert _s.unpack("<I", f[0][1])[0] == 128
    with pytest.raises(ValueError, match="Unknown or unsupported"):
        native_filters_from_csv("SNAPPY")
    # decoder-only filters refuse at DDL time on the write path…
    with pytest.raises(ValueError, match="read-only"):
        native_filters_from_csv("BIT_WIDTH_REDUCTION=256,ZSTD")
    # …but parse fine for discovery over foreign arrays
    f = native_filters_from_csv("BIT_WIDTH_REDUCTION=256,ZSTD",
                                for_write=False)
    assert native_filters_to_csv(f) == "BIT_WIDTH_REDUCTION=256,ZSTD"


def test_create_with_reference_ddl_options(tmp_path):
    """The reference's own datetimes.test table options
    (coordinate_filters="NONE" offset_filters="POSITIVE_DELTA=128") and
    a per-column filters= CSV, through create → write → read — the
    schema blob round-trips the options and the data round-trips the
    pipelines."""
    from tiledb_mariadb_spark.sources.tiledb_native import (
        parse_array_schema,
        _schema_path,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        native_filters_to_csv,
    )

    arr = str(tmp_path / "ddl")
    create_native_array(
        arr,
        dims=[NativeDim("k", 1, 1, (0, 10**6), None,
                        filters="POSITIVE_DELTA=128,LZ4")],
        attrs=[
            NativeAttr("lang", 12, 0xFFFFFFFF, False, None,
                       filters="DICTIONARY_ENCODING"),
            NativeAttr("v", 3, 1, False, None, filters="GZIP=9"),
        ],
        coordinate_filters="NONE",
        offset_filters="POSITIVE_DELTA=128",
        validity_filters="RLE",
    )
    back = parse_array_schema(_schema_path(arr))
    assert native_filters_to_csv(back.offsets_filters) == \
        "POSITIVE_DELTA=128"
    assert native_filters_to_csv(back.coords_filters) == ""
    d0 = back.dims[0]
    assert native_filters_to_csv(d0.filters) == "POSITIVE_DELTA=128,LZ4"
    lang = next(a for a in back.attrs if a.name == "lang")
    assert native_filters_to_csv(lang.filters) == "DICTIONARY_ENCODING"
    write_native_fragment(
        arr,
        {"k": [5, 9, 11], "lang": ["en", "en", "de"], "v": [1.5, 2.5, 3.5]},
        ts=4,
        version=19,
    )
    _s, rows = read_native_array(arr)
    assert rows == [(5, "en", 1.5), (9, "en", 2.5), (11, "de", 3.5)]


def test_show_create_native_renders_pipelines(tmp_path):
    """Discovery parity (mytile-discovery.cc:54-473, 249-267): SHOW
    CREATE over a real on-disk array prints every field's actual filter
    pipeline — including one on the reference's own fixture."""
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        show_create_native_array,
    )

    arr = str(tmp_path / "sc")
    create_native_array(
        arr,
        dims=[NativeDim("k", 1, 1, (0, 100), None,
                        filters="POSITIVE_DELTA=128,LZ4")],
        attrs=[NativeAttr("lang", 12, 0xFFFFFFFF, False, None,
                          filters="DICTIONARY_ENCODING")],
        offset_filters="ZSTD=5",
    )
    ddl = show_create_native_array(arr)
    assert "filters='POSITIVE_DELTA=128,LZ4'" in ddl
    assert "filters='DICTIONARY_ENCODING'" in ddl
    assert "offset_filters='ZSTD=5'" in ddl
    assert "PRIMARY KEY (`k`)" in ddl
    # a REAL reference fixture: the v19 obs array's DD+BWR+ZSTD offsets
    ref = "/root/reference/mysql-test/mytile/test_data/obs"
    if os.path.isdir(ref):
        ddl = show_create_native_array(ref)
        assert ("offset_filters='DOUBLE_DELTA,BIT_WIDTH_REDUCTION=256,"
                "ZSTD'") in ddl
        assert "coordinate_filters='ZSTD'" in ddl
        assert "validity_filters='RLE'" in ddl
        assert "`obs_id`" in ddl


def test_compression_level_honored(tmp_path):
    """GZIP=1 vs GZIP=9 produce different (and ordered) sizes — the
    TILEDB_COMPRESSION_LEVEL option is real, not echoed."""
    rnd = random.Random(2)
    data = bytes(rnd.randrange(64) for _ in range(200000))
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        native_filters_from_csv,
    )

    e1 = _roundtrip(tmp_path, native_filters_from_csv("GZIP=1"), data, elem=1)
    e9 = _roundtrip(tmp_path, native_filters_from_csv("GZIP=9"), data, elem=1)
    assert len(e9) < len(e1)
    w128 = _roundtrip(
        tmp_path,
        native_filters_from_csv("POSITIVE_DELTA=65536,LZ4"),
        struct.pack("<20000Q", *sorted(rnd.randrange(0, 10**10)
                                       for _ in range(20000))),
    )
    assert w128  # big-window posdelta round-trips


# ------------------------------------------------------ property fuzz


def test_random_pipeline_roundtrip_fuzz(tmp_path):
    """Property fuzz: random legal pipelines (transforms* meta-filters*
    compressor?) over random payloads and widths round-trip exactly.
    Catches composition edges (stage-width tracking through
    SCALE_FLOAT, meta-part alignment with multiple producers, window
    boundaries)."""
    from tiledb_mariadb_spark.sources.tiledb_native import (
        _F_SCALE_FLOAT,
        _F_XOR,
    )

    rnd = random.Random(20260816)
    transforms = [_F_BITSHUFFLE, _F_BYTESHUFFLE, _F_XOR]
    metas = [_F_MD5, _F_SHA256]
    comps = [_F_GZIP, _F_ZSTD, _F_LZ4, _F_BZIP2, _F_RLE, _F_DELTA]
    for trial in range(60):
        elem = rnd.choice([1, 2, 4, 8])
        n = rnd.choice([0, 1, 5, 63, 64, 1000, 9000])
        if rnd.random() < 0.3:  # low-entropy payload (RLE-friendly)
            data = bytes(
                rnd.choice([3, 7]) for _ in range(n * elem)
            )
        else:
            data = bytes(rnd.randrange(256) for _ in range(n * elem))
        pipeline = []
        for _ in range(rnd.randrange(0, 3)):
            pipeline.append((rnd.choice(transforms), b""))
        n_meta = rnd.randrange(0, 3)
        for _ in range(n_meta):
            pipeline.append((rnd.choice(metas), b""))
        has_comp = rnd.random() < 0.8
        if has_comp:
            pipeline.append((rnd.choice(comps), b""))
        if not has_comp and n_meta and (
            n_meta > 1 or pipeline[-1][0] not in metas
        ):
            continue  # writer legitimately refuses this shape
        sub = tmp_path / f"t{trial}"
        sub.mkdir()
        _roundtrip(sub, pipeline, data, elem=elem)
    # SCALE_FLOAT lossy-quantization shape: exact when values are on
    # the factor grid
    import struct as _s

    vals = [i * 0.25 for i in range(-500, 500)]
    data = _s.pack(f"<{len(vals)}d", *vals)
    meta = _s.pack("<ddQ", 0.25, 0.0, 4)
    for tail in ([], [(_F_ZSTD, b"")], [(_F_RLE, b"")]):
        sub = tmp_path / f"sf{len(tail)}_{tail[0][0] if tail else 'x'}"
        sub.mkdir()
        _roundtrip(sub, [(_F_SCALE_FLOAT, meta)] + tail, data, elem=8)


def test_datasource_write_with_filter_options(tmp_path):
    """spark.write.format('tiledb_native') forwards the DDL filter
    options into auto-create: per-column filters= CSVs and the
    string_compressor default — pipelines land in the on-disk schema
    blob and reads round-trip."""
    import pytest as _pytest

    spark = _pytest.importorskip("pyspark.sql").SparkSession.builder \
        .master("local[4]").appName("fm_ds") \
        .config("spark.sql.shuffle.partitions", "4") \
        .config("spark.sql.python.filterPushdown.enabled", "true") \
        .getOrCreate()
    from tiledb_mariadb_spark.sources.spark_datasource import (
        register_tiledb_native,
    )
    from tiledb_mariadb_spark.sources.tiledb_native import (
        parse_array_schema,
        _schema_path,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        native_filters_to_csv,
    )

    register_tiledb_native(spark)
    uri = str(tmp_path / "ds_arr")
    df = spark.createDataFrame(
        [(i, ["en", "de"][i % 2], float(i)) for i in range(100)],
        "k long, lang string, v double",
    )
    (
        df.coalesce(1).write.format("tiledb_native")
        .option("path", uri)
        .option("dims", "k")
        .option("domain.k", "0:1000")
        .option("filters.v", "BITSHUFFLE,ZSTD=7")
        .option("string_compressor", "dictionary")
        .mode("append")
        .save()
    )
    schema = parse_array_schema(_schema_path(uri))
    v = next(a for a in schema.attrs if a.name == "v")
    lang = next(a for a in schema.attrs if a.name == "lang")
    assert native_filters_to_csv(v.filters) == "BITSHUFFLE,ZSTD=7"
    assert native_filters_to_csv(lang.filters) == "DICTIONARY_ENCODING"
    back = (
        spark.read.format("tiledb_native").option("path", uri).load()
        .orderBy("k").collect()
    )
    assert len(back) == 100 and back[3].lang == "de" and back[4].v == 4.0


def test_empty_var_chunk_dict_roundtrip(tmp_path):
    """Zero-cell var tiles (empty fragments / all-cells-elsewhere
    slices) encode an empty dictionary part instead of tripping the
    fixed-field guard."""
    enc = _encode_chunked(b"", [(_F_DICT, b"")], elem=1, var_lens=[])
    p = str(tmp_path / "e.bin")
    with open(p, "wb") as f:
        f.write(enc)
    assert read_tile_file(p, filters=[(_F_DICT, b"")], elem=1,
                          var=True) == b""


def test_webp_refuses_without_pillow():
    """TILEDB_FILTER_WEBP (mytile.cc:1369-1386) is Pillow-gated: with
    no Pillow importable the decode refuses loudly (never a silently
    mis-decoded raster tile); with Pillow it decodes size-validated."""
    import pytest as _pytest

    from tiledb_mariadb_spark.sources.tiledb_native import (
        _decompress_part,
    )

    try:
        import PIL  # noqa: F401
    except ImportError:
        with _pytest.raises(NotImplementedError, match="Pillow"):
            _decompress_part(18, b"RIFFxxxxWEBP", 100, 1)
    else:  # pragma: no cover - Pillow absent in this container
        import os as _os

        # with Pillow but WITHOUT the opt-in flag: still refuses (the
        # layout is unverified against a reference fixture, r8 ADVICE)
        _os.environ.pop("TILEDB_SPARK_WEBP_UNVERIFIED", None)
        with _pytest.raises(NotImplementedError, match="unverified"):
            _decompress_part(18, b"RIFFxxxxWEBP", 100, 1)
        _os.environ["TILEDB_SPARK_WEBP_UNVERIFIED"] = "1"
        try:
            with _pytest.raises(ValueError):
                _decompress_part(18, b"not-a-webp", 100, 1)
        finally:
            _os.environ.pop("TILEDB_SPARK_WEBP_UNVERIFIED", None)
