"""Native-format fragment WRITER round-trips (sources/tiledb_native_write):
everything written must come back byte-exact through the sibling decoder
— schema blob, sparse + dense fragments, var-length, nullable,
multi-value cells, multi-fragment newest-wins, open_at, and the full
Spark connector write→scan path without libtiledb.

Reference parity: write path ha_mytile.cc:3158-3193 (row→buffers),
3273-3360 (flush_write); create path mytile-discovery.cc create_array.
"""

import os

import pytest

from tiledb_mariadb_spark.sources.tiledb_native import (
    NativeAttr,
    NativeDim,
    _fragment_dirs,
    parse_array_schema,
    read_array_metadata,
    read_native_array,
    _schema_path,
)
from tiledb_mariadb_spark.sources.tiledb_native_write import (
    create_native_array,
    write_native_fragment,
)

from .native_model import range_rows


def _mk_sparse(tmp_path, name="arr"):
    d = str(tmp_path / name)
    create_native_array(
        d,
        dims=[NativeDim("row", 1, 1, (1, 1000), None)],
        attrs=[
            NativeAttr("a", 0, 1, False, None),          # int32
            NativeAttr("x", 3, 1, False, None),          # float64
            NativeAttr("s", 12, 0xFFFFFFFF, False, None),  # var string
            NativeAttr("n", 1, 1, True, None),           # nullable int64
        ],
    )
    return d


def test_schema_blob_roundtrip(tmp_path):
    d = _mk_sparse(tmp_path)
    s = parse_array_schema(_schema_path(d))
    assert s.version == 7
    assert s.array_type == "SPARSE"
    assert [x.name for x in s.dims] == ["row"]
    assert s.dims[0].domain == (1, 1000)
    assert [x.name for x in s.attrs] == ["a", "x", "s", "n"]
    assert s.attrs[2].is_var
    assert s.attrs[3].nullable
    # every field pipeline is explicit (no payload sniffing on read)
    assert s.attrs[0].filters and s.offsets_filters and s.validity_filters


def test_sparse_fragment_roundtrip(tmp_path):
    d = _mk_sparse(tmp_path)
    write_native_fragment(
        d,
        {
            "row": [1, 5, 9],
            "a": [10, 20, 30],
            "x": [1.5, -2.25, 3.75],
            "s": ["alpha", "", "多字节"],
            "n": [7, None, 9],
        },
        ts=100,
    )
    _s, rows = read_native_array(d)
    assert rows == [
        (1, 10, 1.5, "alpha", 7),
        (5, 20, -2.25, "", None),
        (9, 30, 3.75, "多字节", 9),
    ]


def test_multi_fragment_newest_wins_and_open_at(tmp_path):
    d = _mk_sparse(tmp_path)
    base = {"x": [0.0], "s": ["v1"], "n": [None]}
    write_native_fragment(d, {"row": [1], "a": [1], **base}, ts=100)
    write_native_fragment(d, {"row": [1], "a": [2], **base}, ts=200)
    write_native_fragment(d, {"row": [2], "a": [3], **base}, ts=300)
    _s, rows = read_native_array(d)
    assert [(r[0], r[1]) for r in rows] == [(1, 2), (2, 3)]
    _s, rows_at = read_native_array(d, at=150)
    assert [(r[0], r[1]) for r in rows_at] == [(1, 1)]


def test_same_ts_appends_stay_deterministic(tmp_path):
    """Auto-ts appends always land strictly newer than committed
    fragments, so rapid writes can't tie (advisor finding on ts-only
    fragment ordering)."""
    d = _mk_sparse(tmp_path)
    base = {"x": [0.0], "s": [""], "n": [None]}
    write_native_fragment(d, {"row": [1], "a": [1], **base})
    write_native_fragment(d, {"row": [1], "a": [2], **base})
    _s, rows = read_native_array(d)
    assert [(r[0], r[1]) for r in rows] == [(1, 2)]


def test_dense_fragment_roundtrip(tmp_path):
    d = str(tmp_path / "dense")
    create_native_array(
        d,
        dims=[
            NativeDim("r", 0, 1, (1, 2), None),
            NativeDim("c", 0, 1, (1, 3), None),
        ],
        attrs=[NativeAttr("v", 1, 1, False, None)],
        array_type="DENSE",
    )
    write_native_fragment(
        d, {"r": [0] * 6, "c": [0] * 6, "v": [10, 20, 30, 40, 50, 60]},
        ts=50,
    )
    _s, rows = read_native_array(d)
    assert rows == [
        (1, 1, 10), (1, 2, 20), (1, 3, 30),
        (2, 1, 40), (2, 2, 50), (2, 3, 60),
    ]
    with pytest.raises(ValueError, match="cover its subarray"):
        write_native_fragment(d, {"r": [0], "c": [0], "v": [1]})


def test_multivalue_and_large_chunked(tmp_path):
    """Fixed multi-value cells plus a column big enough to span several
    64 KiB chunks (exercises the multi-chunk encode/decode path)."""
    d = str(tmp_path / "mv")
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (0, 100000), None)],
        attrs=[
            NativeAttr("pair", 0, 2, False, None),   # int32[2]
            NativeAttr("big", 1, 1, False, None),
        ],
    )
    n = 20000  # 160 KB of int64 -> 3 chunks
    write_native_fragment(
        d,
        {
            "k": list(range(n)),
            "pair": [[i, i * 2] for i in range(n)],
            "big": [i * i for i in range(n)],
        },
        ts=10,
    )
    _s, rows = read_native_array(d)
    assert len(rows) == n
    assert rows[0] == (0, [0, 0], 0)
    assert rows[n - 1] == (n - 1, [n - 1, 2 * (n - 1)], (n - 1) ** 2)


def test_string_dim_roundtrip(tmp_path):
    d = str(tmp_path / "sdim")
    create_native_array(
        d,
        dims=[NativeDim("name", 11, 0xFFFFFFFF, None, None)],
        attrs=[NativeAttr("v", 0, 1, False, None)],
    )
    write_native_fragment(d, {"name": ["bb", "aa", "cc"], "v": [2, 1, 3]},
                          ts=10)
    _s, rows = read_native_array(d)
    assert sorted(rows) == [("aa", 1), ("bb", 2), ("cc", 3)]


def test_connector_write_then_scan(spark, tmp_path):
    """Full Spark path: write_array partitions → independent native
    fragments → read_array scans them back with pruning + conditions,
    no libtiledb anywhere."""
    from tiledb_mariadb_spark.sources.tiledb_array import (
        ArrayInfo,
        AttrInfo,
        DimInfo,
        NativeDecoderBackend,
        read_array,
        write_array,
    )

    uri = str(tmp_path / "spark_arr")
    be = NativeDecoderBackend()
    be.create(
        uri,
        ArrayInfo(
            dims=[DimInfo("id", "bigint", (0, 999))],
            attrs=[
                AttrInfo("val", "double", nullable=False),
                AttrInfo("tag", "string", nullable=False),
            ],
        ),
    )
    src = spark.range(0, 200).selectExpr(
        "id", "CAST(id * 0.5 AS DOUBLE) AS val",
        "CONCAT('t', CAST(id % 3 AS STRING)) AS tag",
    ).repartition(4)
    write_array(src, uri, backend=be)
    from tiledb_mariadb_spark.sources.tiledb_native import _fragment_dirs

    assert len(_fragment_dirs(uri)) == 4  # one COMMITTED fragment per partition

    out = read_array(
        spark, uri, backend=be,
        columns=["id", "val", "tag"],
        dim_ranges={"id": (50, 99)},
        conditions=[("tag", "=", "t0")],
    )
    rows = sorted((r.id, r.val, r.tag) for r in out.collect())
    expect = [(i, i * 0.5, "t0") for i in range(50, 100) if i % 3 == 0]
    assert rows == expect


def test_metadata_untouched_by_write(tmp_path):
    d = _mk_sparse(tmp_path)
    write_native_fragment(
        d, {"row": [1], "a": [1], "x": [0.0], "s": [""], "n": [None]}, ts=5
    )
    assert read_array_metadata(d) == {}


def test_metadata_of_missing_array_raises(tmp_path):
    """A path with no array is an error, not an array without metadata:
    only an existing array lacking __meta/ reads as {}."""
    with pytest.raises(FileNotFoundError):
        read_array_metadata(str(tmp_path / "no_such_array"))


def test_zstd_fragment_pure_python_decode(tmp_path):
    """A fragment compressed with a REAL zstd encoder (fixed and var
    columns, several chunks) round-trips through the native decoder."""
    d = str(tmp_path / "zarr")
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (0, 10**6), None)],
        attrs=[
            NativeAttr("v", 3, 1, False, None),
            NativeAttr("s", 12, 0xFFFFFFFF, False, None),
        ],
        compressor="zstd",
    )
    n = 5000
    write_native_fragment(
        d,
        {
            "k": list(range(n)),
            "v": [i * 0.25 for i in range(n)],
            "s": [f"doc-{i % 97}-{'pad' * (i % 7)}" for i in range(n)],
        },
        ts=10,
    )
    _s, rows = read_native_array(d)
    assert len(rows) == n
    assert rows[0] == (0, 0.0, "doc-0-")
    assert rows[4999] == (4999, 4999 * 0.25, f"doc-{4999 % 97}-{'pad' * (4999 % 7)}")


def test_sub_fragment_split_decodes_only_covering_chunks(tmp_path):
    """O(split) proof: a narrow range read decompresses only the chunks
    covering its cell span, not the whole fragment (verdict round-3
    item: tile-aligned seek in the native connector path)."""
    from tiledb_mariadb_spark.sources.tiledb_native import (
        _SPAN_STATS,
    )

    d = str(tmp_path / "spanarr")
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (0, 10**6), None)],
        attrs=[
            NativeAttr("v", 3, 1, False, None),
            NativeAttr("s", 12, 0xFFFFFFFF, False, None),
        ],
    )
    n = 60000  # int64 dim = 480 KB -> ~8 chunks per fixed column
    write_native_fragment(
        d,
        {
            "k": list(range(n)),
            "v": [i * 0.5 for i in range(n)],
            "s": [f"w{i % 13}" for i in range(n)],
        },
        ts=10,
    )
    _SPAN_STATS.update(chunks_decoded=0, chunks_total=0, bytes_decoded=0)
    names, rows = range_rows(d, ranges=[(1000, 1999)])
    assert names == ["k", "v", "s"]
    assert len(rows) == 1000
    assert rows[0] == (1000, 500.0, f"w{1000 % 13}")
    narrow = _SPAN_STATS["chunks_decoded"]

    _SPAN_STATS.update(chunks_decoded=0, chunks_total=0, bytes_decoded=0)
    _n2, rows_all = range_rows(d, ranges=[(None, None)])
    assert len(rows_all) == n
    full = _SPAN_STATS["chunks_decoded"]
    # the narrow split touches a small fraction of the attr chunks
    assert narrow < full / 2, (narrow, full)


def test_split_projection_skips_unrequested_attrs(tmp_path):
    from tiledb_mariadb_spark.sources.tiledb_native import (
        _SPAN_STATS,
    )

    d = str(tmp_path / "projarr")
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (0, 10**6), None)],
        attrs=[
            NativeAttr("a", 1, 1, False, None),
            NativeAttr("b", 1, 1, False, None),
        ],
    )
    n = 30000
    write_native_fragment(
        d, {"k": list(range(n)), "a": list(range(n)),
            "b": [i * 2 for i in range(n)]}, ts=10
    )
    _SPAN_STATS.update(chunks_decoded=0, chunks_total=0, bytes_decoded=0)
    names, rows = range_rows(
        d, ranges=[(0, 99)], columns=["a"]
    )
    assert names == ["k", "a"]
    assert rows[0] == (0, 0)
    only_a = _SPAN_STATS["chunks_decoded"]
    _SPAN_STATS.update(chunks_decoded=0, chunks_total=0, bytes_decoded=0)
    range_rows(d, ranges=[(0, 99)], columns=["a", "b"])
    both = _SPAN_STATS["chunks_decoded"]
    assert only_a < both


def test_connector_split_tasks_bounded(spark, tmp_path):
    """Per-task rows match split bounds through the full connector."""
    from tiledb_mariadb_spark.sources.tiledb_array import (
        ArrayInfo,
        AttrInfo,
        DimInfo,
        NativeDecoderBackend,
        read_array,
        write_array,
    )

    uri = str(tmp_path / "split_arr")
    be = NativeDecoderBackend()
    be.create(
        uri,
        ArrayInfo(
            dims=[DimInfo("id", "bigint", (0, 3999))],
            attrs=[AttrInfo("val", "bigint", nullable=False)],
        ),
    )
    write_array(
        spark.range(0, 4000).selectExpr("id", "id * 3 AS val"),
        uri, backend=be,
    )
    out = read_array(
        spark, uri, backend=be, dim_ranges={"id": (1000, 2999)},
        target_splits=4,
    )
    per_task = (
        out.selectExpr("spark_partition_id() AS p", "id")
        .groupBy("p").count().collect()
    )
    assert sum(r["count"] for r in per_task) == 2000
    # each task carries whole 500-row splits (split ids are
    # hash-distributed, so a task may own more than one)
    assert all(r["count"] % 500 == 0 and r["count"] > 0 for r in per_task)


def test_checksum_filter_verified_on_read(tmp_path):
    """CHECKSUM_MD5/SHA256 filter parity (mytile/mytile.cc filter map):
    chunk digests ride as filter metadata, are verified on EVERY read,
    and a flipped payload byte fails loudly instead of misreading."""
    for algo in ("md5", "sha256"):
        d = str(tmp_path / f"ck_{algo}")
        create_native_array(
            d,
            dims=[NativeDim("k", 1, 1, (0, 10**6), None)],
            attrs=[NativeAttr("v", 1, 1, False, None)],
            compressor="zstd",
            checksum=algo,
        )
        n = 5000
        write_native_fragment(
            d, {"k": list(range(n)), "v": [i * 3 for i in range(n)]}, ts=10
        )
        _s, rows = read_native_array(d)
        assert len(rows) == n and rows[7] == (7, 21)
        # corrupt one byte of the attr payload -> read must raise
        from tiledb_mariadb_spark.sources.tiledb_native import _fragment_dirs

        vp = os.path.join(_fragment_dirs(d)[0], "v.tdb")
        blob = bytearray(open(vp, "rb").read())
        blob[len(blob) // 2] ^= 0xFF
        open(vp, "wb").write(bytes(blob))
        with pytest.raises(Exception, match="checksum|zstd|decoded"):
            read_native_array(d)


def test_transform_filters_roundtrip(tmp_path):
    """BYTESHUFFLE / XOR / SCALE_FLOAT filter parity: written through the
    forward pipeline, read back through the schema-declared reverse
    pipeline — including composition with checksum + compressor."""
    import struct as _st

    from tiledb_mariadb_spark.sources.tiledb_native import (
        _F_GZIP,
        _F_MD5,
        _F_ZSTD,
    )

    BSHUF, SCALE, XOR = 9, 15, 16
    sf_meta = _st.pack("<ddQ", 0.25, 100.0, 2)  # factor, offset, int16
    cases = [
        ("bshuf_gzip", [(BSHUF, b""), (_F_GZIP, b"")], 1,
         list(range(3000))),
        ("xor_zstd", [(XOR, b""), (_F_ZSTD, b"")], 1,
         [i * 7 % 1000 for i in range(3000)]),
        ("bshuf_md5_zstd", [(BSHUF, b""), (_F_MD5, b""), (_F_ZSTD, b"")],
         1, list(range(0, 30000, 10))),
    ]
    for name, filters, _dt, vals in cases:
        d = str(tmp_path / name)
        create_native_array(
            d,
            dims=[NativeDim("k", 1, 1, (0, 10**6), None)],
            attrs=[NativeAttr("v", 1, 1, False, None, filters=filters)],
        )
        write_native_fragment(
            d, {"k": list(range(len(vals))), "v": vals}, ts=10
        )
        _s, rows = read_native_array(d)
        assert [r[1] for r in rows] == vals, name

    # SCALE_FLOAT: float64 -> int16 at factor 0.25 / offset 100
    d = str(tmp_path / "scalef")
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (0, 10**6), None)],
        attrs=[
            NativeAttr("x", 3, 1, False, None,
                       filters=[(SCALE, sf_meta), (_F_GZIP, b"")]),
        ],
    )
    vals = [100.0 + 0.25 * i for i in range(-200, 200)]
    write_native_fragment(
        d, {"k": list(range(len(vals))), "x": vals}, ts=10
    )
    _s, rows = read_native_array(d)
    assert [r[1] for r in rows] == vals  # exactly representable grid


def test_sparse_writes_land_in_global_order(tmp_path):
    """TileDB sparse fragments hold cells in global (row-major) order;
    the writer sorts unordered input before emission, so on-disk
    coordinate chunks are monotone."""
    from tiledb_mariadb_spark.sources.tiledb_native import (
        _fragment_dirs,
        _np_field,
    )

    d = _mk_sparse(tmp_path)
    write_native_fragment(
        d,
        {
            "row": [9, 1, 5],
            "a": [30, 10, 20],
            "x": [3.0, 1.0, 2.0],
            "s": ["c", "a", "b"],
            "n": [None, 1, 2],
        },
        ts=10,
    )
    schema = parse_array_schema(_schema_path(d))
    frag = _fragment_dirs(d)[0]
    assert _np_field(
        frag, schema, schema.dims[0], 0, "d", 0, 3
    ).tolist() == [1, 5, 9]
    assert _np_field(
        frag, schema, schema.attrs[0], 0, "a", 0, 3
    ).tolist() == [10, 20, 30]
    _s, rows = read_native_array(d)
    assert [r[:2] for r in rows] == [(1, 10), (5, 20), (9, 30)]


def test_consolidate_and_vacuum_native(tmp_path):
    """Fragment maintenance: consolidate materializes the merged state
    as one new fragment (history intact), vacuum then drops the old
    fragments (history gone, state identical)."""
    from tiledb_mariadb_spark.sources.tiledb_native import _fragment_dirs
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        consolidate_native_array,
        vacuum_native_array,
    )

    d = _mk_sparse(tmp_path)
    base = {"x": [0.0], "s": [""], "n": [None]}
    write_native_fragment(d, {"row": [1], "a": [1], **base}, ts=100)
    write_native_fragment(d, {"row": [1], "a": [2], **base}, ts=200)
    write_native_fragment(d, {"row": [2], "a": [3], **base}, ts=300)
    _s, before = read_native_array(d)
    frag = consolidate_native_array(d)
    assert frag is not None
    # full view: coverage rule reads ONLY the consolidated [100,300]
    # fragment; the three originals are on disk but skipped
    assert [os.path.basename(f) for f in _fragment_dirs(d)] == [
        os.path.basename(frag)
    ]
    froot = os.path.dirname(frag)
    assert len([f for f in os.listdir(froot) if f.startswith("__")]) == 4
    _s, after = read_native_array(d)
    assert after == before
    # history still visible pre-vacuum: opening MID-RANGE skips the
    # consolidated fragment and falls back to the originals
    _s, hist = read_native_array(d, at=150)
    assert [(r[0], r[1]) for r in hist] == [(1, 1)]
    assert vacuum_native_array(d) == 3
    assert len(_fragment_dirs(d)) == 1
    # vacuumed: mid-range time travel now has nothing to fall back to
    _s, gone = read_native_array(d, at=150)
    assert gone == []
    _s, final = read_native_array(d)
    assert final == before


def test_allows_dups_keeps_duplicates(tmp_path):
    """allows_dups=true arrays KEEP duplicate coordinates — within a
    fragment and across fragments — instead of newest-wins overwrite
    (t/duplicates.test semantics); allows_dups=false dedupes as before."""
    from tiledb_mariadb_spark.sources.tiledb_native import (
        parse_array_schema as _pas,
    )

    for dups in (True, False):
        d = str(tmp_path / f"dups_{dups}")
        create_native_array(
            d,
            dims=[NativeDim("k", 1, 1, (0, 100), None)],
            attrs=[NativeAttr("v", 1, 1, False, None)],
            allows_dups=dups,
        )
        assert _pas(_schema_path(d)).allows_dups is dups
        write_native_fragment(d, {"k": [1, 1, 2], "v": [10, 11, 20]}, ts=100)
        write_native_fragment(d, {"k": [1, 3], "v": [12, 30]}, ts=200)
        _s, rows = read_native_array(d)
        if dups:
            assert rows == [
                (1, 10), (1, 11), (1, 12), (2, 20), (3, 30)
            ]
        else:
            assert rows == [(1, 12), (2, 20), (3, 30)]
        _n, ranged = range_rows(d, ranges=[(1, 1)])
        assert len(ranged) == (3 if dups else 1)


def test_array_metadata_roundtrip(tmp_path):
    """Native array metadata: put/update/delete are timestamped APPENDS
    (immutable entry files), the decoder folds them newest-wins —
    t/metadata.test semantics through the on-disk format."""
    from tiledb_mariadb_spark.sources.tiledb_native import (
        read_array_metadata,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        write_array_metadata,
    )

    d = str(tmp_path / "arr")
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (0, 10), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
    )
    assert read_array_metadata(d) == {}
    write_array_metadata(
        d, {"owner": "etl", "n": 42, "scales": [1.5, 2.0]}, ts=100
    )
    assert read_array_metadata(d) == {
        "owner": "etl", "n": "42", "scales": "1.5,2"
    }
    # update + tombstone land as a SECOND entry file
    write_array_metadata(d, {"n": 43, "owner": None}, ts=200)
    assert read_array_metadata(d) == {"n": "43", "scales": "1.5,2"}
    import os as _os

    assert len(_os.listdir(_os.path.join(d, "__meta"))) == 2


def test_schema_evolution_native(tmp_path):
    """Format-level ALTER TABLE: a new timestamped __schema/ blob; old
    fragments read evolved-in attrs as fill/NULL, dropped attrs stop
    being requested; ranged reads honor the same rules."""
    import struct as _struct

    from tiledb_mariadb_spark.sources.tiledb_native import (
        read_native_array,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        evolve_native_schema,
    )

    d = str(tmp_path / "evo")
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (0, 100), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
    )
    write_native_fragment(d, {"k": [1, 2, 3], "v": [10, 20, 30]}, ts=100)
    evolve_native_schema(
        d,
        add_attrs=[
            NativeAttr("y", 1, 1, True, None),
            NativeAttr("z", 1, 1, False, _struct.pack("<q", -7)),
        ],
        ts=150,
    )
    write_native_fragment(
        d, {"k": [4], "v": [40], "y": [99], "z": [5]}, ts=200
    )
    s, rows = read_native_array(d)
    assert [a.name for a in s.attrs] == ["v", "y", "z"]
    assert rows == [
        (1, 10, None, -7), (2, 20, None, -7), (3, 30, None, -7),
        (4, 40, 99, 5),
    ]
    # history preserved: two schema blobs on disk
    assert len(os.listdir(os.path.join(d, "__schema"))) == 2
    evolve_native_schema(d, drop_attrs=["v"], ts=300)
    _s, rows = read_native_array(d)
    assert rows == [(1, None, -7), (2, None, -7), (3, None, -7), (4, 99, 5)]
    _n, ranged = range_rows(d, ranges=[(2, 4)])
    assert ranged == [(2, None, -7), (3, None, -7), (4, 99, 5)]
    # guard rails
    with pytest.raises(ValueError):
        evolve_native_schema(d, drop_attrs=["nope"])
    with pytest.raises(ValueError):
        evolve_native_schema(d, add_attrs=[NativeAttr("y", 1, 1, True, None)])
    with pytest.raises(ValueError):
        evolve_native_schema(d, drop_attrs=["y", "z"])


def test_hilbert_cell_order_native(tmp_path):
    """cell_order=HILBERT (t/hilbert.test at format level): cells land
    in 2-D Hilbert curve order, the schema blob records layout id 4
    (the quickstart_sparse_hilbert fixture's id), reads stay exact, and
    — the point of the curve — R-tree tile MBRs become compact on BOTH
    axes, so a box query prunes far more tiles than row-major order
    whichever dim it constrains."""
    from tiledb_mariadb_spark.sources.tiledb_native import (
        read_native_array,
        rtree_tile_runs,
    )

    grid = [(x, y, x * 1000 + y) for x in range(40) for y in range(40)]
    arrays = {}
    for co in ("ROW_MAJOR", "HILBERT"):
        d = str(tmp_path / co.lower())
        create_native_array(
            d,
            dims=[
                NativeDim("x", 1, 1, (0, 63), None),
                NativeDim("y", 1, 1, (0, 63), None),
            ],
            attrs=[NativeAttr("v", 1, 1, False, None)],
            capacity=16,
            cell_order=co,
        )
        write_native_fragment(
            d,
            {"x": [g[0] for g in grid], "y": [g[1] for g in grid],
             "v": [g[2] for g in grid]},
            ts=10,
        )
        arrays[co] = d
        schema = parse_array_schema(_schema_path(d))
        assert schema.cell_order == (4 if co == "HILBERT" else 0)
        # exactness: both layouts decode to the same (sorted) rows
        _s, rows = read_native_array(d)
        assert rows == sorted(grid)
        box = [(10, 17), (10, 17)]
        _n, got = range_rows(d, ranges=box)
        assert got == [
            g for g in sorted(grid) if 10 <= g[0] <= 17 and 10 <= g[1] <= 17
        ]

    def covered(d, rngs):
        schema = parse_array_schema(_schema_path(d))
        runs = rtree_tile_runs(_fragment_dirs(d)[0], schema, rngs)
        return sum(hi - lo for lo, hi, _n in runs) if runs else 1600

    # y-only range: row-major tiles all span the full y axis -> no
    # pruning; Hilbert tiles are compact in y -> most tiles pruned
    y_range = [(None, None), (10, 17)]
    assert covered(arrays["ROW_MAJOR"], y_range) >= 1200
    assert covered(arrays["HILBERT"], y_range) <= 800
    # box query: Hilbert covers a small neighborhood of the box
    box = [(10, 17), (10, 17)]
    assert covered(arrays["HILBERT"], box) <= covered(arrays["ROW_MAJOR"], box)


def test_hilbert_rejects_unsupported_shapes(tmp_path):
    with pytest.raises(ValueError):
        create_native_array(
            str(tmp_path / "h1"),
            dims=[NativeDim("k", 1, 1, (0, 10), None)],
            attrs=[NativeAttr("v", 1, 1, False, None)],
            cell_order="HILBERT",
        )


def test_dense_subarray_writes(tmp_path):
    """Dense SUBARRAY fragments (dense_writes.test at format level):
    tile-aligned boxes, newest-wins overlay on overlap, bounding-box
    reads with fill for never-written cells (fill_in.test), exact
    metadata count = bbox volume, and tile-order layout under extents."""
    import struct as _struct

    from tiledb_mariadb_spark.sources.tiledb_native import (
        count_native_array,
        estimate_range_cells,
        read_native_array,
    )

    d = str(tmp_path / "densesub")
    create_native_array(
        d,
        array_type="DENSE",
        dims=[NativeDim("k", 1, 1, (0, 19), 5)],  # extent 5 -> 4 tiles
        attrs=[NativeAttr("v", 1, 1, False, _struct.pack("<q", -1))],
    )
    write_native_fragment(
        d, {"v": [100 + i for i in range(10)]}, ts=100, subarray=[(0, 9)]
    )
    write_native_fragment(
        d, {"v": [200 + i for i in range(5)]}, ts=200, subarray=[(15, 19)]
    )
    _s, rows = read_native_array(d)
    # bbox [0,19]: [0,9] from frag1, [10,14] = FILL, [15,19] from frag2
    assert rows == (
        [(i, 100 + i) for i in range(10)]
        + [(i, -1) for i in range(10, 15)]
        + [(i, 200 + i - 15) for i in range(15, 20)]
    )
    assert count_native_array(d) == 20
    assert estimate_range_cells(d, ranges=[(8, 16)]) == 9
    _n, ranged = range_rows(d, ranges=[(8, 16)])
    assert ranged == (
        [(8, 108), (9, 109)]
        + [(i, -1) for i in range(10, 15)]
        + [(15, 200), (16, 201)]
    )
    # overlap: newer box wins on the shared cells
    write_native_fragment(
        d, {"v": [900 + i for i in range(5)]}, ts=300, subarray=[(5, 9)]
    )
    _s, rows = read_native_array(d)
    assert rows[5:10] == [(i, 900 + i - 5) for i in range(5, 10)]
    # time travel still sees the pre-overlap image
    _s, old = read_native_array(d, at=150)
    assert old == [(i, 100 + i) for i in range(10)]

    # UNALIGNED subarray (round 6): expanded to tile boundaries on disk
    # (libtiledb Domain::expand_to_tiles), footer NED = the true box, and
    # the edge-tile fill padding never shadows older fragments' data
    write_native_fragment(d, {"v": [0] * 5}, ts=400, subarray=[(3, 7)])
    _s, rows = read_native_array(d)
    assert rows[3:8] == [(i, 0) for i in range(3, 8)]
    assert rows[0:3] == [(i, 100 + i) for i in range(3)]  # not padded over
    assert rows[8:10] == [(i, 900 + i - 5) for i in range(8, 10)]
    assert count_native_array(d) == 20

    # volume guard
    with pytest.raises(ValueError):
        write_native_fragment(d, {"v": [0] * 4}, subarray=[(0, 4)])

    # 2-D: tile order differs from row-major box order — the writer
    # permutes, so reads come back coordinate-correct
    d2 = str(tmp_path / "dense2d")
    create_native_array(
        d2,
        array_type="DENSE",
        dims=[
            NativeDim("x", 1, 1, (0, 3), 2),
            NativeDim("y", 1, 1, (0, 3), 2),
        ],
        attrs=[NativeAttr("v", 1, 1, False, None)],
    )
    # full domain, row-major values v = 10*x + y
    write_native_fragment(
        d2, {"v": [10 * x + y for x in range(4) for y in range(4)]}, ts=10
    )
    _s, rows2 = read_native_array(d2)
    assert rows2 == [
        (x, y, 10 * x + y) for x in range(4) for y in range(4)
    ]


def test_col_major_cell_order_native(tmp_path):
    """cell_order=COL_MAJOR: sparse cells land sorted by the REVERSED
    dim tuple (last dim slowest... first dim fastest within), layout id
    1 in the schema blob; reads stay coordinate-exact."""
    from tiledb_mariadb_spark.sources.tiledb_native import (
        _np_field,
        read_native_array,
    )

    d = str(tmp_path / "colmajor")
    create_native_array(
        d,
        dims=[
            NativeDim("x", 1, 1, (0, 9), None),
            NativeDim("y", 1, 1, (0, 9), None),
        ],
        attrs=[NativeAttr("v", 1, 1, False, None)],
        cell_order="COL_MAJOR",
    )
    pts = [(x, y, 10 * x + y) for x in range(4) for y in range(4)]
    write_native_fragment(
        d,
        {"x": [p[0] for p in pts], "y": [p[1] for p in pts],
         "v": [p[2] for p in pts]},
        ts=10,
    )
    schema = parse_array_schema(_schema_path(d))
    assert schema.cell_order == 1
    # on-disk order: y-major (y slowest? no — reversed tuple sort means
    # y is the PRIMARY sort key)
    frag = _fragment_dirs(d)[0]
    ys = _np_field(frag, schema, schema.dims[1], 1, "d", 0, 16).tolist()
    assert ys == sorted(ys)
    _s, rows = read_native_array(d)
    assert rows == sorted(pts)
    _n, got = range_rows(d, ranges=[(1, 2), (None, None)])
    assert got == [p for p in sorted(pts) if 1 <= p[0] <= 2]
    with pytest.raises(ValueError):
        create_native_array(
            str(tmp_path / "cmdense"),
            array_type="DENSE",
            dims=[NativeDim("k", 1, 1, (0, 9), None)],
            attrs=[NativeAttr("v", 1, 1, False, None)],
            cell_order="COL_MAJOR",
        )


def test_consolidation_after_evolution(tmp_path):
    """Consolidating an evolved array materializes the CURRENT schema's
    view (fills included) into one fragment; reads before and after
    consolidation agree, and vacuum leaves a single fragment."""
    import struct as _struct

    from tiledb_mariadb_spark.sources.tiledb_native import (
        read_native_array,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        consolidate_native_array,
        evolve_native_schema,
        vacuum_native_array,
    )

    d = str(tmp_path / "evocons")
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (0, 100), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
    )
    write_native_fragment(d, {"k": [1, 2], "v": [10, 20]}, ts=100)
    evolve_native_schema(
        d,
        add_attrs=[NativeAttr("z", 1, 1, False, _struct.pack("<q", -3))],
        ts=150,
    )
    write_native_fragment(d, {"k": [2, 3], "v": [21, 30], "z": [5, 6]},
                          ts=200)
    _s, before = read_native_array(d)
    assert before == [(1, 10, -3), (2, 21, 5), (3, 30, 6)]
    assert consolidate_native_array(d) is not None
    _s, after = read_native_array(d)
    assert after == before
    assert vacuum_native_array(d) == 2
    assert len(_fragment_dirs(d)) == 1
    _s, final = read_native_array(d)
    assert final == before


def test_datetime_dim_native_write(tmp_path):
    """DATETIME-typed dims (int64 ticks) round-trip through the writer
    with range pruning — mrr_datetime_dimensions.test at format level."""
    from tiledb_mariadb_spark.sources.tiledb_native import (
        count_native_array,
        read_native_array,
    )

    d = str(tmp_path / "dtdim")
    create_native_array(
        d,
        dims=[NativeDim("ts", 23, 1, (0, 10**15), None)],  # DATETIME ticks
        attrs=[NativeAttr("v", 1, 1, False, None)],
    )
    write_native_fragment(d, {"ts": [1000, 2000, 5000], "v": [1, 2, 3]},
                          ts=10)
    _s, rows = read_native_array(d)
    assert rows == [(1000, 1), (2000, 2), (5000, 3)]
    _n, got = range_rows(d, ranges=[(1500, 4000)])
    assert got == [(2000, 2)]
    assert count_native_array(d) == 3


def test_metadata_consolidation(tmp_path):
    """consolidate_array_metadata folds the __meta entry history into
    one merged typed file; the rendered dict is identical before,
    beside the originals, and after vacuum; tombstoned keys stay dead;
    a second consolidation is a no-op."""
    from tiledb_mariadb_spark.sources.tiledb_native import (
        read_array_metadata,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        consolidate_array_metadata,
        vacuum_native_array,
        write_array_metadata,
    )

    d = str(tmp_path / "metacons")
    create_native_array(
        d, [NativeDim("k", 1, 1, (0, 10), None)],
        [NativeAttr("v", 1, 1, False, None)],
    )
    write_array_metadata(d, {"a": 1, "b": "hello", "c": [1.5, 2.5]},
                         ts=100)
    write_array_metadata(d, {"a": 2, "d": [7, 8, 9]}, ts=200)
    write_array_metadata(d, {"b": None, "e": 3.25}, ts=300)
    before = read_array_metadata(d)
    assert before == {
        "a": "2", "c": "1.5,2.5", "d": "7,8,9", "e": "3.25"
    }
    merged = consolidate_array_metadata(d)
    assert merged is not None
    assert read_array_metadata(d) == before  # replay beside originals
    assert vacuum_native_array(d) == 3
    assert read_array_metadata(d) == before
    meta_files = [
        f for f in os.listdir(os.path.join(d, "__meta"))
        if not f.endswith(".vac")
    ]
    assert len(meta_files) == 1
    assert consolidate_array_metadata(d) is None  # nothing to fold
    # history continues on top of the consolidated file
    write_array_metadata(d, {"a": None, "f": "new"}, ts=400)
    assert read_array_metadata(d) == {
        "c": "1.5,2.5", "d": "7,8,9", "e": "3.25", "f": "new"
    }


def test_write_array_explicit_timestamp(spark, tmp_path):
    """write_array(ts=...): TileDB's open-at-timestamp writes through
    the connector — rapid successive writes stay deterministic under
    newest-wins, and time travel sees each layer exactly."""
    from tiledb_mariadb_spark.sources.tiledb_array import (
        ArrayInfo,
        AttrInfo,
        DimInfo,
        NativeDecoderBackend,
        read_array,
        write_array,
    )

    uri = str(tmp_path / "ts_arr")
    NativeDecoderBackend().create(
        uri,
        ArrayInfo(
            dims=[DimInfo("id", "bigint", (0, 999))],
            attrs=[AttrInfo("v", "bigint", nullable=False)],
        ),
    )
    df1 = spark.range(0, 100).selectExpr("id", "id AS v")
    df2 = spark.range(50, 100).selectExpr("id", "id * 100 AS v")
    write_array(df1.repartition(2), uri, ts=1000)
    write_array(df2.repartition(2), uri, ts=2000)  # same-wall-ms safe
    now = sorted(
        (r.id, r.v) for r in read_array(spark, uri).collect()
    )
    assert now == [(i, i if i < 50 else i * 100) for i in range(100)]
    old = sorted(
        (r.id, r.v) for r in read_array(spark, uri, at=1500).collect()
    )
    assert old == [(i, i) for i in range(100)]


def test_metadata_time_travel(tmp_path):
    """read_array_metadata(at=...): the open_at rule on metadata
    entries — mid-range opens skip a consolidated file and fall back to
    the originals (kept until vacuum), exactly like fragments."""
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        consolidate_array_metadata,
        vacuum_native_array,
        write_array_metadata,
    )

    d = str(tmp_path / "metatt")
    create_native_array(
        d, [NativeDim("k", 1, 1, (0, 10), None)],
        [NativeAttr("v", 1, 1, False, None)],
    )
    write_array_metadata(d, {"a": 1}, ts=100)
    write_array_metadata(d, {"a": 2, "b": "x"}, ts=200)
    write_array_metadata(d, {"b": None}, ts=300)
    assert read_array_metadata(d, at=100) == {"a": "1"}
    assert read_array_metadata(d, at=250) == {"a": "2", "b": "x"}
    assert read_array_metadata(d, at=300) == {"a": "2"}
    consolidate_array_metadata(d)
    # mid-range open skips the [100,300] merged file, sees originals
    assert read_array_metadata(d, at=250) == {"a": "2", "b": "x"}
    assert read_array_metadata(d) == {"a": "2"}
    vacuum_native_array(d)
    # vacuum destroys time travel INTO the folded range, like fragments
    assert read_array_metadata(d, at=250) == {}
    assert read_array_metadata(d) == {"a": "2"}


def test_window_reads_since(spark, tmp_path):
    """since= (TileDB timestamp_start): reads only fragments whose
    whole range lies in [since, at] — the CDC-export window, newest-wins
    WITHIN the window, value-deletes before the window can't match."""
    from tiledb_mariadb_spark.sources.tiledb_array import (
        ArrayInfo,
        AttrInfo,
        DimInfo,
        NativeDecoderBackend,
        read_array,
        write_array,
    )

    uri = str(tmp_path / "win")
    NativeDecoderBackend().create(
        uri,
        ArrayInfo(
            dims=[DimInfo("id", "bigint", (0, 999))],
            attrs=[AttrInfo("v", "bigint", nullable=False)],
        ),
    )
    write_array(spark.range(0, 50).selectExpr("id", "id AS v"),
                uri, ts=1000)
    write_array(spark.range(20, 60).selectExpr("id", "id*10 AS v"),
                uri, ts=2000)
    write_array(spark.range(40, 80).selectExpr("id", "id*100 AS v"),
                uri, ts=3000)
    # window [1500, 2500]: only the ts=2000 layer
    rows = sorted(
        (r.id, r.v)
        for r in read_array(spark, uri, since=1500, at=2500).collect()
    )
    assert rows == [(i, i * 10) for i in range(20, 60)]
    # window [1500, 3500]: layers 2+3, newest-wins within the window
    rows = sorted(
        (r.id, r.v)
        for r in read_array(spark, uri, since=1500).collect()
    )
    assert rows == [
        (i, i * 10) for i in range(20, 40)
    ] + [(i, i * 100) for i in range(40, 80)]
    # the decoder's own window read
    _n, rr = range_rows(uri, since=1500, at=2500)
    assert rr == [(i, i * 10) for i in range(20, 60)]
    # the format's options
    from tiledb_mariadb_spark.sources.jvm_agg import agg_reader

    df = agg_reader(spark, uri, since=1500, at=2500).load()
    assert sorted((r.id, r.v) for r in df.collect()) == [
        (i, i * 10) for i in range(20, 60)
    ]


def test_window_reads_survive_unvacuumed_consolidation(spark, tmp_path):
    """since= must be applied BEFORE the consolidation-coverage rule
    (round-7 advisor finding): pre-vacuum, a consolidated fragment
    spanning the window start used to hide the still-on-disk originals
    via coverage and then be dropped itself by since — read_array
    (since=1500) returned [] instead of the in-window layers, and
    window_ned returned [] so split planning skipped the scan entirely.
    Window visibility now precedes coverage dedup in _fragment_dirs."""
    from tiledb_mariadb_spark.sources.tiledb_array import (
        ArrayInfo,
        AttrInfo,
        DimInfo,
        NativeDecoderBackend,
        read_array,
        write_array,
    )
    from tiledb_mariadb_spark.sources.tiledb_native import (
        window_ned,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        consolidate_native_array,
        vacuum_native_array,
    )

    uri = str(tmp_path / "wincon")
    NativeDecoderBackend().create(
        uri,
        ArrayInfo(
            dims=[DimInfo("id", "bigint", (0, 999))],
            attrs=[AttrInfo("v", "bigint", nullable=False)],
        ),
    )
    write_array(spark.range(0, 30).selectExpr("id", "id AS v"),
                uri, ts=1000)
    write_array(spark.range(10, 40).selectExpr("id", "id*10 AS v"),
                uri, ts=2000)
    write_array(spark.range(20, 50).selectExpr("id", "id*100 AS v"),
                uri, ts=3000)
    assert consolidate_native_array(uri) is not None  # NO vacuum
    expect = [(i, i * 10) for i in range(10, 20)] + [
        (i, i * 100) for i in range(20, 50)
    ]
    # the originals are still on disk: the window must see them even
    # though the consolidated [1000,3000] fragment straddles since
    rows = sorted(
        (r.id, r.v)
        for r in read_array(spark, uri, since=1500).collect()
    )
    assert rows == expect
    _n, rr = range_rows(uri, since=1500)
    assert rr == expect
    # split planning sees the window fragments' union box, not []
    assert window_ned(uri, since=1500) == [(10, 49)]
    # post-vacuum the originals are gone and the consolidated fragment
    # straddles the window start.  libtiledb's timestamp_start parity
    # would be an "honestly-empty" window — but a CDC consumer reading
    # [] concludes "no changes" and silently loses the folded-away
    # updates (the same hazard class as the diff_arrays vacuum finding),
    # so round 8 deliberately DIVERGES: the read surface raises loudly.
    vacuum_native_array(uri)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="destroyed by consolidation"):
        read_array(spark, uri, since=1500)
    # the metadata layer itself keeps the fold-away semantics (planning
    # helpers must not raise); only the user-facing reads guard
    assert window_ned(uri, since=1500) == []
    assert range_rows(uri, since=1500)[1] == []
    # a window that starts AT the consolidated range's t1 is complete
    rows2 = read_array(spark, uri, since=1000).count()
    assert rows2 == 50


def test_window_split_planning_prunes(spark, tmp_path):
    """read_array(since=) intersects split planning with the WINDOW
    fragments' union bounding box (metadata only): a narrow CDC window
    over a wide array launches tasks only where its fragments live, and
    an empty window returns an empty frame without any task."""
    from tiledb_mariadb_spark.sources.tiledb_array import (
        ArrayInfo,
        AttrInfo,
        DimInfo,
        NativeDecoderBackend,
        read_array,
        write_array,
    )
    from tiledb_mariadb_spark.sources.tiledb_native import window_ned

    uri = str(tmp_path / "wplan")
    NativeDecoderBackend().create(
        uri,
        ArrayInfo(
            dims=[DimInfo("id", "bigint", (0, 10**6))],
            attrs=[AttrInfo("v", "bigint", nullable=False)],
        ),
    )
    write_array(
        spark.range(0, 5000).selectExpr("id", "id AS v"), uri, ts=1000
    )
    write_array(
        spark.range(700000, 700100).selectExpr("id", "id AS v"),
        uri, ts=2000,
    )
    assert window_ned(uri, since=1500) == [(700000, 700099)]
    assert window_ned(uri) == [(0, 700099)]
    assert window_ned(uri, since=9999) == []
    out = read_array(spark, uri, since=1500, target_splits=8)
    rows = sorted((r.id, r.v) for r in out.collect())
    assert rows == [(i, i) for i in range(700000, 700100)]
    assert read_array(spark, uri, since=9999).count() == 0
    # window box composes with caller dim_ranges (intersection)
    out2 = read_array(
        spark, uri, since=1500, dim_ranges={"id": (0, 700050)}
    )
    assert out2.count() == 51
    # the tiledb_agg planner (the bridge's splits command) shares the
    # window box: its splits lie inside it, and an empty window plans
    # none
    from .bridge_plan import splits

    parts = splits(uri, "--since", "1500", "--target-splits", "8")
    assert parts and all(
        700000 <= lo and hi <= 700099 for p in parts for lo, hi in p
    )
    assert splits(uri, "--since", "9999") == []


def test_vectorized_text_pack_byte_identity():
    """The numpy S-dtype fast path in _pack_fixed and the inlined var-blob
    builder must stay byte-identical to the per-cell reference (encode,
    truncate-safely, NUL-pad) for every text dtype."""
    from tiledb_mariadb_spark.sources.tiledb_native import _TEXT_CODEC
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        _pack_fixed,
        _to_bytes_cell,
    )

    def ref_fixed(vals, dtype_id, cvn):
        _, _code, size = __import__(
            "tiledb_mariadb_spark.sources.tiledb_native_write",
            fromlist=["_DT"],
        )._DT[dtype_id]
        cb = cvn * size
        out = bytearray()
        for v in vals:
            b = _to_bytes_cell(v if v is not None else "", dtype_id)
            assert len(b) <= cb  # identity cases only; truncation has
            out += b.ljust(cb, b"\x00")  # its own tests (utf_exotic)
        return bytes(out)

    cases = [
        (4, 8, ["ab", None, "", "x\x00y", "abcdefgh", "日本"]),
        (11, 6, ["", None, "éé", "ascii6"]),
        (12, 4, [b"ab", "cd", None, b"\x00\x01"]),
        (13, 6, ["ab", "漢字", None, ""]),   # UTF-16-LE units
        (14, 3, ["a\U0001F600", None, "xyz"]),  # UTF-32-LE units
    ]
    for dtype_id, cvn, vals in cases:
        assert _pack_fixed(vals, dtype_id, cvn) == ref_fixed(
            vals, dtype_id, cvn
        ), f"dtype {dtype_id}"
    assert _pack_fixed([], 4, 8) == b""

    # var-cell blob building (the _write_field_files inline) vs the
    # reference _to_bytes_cell, for text and binary var dtypes
    for dtype_id in (4, 11, 12, 39, 41, 42):
        vals = ["ab", None, "", b"raw\x00bytes", "日本語 text"]
        if dtype_id in (39, 41):  # binary: no str cells
            vals = [b"ab", None, b"", b"raw\x00bytes"]
        codec = _TEXT_CODEC.get(dtype_id)
        got = [
            b"" if v is None
            else v.encode(codec)
            if codec is not None and isinstance(v, str)
            else bytes(v)
            for v in vals
        ]
        ref = [
            b"" if v is None else _to_bytes_cell(v, dtype_id) for v in vals
        ]
        assert got == ref, f"var dtype {dtype_id}"


def test_vectorized_multivalue_pack_byte_identity():
    """The vectorized cvn>1 pack (2-D ndarray / cast-free list input)
    must stay byte-identical to the per-cell flatten + struct reference
    for every numeric dtype, and keep the exact packer's error contract
    (ragged cells, non-integral floats into integer dtypes)."""
    import struct

    import numpy as np
    import pytest

    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        _DT,
        _pack_fixed,
    )

    def ref(vals, dtype_id, cvn):
        _, code, _size = _DT[dtype_id]
        flat = []
        for v in vals:
            cell = list(v) if v is not None else [0] * cvn
            assert len(cell) == cvn
            flat.extend(cell)
        flat = (
            [float(x) for x in flat]
            if code in ("f", "d")
            else [int(x) for x in flat]
        )
        return struct.pack(f"<{len(flat)}{code}", *flat)

    rng = np.random.default_rng(11)
    f32 = rng.standard_normal((200, 64)).astype(np.float32)
    cases = [
        (2, 64, f32),                                  # ndarray float32
        (2, 64, [list(map(float, r)) for r in f32]),   # f32-repr lists
        (2, 64, [np.asarray(r) for r in f32]),         # ndarray rows
        (3, 8, [[float(x) for x in r] for r in
                rng.standard_normal((100, 8))]),       # cast-free f64
        (1, 4, rng.integers(-(2**62), 2**62, (100, 4))),  # ndarray i64
        (1, 4, [[int(x) for x in r] for r in
                rng.integers(-(2**62), 2**62, (100, 4))]),
        (9, 3, [[float(x) for x in r] for r in
                rng.integers(0, 100, (50, 3))]),       # int-float → u32
        (1, 2, [[1, 2], [3, 4], None]),                # None cell → loop
        (2, 64, []),                                   # empty
    ]
    for dtype_id, cvn, vals in cases:
        assert _pack_fixed(vals, dtype_id, cvn) == ref(
            vals, dtype_id, cvn
        ), f"dtype {dtype_id} cvn {cvn} {type(vals).__name__}"
    with pytest.raises(ValueError, match="cell has 2 values"):
        _pack_fixed([[1, 2, 3], [1, 2]], 1, 3)
    with pytest.raises(ValueError):
        _pack_fixed([[1.5, 2.0]], 1, 2)  # non-integral float into int
    with pytest.raises(ValueError, match="lossy"):
        # ndarray input keeps the scalar tier's loud-lossy contract
        _pack_fixed(np.asarray([[1.5, 2.0]]), 1, 2)


def test_col_vals_string_fast_path_identity():
    """NativeArrayBackend.write's vectorized object-column path returns
    exactly what the per-cell clean() loop returns for string/bytes
    columns (NA→None), and list-cell / all-NA columns keep the loop."""
    import numpy as np
    import pandas as pd

    from tiledb_mariadb_spark.sources import tiledb_array as ta

    captured = {}

    class _Probe(ta.NativeDecoderBackend):
        def _reg(self, uri):
            pass

    def fake_write(uri, cols, ts=None, version=19):
        captured.update(cols)

    probe = _Probe()
    pdf = pd.DataFrame(
        {
            "k": np.arange(4, dtype=np.int64),
            "s": pd.Series(["a", None, "c\x00d", "é"], dtype=object),
            "b": pd.Series([b"x", b"", None, b"\x00"], dtype=object),
            "m": pd.Series(
                [np.array([1.0, 2.0]), [3.0, 4.0], (5.0, 6.0), [7.0, 8.0]],
                dtype=object,
            ),
        }
    )

    import tiledb_mariadb_spark.sources.tiledb_array as mod

    class FakeDim:
        name = "k"

    class A:
        pass

    attrs = []
    for n in ("s", "b", "m"):
        a = A()
        a.name = n
        attrs.append(a)

    class FakeSchema:
        dims = [FakeDim()]

    FakeSchema.attrs = attrs

    orig_parse = None
    try:
        from tiledb_mariadb_spark.sources import tiledb_native as tn
        from tiledb_mariadb_spark.sources import (
            tiledb_native_write as tnw,
        )

        orig_parse = tn.parse_array_schema
        orig_spath = tn._schema_path
        orig_write = tnw.write_native_fragment
        tn.parse_array_schema = lambda p: FakeSchema
        tn._schema_path = lambda u: u
        tnw.write_native_fragment = fake_write
        probe.write("fake://uri", pdf)
    finally:
        tn.parse_array_schema = orig_parse
        tn._schema_path = orig_spath
        tnw.write_native_fragment = orig_write

    assert list(captured["s"]) == ["a", None, "c\x00d", "é"]
    assert list(captured["b"]) == [b"x", b"", None, b"\x00"]
    # equal-length numeric list cells stack to ONE 2-D ndarray (round
    # 10) — same values, the packer's vectorized path
    assert isinstance(captured["m"], np.ndarray)
    assert captured["m"].shape == (4, 2)
    assert [list(r) for r in captured["m"]] == [
        [1.0, 2.0], [3.0, 4.0], [5.0, 6.0], [7.0, 8.0]
    ]
    # numeric stays ndarray-native
    assert isinstance(captured["k"], np.ndarray)


def test_col_vals_list_cells_stack_and_fallthrough():
    """Round-10 list-cell stacking: equal-length numeric lists become a
    2-D ndarray; ragged, None-holding, or string-bearing cells keep the
    exact clean() loop (plain lists / None)."""
    import numpy as np
    import pandas as pd

    from tiledb_mariadb_spark.sources import tiledb_array as ta
    from tiledb_mariadb_spark.sources import tiledb_native as tn
    from tiledb_mariadb_spark.sources import tiledb_native_write as tnw

    captured = {}

    class _Probe(ta.NativeDecoderBackend):
        def _reg(self, uri):
            pass

    class FakeDim:
        name = "k"

    class A:  # noqa: B903
        def __init__(self, n):
            self.name = n

    class FakeSchema:
        dims = [FakeDim()]
        attrs = [A("ok"), A("ragged"), A("with_none"), A("strs")]

    pdf = pd.DataFrame(
        {
            "k": np.arange(3, dtype=np.int64),
            "ok": pd.Series(
                [[1, 2, 3], [4, 5, 6], np.array([7, 8, 9])], dtype=object
            ),
            "ragged": pd.Series([[1], [2, 3], [4]], dtype=object),
            "with_none": pd.Series([[1, 2], None, [3, 4]], dtype=object),
            "strs": pd.Series([["a"], ["b"], ["c"]], dtype=object),
        }
    )
    orig = (tn.parse_array_schema, tn._schema_path, tnw.write_native_fragment)
    try:
        tn.parse_array_schema = lambda p: FakeSchema
        tn._schema_path = lambda u: u
        tnw.write_native_fragment = (
            lambda uri, cols, ts=None, version=19: captured.update(cols)
        )
        _Probe().write("fake://uri", pdf)
    finally:
        tn.parse_array_schema, tn._schema_path, tnw.write_native_fragment = orig

    assert isinstance(captured["ok"], np.ndarray)
    assert captured["ok"].shape == (3, 3)
    assert [list(r) for r in captured["ok"]] == [[1, 2, 3], [4, 5, 6], [7, 8, 9]]
    assert captured["ragged"] == [[1], [2, 3], [4]]
    assert captured["with_none"] == [[1, 2], None, [3, 4]]
    assert captured["strs"] == [["a"], ["b"], ["c"]]


def test_var_numeric_cell_pack_byte_identity():
    """The r9 batched var-cell pack (one _pack_fixed over the
    concatenated values, split back per cell) must be byte-identical to
    per-cell packing for every numeric var dtype, and None/ragged
    shapes must keep the per-cell loop's exact semantics.  Pinned by
    writing a var-cell fragment and re-reading it."""
    import tempfile

    from tiledb_mariadb_spark.sources.tiledb_native import (
        NativeAttr,
        NativeDim,
        read_native_array,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        create_native_array,
        write_native_fragment,
    )

    VAR = 0xFFFFFFFF
    uri = tempfile.mkdtemp(prefix="varpack_") + "/arr"
    create_native_array(
        uri,
        dims=[NativeDim("k", 1, 1, (0, 100), None)],
        attrs=[
            NativeAttr("vl", 1, VAR, False, None),   # var int64 lists
            NativeAttr("vd", 3, VAR, False, None),   # var float64 lists
        ],
    )
    vl = [[1, 2, 3], [4], [2**40, -7], [0], [9, 9]]
    vd = [[1.5, -2.25], [0.0], [3.0, 4.0, 5.0], [1e30], [-1.0]]
    write_native_fragment(
        uri, {"k": [1, 2, 3, 4, 5], "vl": vl, "vd": vd}, version=19
    )
    _s, rows = read_native_array(uri)
    got_vl = [list(r[1]) for r in rows]
    got_vd = [list(r[2]) for r in rows]
    assert got_vl == vl
    assert got_vd == vd

    # non-integral float into an int column must still raise loudly
    uri2 = tempfile.mkdtemp(prefix="varpack2_") + "/arr"
    create_native_array(
        uri2,
        dims=[NativeDim("k", 1, 1, (0, 100), None)],
        attrs=[NativeAttr("vl", 1, VAR, False, None)],
    )
    import pytest as _pt

    with _pt.raises(ValueError):
        write_native_fragment(
            uri2, {"k": [1, 2], "vl": [[1, 2], [3.5]]}, version=19
        )


# --- write_array's two paths ------------------------------------------------
# Rows already in the driver (a local relation of at most _CELLS_PER_TASK
# rows) are written by the driver as one fragment; every other input runs
# a mapInPandas job that writes one fragment per non-empty partition.

VAR = 0xFFFFFFFF


def _kv_array(tmp_path, name="kv"):
    d = str(tmp_path / name)
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (0, 10**7), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
    )
    return d


def _kv_frame(spark, n, lo=0):
    import numpy as np
    import pandas as pd

    k = np.arange(lo, lo + n, dtype=np.int64)
    return spark.createDataFrame(pd.DataFrame({"k": k, "v": k * 3}))


def _commit_markers(d):
    return {e for e in os.listdir(os.path.join(d, "__commits"))
            if e.endswith(".wrt")}


def _nonempty_partitions(df):
    return sum(1 for n in df.rdd.glom().map(len).collect() if n)


@pytest.fixture()
def no_map_in_pandas(spark, monkeypatch):
    """Make any DataFrame.mapInPandas call fail the test."""
    cls = type(spark.range(1))

    def refuse(*_a, **_k):
        raise AssertionError("mapInPandas ran")

    monkeypatch.setattr(cls, "mapInPandas", refuse)


def test_local_write_is_one_driver_fragment(spark, tmp_path,
                                            no_map_in_pandas):
    """A 10,000-row createDataFrame(pandas) input is written by the
    driver: exactly one new fragment, one new .wrt, no mapInPandas."""
    from tiledb_mariadb_spark.sources.tiledb_array import (
        local_rows,
        write_array,
    )

    d = _kv_array(tmp_path)
    write_array(_kv_frame(spark, 100, lo=50_000), d)
    frags, markers = set(_fragment_dirs(d)), _commit_markers(d)
    df = _kv_frame(spark, 10_000)
    assert local_rows(df) == 10_000
    write_array(df, d)
    new = set(_fragment_dirs(d)) - frags
    assert len(new) == 1
    assert _commit_markers(d) - markers == {
        os.path.basename(next(iter(new))) + ".wrt"
    }
    _n, rows = range_rows(d, ranges=[(0, 9_999)])
    assert rows == [(k, 3 * k) for k in range(10_000)]


@pytest.mark.parametrize("shape", ["repartition3", "coalesce2", "range"])
def test_partitioned_input_writes_per_partition(spark, tmp_path, shape):
    """Inputs that are not local relations keep the job path: one
    fragment per non-empty partition."""
    from tiledb_mariadb_spark.sources.tiledb_array import (
        local_rows,
        write_array,
    )

    src = {
        "repartition3": lambda: _kv_frame(spark, 300).repartition(3),
        "coalesce2": lambda: _kv_frame(spark, 300).coalesce(2),
        "range": lambda: spark.range(0, 300, numPartitions=3)
        .selectExpr("id AS k", "id * 3 AS v"),
    }[shape]()
    assert local_rows(src) is None
    parts = _nonempty_partitions(src)
    assert parts >= 2
    d = _kv_array(tmp_path)
    write_array(src, d)
    assert len(_fragment_dirs(d)) == parts
    assert len(_commit_markers(d)) == parts
    _n, rows = range_rows(d)
    assert rows == [(k, 3 * k) for k in range(300)]


def test_local_input_above_task_size_runs_job(spark, tmp_path,
                                              monkeypatch):
    """A local input with more rows than one task holds still runs the
    mapInPandas job, one fragment per non-empty partition."""
    from tiledb_mariadb_spark.sources import tiledb_array

    monkeypatch.setattr(tiledb_array, "_CELLS_PER_TASK", 100)
    cls = type(spark.range(1))
    real = cls.mapInPandas
    calls = []

    def spy(self, *a, **k):
        calls.append(1)
        return real(self, *a, **k)

    monkeypatch.setattr(cls, "mapInPandas", spy)
    df = _kv_frame(spark, 1000)
    assert tiledb_array.local_rows(df) == 1000
    parts = _nonempty_partitions(df)
    assert parts >= 2
    d = _kv_array(tmp_path)
    tiledb_array.write_array(df, d)
    assert calls == [1]
    assert len(_fragment_dirs(d)) == parts
    _n, rows = range_rows(d)
    assert rows == [(k, 3 * k) for k in range(1000)]


def test_empty_local_write_writes_nothing(spark, tmp_path,
                                          no_map_in_pandas):
    from tiledb_mariadb_spark.sources.tiledb_array import (
        local_rows,
        write_array,
    )

    from .spark_jobs import spark_jobs

    d = _kv_array(tmp_path)
    df = _kv_frame(spark, 100).where("k < 0")
    assert local_rows(df) == 0
    _out, jobs, _tasks = spark_jobs(spark, lambda: write_array(df, d))
    assert jobs == 0
    assert _fragment_dirs(d) == [] and _commit_markers(d) == set()


def _typed_source(spark, n=600):
    """Every column type the writers take, with nulls, NaN, empty and
    multi-byte values, as a local relation."""
    import datetime as dt

    import pandas as pd

    pdf = pd.DataFrame({
        "k": list(range(n)),
        "n": pd.array([None if i % 3 == 0 else i * 7 - 900
                       for i in range(n)], dtype="Int64"),
        "x": [float("nan") if i % 4 == 0 else None if i % 4 == 1
              else i / 3 for i in range(n)],
        "s": [None if i % 5 == 0 else "" if i % 5 == 1 else f"s{i}é多"
              for i in range(n)],
        "b": [None if i % 6 == 0 else bytes([i % 256, 0, 255])
              for i in range(n)],
        "pair": [[i, -i] for i in range(n)],
        "vi": [list(range(i % 4 + 1)) for i in range(n)],
        "d": [dt.date(2020, 1, 1) + dt.timedelta(days=i) for i in range(n)],
        "t": [dt.datetime(2021, 3, 4, 5, 6, 7, 123456)
              + dt.timedelta(minutes=i) for i in range(n)],
    })
    return spark.createDataFrame(
        pdf,
        schema="k long, n long, x double, s string, b binary, "
        "pair array<int>, vi array<long>, d date, t timestamp",
    )


def _write_both_paths(src, write, monkeypatch):
    """Run ``write`` on the driver path, then with the job path forced
    (no local input fits a task of 0 cells)."""
    from tiledb_mariadb_spark.sources import tiledb_array

    assert tiledb_array.local_rows(src) is not None
    write("driver")
    with monkeypatch.context() as mp:
        mp.setattr(tiledb_array, "_CELLS_PER_TASK", 0)
        write("job")


def test_both_write_paths_hand_the_backend_equal_frames(
    spark, tmp_path, monkeypatch
):
    """The backend gets the same pandas values from both paths: dates,
    timestamps, nulls, NaN, binary and list cells included
    (FragmentDirBackend stores the frames it is given as parquet)."""
    import glob

    import pandas as pd

    from tiledb_mariadb_spark.sources.tiledb_array import (
        ArrayInfo,
        AttrInfo,
        DimInfo,
        FragmentDirBackend,
        write_array,
    )

    src = _typed_source(spark)
    be = FragmentDirBackend()
    info = ArrayInfo(dims=[DimInfo("k", "bigint", (0, 10**6))],
                     attrs=[AttrInfo("n", "bigint")])

    def write(path):
        be.create(str(tmp_path / path), info)
        write_array(src, str(tmp_path / path), backend=be)

    _write_both_paths(src, write, monkeypatch)

    def frame(path):
        files = glob.glob(str(tmp_path / path / "frag_*.parquet"))
        pdf = pd.concat([pd.read_parquet(f) for f in files])
        return len(files), pdf.sort_values("k").reset_index(drop=True)

    (n_driver, driver), (n_job, job) = frame("driver"), frame("job")
    assert n_driver == 1 and n_job == _nonempty_partitions(src) > 1
    pd.testing.assert_frame_equal(driver, job)
    assert len(driver) == 600
    assert driver["t"].iloc[1] == pd.Timestamp("2021-03-04 05:07:07.123456")
    assert str(driver["d"].iloc[1]) == "2020-01-02"


@pytest.mark.parametrize("ts,key", [(None, None), (5000, None),
                                    (None, b"k" * 32)])
def test_both_write_paths_write_identical_cells(
    spark, tmp_path, monkeypatch, ts, key
):
    """Native arrays written through either path decode to the same
    cells: nullable ints, NaN and null floats, strings, binary, fixed
    multi-value and var-length attributes, with and without an explicit
    ``ts`` and an encryption key."""
    from tiledb_mariadb_spark.sources.tiledb_array import write_array

    src = _typed_source(spark).drop("d", "t")

    def write(path):
        d = str(tmp_path / path)
        create_native_array(
            d,
            dims=[NativeDim("k", 1, 1, (0, 10**6), None)],
            attrs=[
                NativeAttr("n", 1, 1, True, None),      # nullable int64
                NativeAttr("x", 3, 1, True, None),      # nullable float64
                NativeAttr("s", 12, VAR, True, None),   # var UTF-8
                NativeAttr("b", 39, VAR, True, None),   # var blob
                NativeAttr("pair", 0, 2, False, None),  # int32[2]
                NativeAttr("vi", 1, VAR, False, None),  # var int64
            ],
            encryption_key=key,
        )
        write_array(src, d, encryption_key=key, ts=ts)

    _write_both_paths(src, write, monkeypatch)
    _n, driver = range_rows(str(tmp_path / "driver"))
    _n, job = range_rows(str(tmp_path / "job"))
    assert driver == job
    assert len(driver) == 600
    k, n, x, s, b, pair, vi = driver[8]
    assert (k, n, s, b) == (8, 8 * 7 - 900, "s8é多", bytes([8, 0, 255]))
    assert x is None or x != x  # NaN cells are written as null either way
    assert list(pair) == [8, -8] and list(vi) == [0]
    assert len(_fragment_dirs(str(tmp_path / "driver"))) == 1
    if ts is not None:
        assert all(os.path.basename(f).startswith(f"__{ts}_{ts}_")
                   for f in _fragment_dirs(str(tmp_path / "driver")))


def test_failed_driver_write_leaves_nothing_visible(spark, tmp_path,
                                                    monkeypatch):
    """A driver-path write whose fragment write raises re-raises from
    write_array, commits no marker, and leaves reads unchanged."""
    from tiledb_mariadb_spark.sources import tiledb_native_write
    from tiledb_mariadb_spark.sources.tiledb_array import write_array

    d = _kv_array(tmp_path)
    write_array(_kv_frame(spark, 500), d)
    _n, before = range_rows(d)
    froot = os.path.join(d, "__fragments")
    dirs, markers = set(os.listdir(froot)), _commit_markers(d)

    def fail(*_a, **_k):
        raise RuntimeError("injected write failure")

    monkeypatch.setattr(tiledb_native_write, "write_native_fragment", fail)
    with pytest.raises(RuntimeError, match="injected"):
        write_array(_kv_frame(spark, 500, lo=1000), d)
    assert set(os.listdir(froot)) == dirs
    assert _commit_markers(d) == markers
    _n, after = range_rows(d)
    assert after == before
