"""The pure-Python TileDB 1.6 fragment decoder read against the
REFERENCE REPO'S OWN committed fixture arrays, validated against the mtr
golden outputs (mysql-test/mytile/r/*.result) — the engine answering the
reference's test queries from the reference's bytes, no libtiledb.
"""

from __future__ import annotations

import os

import pytest

FIXTURES = "/root/reference/mysql-test/mytile/test_data/tiledb_arrays/1.6"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(FIXTURES), reason="reference fixtures not present"
)


def test_dense_fixture_matches_mtr_golden():
    from tiledb_mariadb_spark.sources.tiledb_native import read_dense_array

    rows = read_dense_array(
        f"{FIXTURES}/quickstart_dense", [(1, 4), (1, 4)], {"a": "int32"}
    )
    # r/pushdown_ranges.result: SELECT * ... ORDER BY rows, cols → a = 1..16
    assert rows == [
        (r, c, (r - 1) * 4 + c) for r in range(1, 5) for c in range(1, 5)
    ]


def test_sparse_fixture_matches_mtr_golden():
    from tiledb_mariadb_spark.sources.tiledb_native import read_sparse_array

    rows = read_sparse_array(
        f"{FIXTURES}/quickstart_sparse", 2, "int32", {"a": "int32"}
    )
    # quickstart_sparse golden: (1,1)→1, (2,3)→3, (2,4)→2
    assert sorted(rows) == [(1, 1, 1), (2, 3, 3), (2, 4, 2)]


def test_pushdown_ranges_golden_query_through_spark(spark):
    """Run the reference's own pushdown_ranges.test query through OUR
    engine over the decoded fixture; the result must equal the committed
    golden file (r/pushdown_ranges.result lines 20-29)."""
    from tiledb_mariadb_spark.sources.tiledb_native import read_dense_array

    rows = read_dense_array(
        f"{FIXTURES}/quickstart_dense", [(1, 4), (1, 4)], {"a": "int32"}
    )
    df = spark.createDataFrame(rows, "rows int, cols int, a int")
    df.createOrReplaceTempView("quickstart_dense")
    got = [
        tuple(r)
        for r in spark.sql(
            "select * from quickstart_dense "
            "where `rows` >= 1 AND `rows` < 4 AND cols >= 1 AND cols < 4 "
            "ORDER BY `rows` asc, cols asc"
        ).collect()
    ]
    golden = [
        (1, 1, 1), (1, 2, 2), (1, 3, 3),
        (2, 1, 5), (2, 2, 6), (2, 3, 7),
        (3, 1, 9), (3, 2, 10), (3, 3, 11),
    ]
    assert got == golden


def test_zstd_minimal_decoder_edges():
    from tiledb_mariadb_spark.sources.tiledb_native import _decode_chunk

    # raw block frame (single segment, FCS=3): magic, FHD 0x20, FCS,
    # block header (last=1, raw, size=3), payload
    frame = b"\x28\xb5\x2f\xfd" + bytes([0x20, 3]) + bytes([0x19, 0, 0]) + b"abc"
    assert bytes(_decode_chunk(frame, 3)) == b"abc"
    # RLE block: size=4 repeats of one byte
    rle = b"\x28\xb5\x2f\xfd" + bytes([0x20, 4]) + bytes([0x23, 0, 0]) + b"z"
    assert bytes(_decode_chunk(rle, 4)) == b"zzzz"


def test_hilbert_fixture_2_3_matches_mtr_golden():
    """The 2.3 HILBERT-cell-order fixture (per-dimension coordinate
    files) decodes to the hilbert.test golden rows — cell order changes
    the on-disk sequence, never the cell set."""
    from tiledb_mariadb_spark.sources.tiledb_native import (
        read_sparse_array_v2,
    )

    base = FIXTURES.rsplit("/", 1)[0]
    rows = read_sparse_array_v2(
        f"{base}/2.3/quickstart_sparse_hilbert",
        ["rows", "cols"],
        "int32",
        {"a": "int32"},
    )
    # r/hilbert.result: (1,1)→1, (2,3)→3, (2,4)→2
    assert sorted(rows) == [(1, 1, 1), (2, 3, 3), (2, 4, 2)]


def test_all_datetimes_fixture_resolutions_consistent():
    """The 2.0 all_datetimes fixture stores ONE instant
    (2020-07-26T14:25:55.123456789) at every TileDB datetime resolution
    (SURVEY §1.3's 13-row table).  Each decoded int64 must equal the
    epoch conversion our schema mapping defines: floor-truncation of the
    instant at that resolution — including the int64 WRAPAROUND for
    femto/attoseconds (the overflow that is exactly why sub-µs collapses
    to µs in the SQL surface)."""
    import glob
    import struct

    from tiledb_mariadb_spark.sources.tiledb_native import read_chunked_tile

    frag = glob.glob(
        FIXTURES.rsplit("/", 1)[0] + "/2.0/all_datetimes/__1*/"
    )[0]

    def val(name):
        raw = b"".join(
            read_chunked_tile(open(f"{frag}{name}.tdb", "rb").read())
        )
        return struct.unpack("<q", raw)[0]

    ns = 1_595_771_155_123_456_789  # nanoseconds since epoch
    sec = ns // 10**9
    assert val("datetime_second") == sec
    assert val("datetime_minute") == sec // 60
    assert val("datetime_hour") == sec // 3600
    assert val("datetime_day") == sec // 86400
    assert val("datetime_week") == sec // (86400 * 7)
    assert val("datetime_month") == 50 * 12 + 6  # 2020-07 vs 1970-01
    assert val("datetime_year") == 50
    assert val("datetime_millisecond") == ns // 10**6
    assert val("datetime_microsecond") == ns // 10**3
    assert val("datetime_nanosecond") == ns

    def wrap64(x):
        x &= (1 << 64) - 1
        return x - (1 << 64) if x >= (1 << 63) else x

    # the fixture instant carries sub-ns digits (…123456789123456789):
    # ns storage truncates them, ps/fs/as keep more and WRAP int64
    assert val("datetime_picosecond") == wrap64(sec * 10**12 + 123456789123)
    assert val("datetime_femtosecond") == wrap64(
        sec * 10**15 + 123456789123456
    )
    assert val("datetime_attosecond") == wrap64(
        sec * 10**18 + 123456789123456789
    )


def test_datetime_dimensions_fixture_decodes():
    """The 2.0 datetime_dimensions fixture: thirteen DATETIME-resolution
    dimension files plus a 1-byte char attribute, each a chunked tile —
    the heterogeneous-dimension surface (t/mrr_datetime_dimensions.test
    reads this array) decoded without libtiledb."""
    import glob
    import struct

    from tiledb_mariadb_spark.sources.tiledb_native import read_chunked_tile

    frag = glob.glob(
        FIXTURES.rsplit("/", 1)[0] + "/2.0/datetime_dimensions/__1*/"
    )[0]

    def i64(name):
        raw = b"".join(
            read_chunked_tile(open(f"{frag}{name}.tdb", "rb").read())
        )
        return struct.unpack("<q", raw)[0]

    # pinned decoded coordinates (independent per dimension)
    assert i64("dt_s") == 1603631238            # 2020-10-25T12:27:18Z
    assert i64("dt_min") == 26727187
    assert i64("dt_hr") == 445453
    assert i64("dt_d") == 18560
    assert i64("dt_ms") == 1603631238000
    assert i64("dt_us") == 1603631238000000
    assert i64("dt_ns") == 1603631238000000000
    assert i64("dt_y") == 50
    a1 = b"".join(read_chunked_tile(open(f"{frag}a1.tdb", "rb").read()))
    assert a1 == b"a"


def test_fixture_migrates_into_tile_table(spark, tmp_path):
    """The switch-over story end-to-end: decode the reference's dense
    array, load it into a tile table (dims become the physical prune
    key), and answer the golden box query through the catalog's subarray
    surface."""
    from tiledb_mariadb_spark.catalog import Attr, Dim, TileTable
    from tiledb_mariadb_spark.sources.tiledb_native import dense_to_dataframe

    df = dense_to_dataframe(
        spark,
        f"{FIXTURES}/quickstart_dense",
        ["r", "c"],
        [(1, 4), (1, 4)],
        {"a": "int32"},
    )
    tt = TileTable.create(
        spark,
        str(tmp_path / "migrated_dense"),
        dimensions=[
            Dim("r", "int", lower=1, upper=4, tile_extent=4),
            Dim("c", "int", lower=1, upper=4, tile_extent=4),
        ],
        attributes=[Attr("a", "int")],
        array_type="DENSE",
    )
    tt.write(df)
    got = sorted(
        tuple(x)
        for x in tt.subarray({"r": (1, 3), "c": (1, 3)}).collect()
    )
    golden = [
        (1, 1, 1), (1, 2, 2), (1, 3, 3),
        (2, 1, 5), (2, 2, 6), (2, 3, 7),
        (3, 1, 9), (3, 2, 10), (3, 3, 11),
    ]
    assert got == golden
