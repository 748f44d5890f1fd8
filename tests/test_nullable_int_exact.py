"""Nullable-integral exactness through NativeDecoderBackend.read_range
(ADVICE r8).

pandas infers float64 for an int column containing None, silently
corrupting int64 values >= 2^53 (2^53+1 -> 2^53.0 -> 2^53).  The
columnar reader hands nullable ints over as object columns of python
ints, so the frame and the Arrow wire (the tiledb_native RecordBatch)
carry exact int64 + validity end-to-end."""

import pandas as pd
import pytest

from tiledb_mariadb_spark.sources import tiledb_array as ta
from tiledb_mariadb_spark.sources.tiledb_native import NativeAttr, NativeDim
from tiledb_mariadb_spark.sources.tiledb_native_write import (
    create_native_array,
    write_native_fragment,
)

BIG = 2**53 + 1  # not representable in float64 (rounds to 2^53)


@pytest.fixture()
def arr(tmp_path):
    d = str(tmp_path / "bigarr")
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (0, 1000), None)],
        attrs=[NativeAttr("big", 1, 1, True, None)],
    )
    write_native_fragment(
        d, {"k": [1, 2, 3], "big": [BIG, None, 5]}, ts=1000, version=19
    )
    return d


def _read(arr, conditions=None):
    be = ta.NativeDecoderBackend()
    return be.read_range(
        arr, [(None, None)], ["k", "big"], conditions=conditions
    )


def test_fast_path_exact(arr):
    pdf = _read(arr)
    vals = {k: v for k, v in zip(pdf["k"], pdf["big"])}
    assert vals[1] == BIG and vals[3] == 5
    assert pd.isna(vals[2])


def test_conditions_3vl(arr):
    # pushed condition on the nullable int column: NULL never matches,
    # and the surviving big value stays exact
    pdf = _read(arr, conditions=[("big", ">", 0)])
    assert sorted(pdf["k"]) == [1, 3]
    assert sorted(pdf["big"]) == [5, BIG]


def test_arrow_wire_exact(arr):
    # the frame's nullable int column converts to int64 + validity on
    # the Arrow wire, never through float64
    import pyarrow as pa

    tbl = pa.Table.from_pandas(_read(arr), preserve_index=False)
    assert tbl.schema.field("big").type == pa.int64()
    assert tbl.column("big").to_pylist() == [BIG, None, 5]
