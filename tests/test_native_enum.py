"""TileDB enumerations (format v20, t/enum.test): the enum_array fixture's
attrs store MariaDB ENUM ordinals (1-based, 0 = '') and read back as their
labels, exactly as r/enum.result records.  Reference surface:
mytile-discovery.cc:325-360 (enumeration -> ENUM column) and
ha_mytile.cc:2558 (label round-trip)."""

import pytest

from tiledb_mariadb_spark.reference_fixtures import TEST_DATA
from tiledb_mariadb_spark.sources.tiledb_native import (
    parse_array_schema,
    read_native_array,
    _schema_path,
)

from tests.conftest import needs_fixtures
from .native_model import range_rows

_ENUM = f"{TEST_DATA}/enum_array"

# r/enum.result golden: select rows, a0, a1, a2, a3 ... order by rows
_GOLDEN = [
    (10, "ee", "aa", "ii", 1),
    (20, "ff", "bb", "jj", 2),
    (30, "gg", "cc", "kk", 3),
    (40, "hh", "dd", "ll", 4),
]


@needs_fixtures(_ENUM)
def test_schema_parses_v20_with_enum_links():
    s = parse_array_schema(_schema_path(_ENUM))
    assert s.version == 20
    assert [a.name for a in s.attrs] == ["a0", "a1", "a2", "a3"]
    assert {a.name: a.enumeration for a in s.attrs} == {
        "a0": "a0_enum", "a1": "a1_enum", "a2": "a2_enum", "a3": "a3_enum",
    }
    # string-label (VAR) enumerations resolve; the int-labelled a3_enum
    # is NOT registered (the golden reads a3 as its raw stored ints)
    assert s.enumerations == {
        "a0_enum": ["ee", "ff", "gg", "hh"],
        "a1_enum": ["aa", "bb", "cc", "dd"],
        "a2_enum": ["ii", "jj", "kk", "ll"],
    }


@needs_fixtures(_ENUM)
def test_full_read_matches_mtr_golden():
    _s, rows = read_native_array(_ENUM)
    assert rows == _GOLDEN


@needs_fixtures(_ENUM)
def test_range_read_maps_labels_too():
    # `where rows > 20` golden: rows 30, 40
    _names, rows = range_rows(_ENUM, [(21, None)])
    assert rows == _GOLDEN[2:]


@needs_fixtures(_ENUM)
def test_connector_reads_labels_and_pushes_label_predicates(spark):
    from tiledb_mariadb_spark.sources.tiledb_array import read_array

    df = read_array(spark, _ENUM)
    assert dict(df.dtypes)["a1"] == "string"
    got = [tuple(r) for r in df.orderBy("rows").collect()]
    assert got == _GOLDEN
    # `where a1 = 'bb'` golden: row 20 (label predicate pushes down
    # unchanged — the decoder serves labels)
    sel = read_array(spark, _ENUM, conditions=[("a1", "=", "bb")])
    assert [tuple(r) for r in sel.collect()] == [_GOLDEN[1]]
    # `where rows > 20 and a2 = 'll'` golden: row 40
    both = read_array(
        spark, _ENUM, dim_ranges={"rows": (21, None)},
        conditions=[("a2", "=", "ll")],
    )
    assert [tuple(r) for r in both.collect()] == [_GOLDEN[3]]


@needs_fixtures(_ENUM)
def test_native_to_dataframe_types_enum_as_string(spark):
    from tiledb_mariadb_spark.sources.tiledb_native import (
        native_to_dataframe,
    )

    df = native_to_dataframe(spark, _ENUM)
    assert dict(df.dtypes)["a0"] == "string"
    assert [tuple(r) for r in df.orderBy("rows").collect()] == _GOLDEN


@needs_fixtures(_ENUM)
def test_fixed_label_enum_not_applied_and_stats_honest():
    """a3's enumeration has INT labels: reads serve the raw stored
    values (golden column a3 = 1..4), and the metadata stats path may
    therefore expose a3's real min/max/sum while the string-enum attrs
    expose nothing (their ordinal stats would misdescribe the view)."""
    from tiledb_mariadb_spark.sources.tiledb_native import (
        attr_stats_native_array,
    )

    st = attr_stats_native_array(_ENUM)
    assert st["a3"] == {"min": 1, "max": 4, "sum": 10}
    assert st["a0"] == {} and st["a1"] == {} and st["a2"] == {}


_TABULA = f"{TEST_DATA}/tabula-sapiens-immune-var"


@needs_fixtures(_TABULA)
def test_oversized_enum_reverts_to_base_type():
    """enum.test part 3: gene_symbol's 57k-label enumeration exceeds the
    65536/attr_num DDL budget (mytile-discovery.cc oversize rule) — the
    golden `describe var` shows int(11), i.e. raw stored ints on read."""
    s = parse_array_schema(_schema_path(_TABULA))
    assert s.version == 21  # v21 schema + two-file evolution history
    assert "gene_symbol" not in s.enumerations  # reverted
    assert list(s.enumerations) == ["feature_type"]  # 1 label, fits
    _names, rows = range_rows(_TABULA, [(0, 1)])
    # golden row types: gene_symbol int, var_id/ensemblid text
    assert rows[0][0] == 0 and rows[0][1] == "DDX11L1"
    assert isinstance(rows[0][2], int)  # gene_symbol raw ordinal
    # feature_type stores 0: MariaDB ENUM ordinal 0 renders '' — the
    # semantics the reference's Field_enum::store applies on read
    assert rows[0][3] == ""


@needs_fixtures(_ENUM)
def test_oversize_rule_is_per_attribute_budget():
    """The budget is 65536 / attribute_num — the same enumeration can be
    usable in a 1-attr schema and oversized in a many-attr one."""
    from tiledb_mariadb_spark.sources.tiledb_native import (
        _load_enumerations,
    )
    import os

    base = os.path.join(_ENUM, "__schema")
    paths = {"a1_enum": "__fd44a3e81157481e86b0aea5f2f24cad_0"}
    sp = next(
        os.path.join(base, f) for f in os.listdir(base)
        if f != "__enumerations"
    )
    assert "a1_enum" in _load_enumerations(sp, paths, n_attrs=1)
    # 4 labels * ~4 bytes ≈ 30-byte DDL; a 4000-attr budget (16 bytes)
    # pushes it over
    assert "a1_enum" not in _load_enumerations(sp, paths, n_attrs=4000)
