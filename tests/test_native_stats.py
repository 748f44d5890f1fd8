"""Fragment attribute stats (format v11+): MIN/MAX/SUM/NULL_COUNT decoded
from the fragment_min_max_sum_null_count and tile_min/max/sum/null_count
generic tiles of the reference's committed modern-era fixtures, validated
against full-scan recomputes (the same bytes libtiledb would serve).
Reference surface: FragmentMetadata's metadata-only aggregate path that
ha_mytile's group_by_handler pushdown rides (mytile/ha_mytile.cc
aggregate pushdown)."""

import os

import pytest

from tiledb_mariadb_spark.reference_fixtures import TEST_DATA
from tiledb_mariadb_spark.sources.tiledb_native import (
    NativeAttr,
    NativeDim,
    attr_stats_native_array,
    fragment_attr_stats,
    fragment_tile_stats,
    parse_array_schema,
    parse_footer_sections,
    read_native_array,
    _schema_path,
)

from tests.conftest import needs_fixtures
from .native_model import range_rows

_FIX = TEST_DATA
_OBS = f"{_FIX}/obs"
_OBS_FRAG = (
    f"{_OBS}/__fragments/"
    "__1693915244275_1693915244275_6c5d202846a9444ca6f2798bf835981a_19"
)
_VAR = f"{_FIX}/tiledb_arrays/var"
_MA = f"{_FIX}/tiledb_arrays/multi_attribute"


def _scan_stats(array_dir, col_idx):
    _s, rows = read_native_array(array_dir)
    vals = [r[col_idx] for r in rows]
    return min(vals), max(vals), sum(vals), len(vals)


@needs_fixtures(_OBS)
def test_footer_sections_parse_v19():
    schema = parse_array_schema(_schema_path(_OBS))
    sec = parse_footer_sections(
        os.path.join(_OBS_FRAG, "__fragment_metadata.tdb"), schema
    )
    assert sec is not None
    assert sec["version"] == 19
    assert sec["rtree"] == 0
    # fields = 10 attrs + coords slot + 1 dim
    assert sec["num_fields"] == 12
    assert sec["fields"][0] == "obs_id"
    assert sec["fields"][-1] == "soma_joinid"
    assert len(sec["tile_min"]) == 12


@needs_fixtures(_OBS)
def test_fragment_stats_match_scan_recompute_obs():
    """The decoded fmmsn stats equal a full-scan recompute — including
    the float64 SUM's exact accumulation error."""
    schema = parse_array_schema(_schema_path(_OBS))
    st = fragment_attr_stats(_OBS_FRAG, schema)
    assert st is not None
    # column order in read_native_array: dims then attrs
    # soma_joinid=0, obs_id=1, cluster=2, ..., cell_count=5, ...
    names = [d.name for d in schema.dims] + [a.name for a in schema.attrs]
    for col in ("cluster", "cell_count", "no_of_m_reads", "no_of_cells"):
        lo, hi, total, _n = _scan_stats(_OBS, names.index(col))
        assert st[col]["min"] == lo, col
        assert st[col]["max"] == hi, col
        assert st[col]["sum"] == total, col  # bit-exact, even for f64
    # dim: engine computes SUM but not min/max for sparse dims here
    _lo, _hi, total, _n = _scan_stats(_OBS, names.index("soma_joinid"))
    assert st["soma_joinid"] == {"sum": total}


@needs_fixtures(_OBS)
def test_absent_stats_are_absent_not_zero():
    """UTF-8 var strings get no min/max/sum; non-nullable fields get no
    null_count — the trust boundary exposes absence, never zero."""
    schema = parse_array_schema(_schema_path(_OBS))
    st = fragment_attr_stats(_OBS_FRAG, schema)
    for col in ("obs_id", "cell_type", "tissue", "reference"):
        assert st[col] == {}, col
    assert "null_count" not in st["cluster"]  # non-nullable


@needs_fixtures(_OBS, _VAR)
def test_array_level_stats_obs_and_var():
    st = attr_stats_native_array(_OBS)
    assert st["cluster"] == {"min": 0, "max": 9, "sum": 7764}
    assert st["cell_count"] == {"min": 44, "max": 967, "sum": 2055708}
    schema = parse_array_schema(_schema_path(_VAR))
    names = [d.name for d in schema.dims] + [a.name for a in schema.attrs]
    _lo, _hi, total, _n = _scan_stats(_VAR, names.index("soma_joinid"))
    assert attr_stats_native_array(_VAR)["soma_joinid"]["sum"] == total


@needs_fixtures(_MA)
def test_dense_array_stats_refused():
    """Dense reads materialize fill values the stats never saw — the
    metadata path must refuse, not approximate."""
    assert attr_stats_native_array(_MA) is None


def test_pre_v11_fragments_refused(tmp_path):
    """Our own writer emits v5 fragments (no stats sections) — the
    parser must return None, and the array-level API must too."""
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        create_native_array,
        write_native_fragment,
    )

    d = str(tmp_path / "v5arr")
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (0, 100), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
    )
    write_native_fragment(d, {"k": [1, 2, 3], "v": [10, 20, 30]}, ts=1000)
    frag_root = os.path.join(d, "__fragments")
    root = frag_root if os.path.isdir(frag_root) else d
    frags = [
        os.path.join(root, f) for f in os.listdir(root)
        if f.startswith("__") and os.path.isdir(os.path.join(root, f))
    ]
    schema = parse_array_schema(_schema_path(d))
    assert fragment_attr_stats(frags[0], schema) is None
    assert attr_stats_native_array(d) is None


@needs_fixtures(_OBS)
def test_tile_stats_single_tile_equal_fragment_stats():
    """obs is a single capacity tile: the per-tile lists must collapse to
    the fragment-level values."""
    schema = parse_array_schema(_schema_path(_OBS))
    frag_stats = fragment_attr_stats(_OBS_FRAG, schema)
    for col in ("cluster", "cell_count", "no_of_cells"):
        tiles = fragment_tile_stats(_OBS_FRAG, schema, col)
        assert tiles is not None and len(tiles) == 1
        mn, mx, sm, _nc = tiles[0]
        assert (mn, mx, sm) == (
            frag_stats[col]["min"],
            frag_stats[col]["max"],
            frag_stats[col]["sum"],
        )


@needs_fixtures(_OBS)
def test_tile_stats_absent_for_uncomputed_field():
    schema = parse_array_schema(_schema_path(_OBS))
    assert fragment_tile_stats(_OBS_FRAG, schema, "obs_id") is None


def test_delete_conditions_disable_stats(tmp_path):
    """A visible delete condition removes a data-dependent set of cells:
    the metadata path must go dark rather than overcount.  (Exercised on
    a v5 array where stats are already None; the delete gate must fire
    FIRST so the combination can never resurrect a stale answer.)"""
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        create_native_array,
        write_delete_condition,
        write_native_fragment,
    )

    d = str(tmp_path / "delarr")
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (0, 100), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
    )
    write_native_fragment(d, {"k": [1, 2], "v": [5, 6]}, ts=1000)
    write_delete_condition(d, [("v", ">", 5)], ts=2000)
    assert attr_stats_native_array(d) is None


def test_empty_array_stats(tmp_path):
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        create_native_array,
    )

    d = str(tmp_path / "emptyarr")
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (0, 100), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
    )
    assert attr_stats_native_array(d) == {}


_TABULA = f"{_FIX}/tabula-sapiens-immune-var"


@needs_fixtures(_TABULA)
def test_fragment_refutes_conditions_soundness():
    from tiledb_mariadb_spark.sources.tiledb_native import (
        _fragment_dirs,
        fragment_refutes_conditions,
    )

    schema = parse_array_schema(_schema_path(_TABULA))
    frag = _fragment_dirs(_TABULA)[0]
    # gene_symbol spans [0, 57315] (v21 stats)
    refute = fragment_refutes_conditions
    assert refute(frag, schema, [("gene_symbol", ">", 57315)])
    assert refute(frag, schema, [("gene_symbol", "=", 60000)])
    assert refute(frag, schema, [("gene_symbol", "<", 0)])
    assert refute(frag, schema, [("gene_symbol", "<=", -1)])
    assert refute(frag, schema, [("gene_symbol", ">=", 57316)])
    # satisfiable bounds must NOT prune
    assert not refute(frag, schema, [("gene_symbol", "=", 0)])
    assert not refute(frag, schema, [("gene_symbol", ">", 57314)])
    assert not refute(frag, schema, [("gene_symbol", "!=", 5)])
    # var strings carry no stats: never a proof
    assert not refute(frag, schema, [("var_id", "=", "zzz")])
    # one refuted conjunct is enough (AND semantics)
    assert refute(
        frag, schema,
        [("var_id", "=", "DDX11L1"), ("gene_symbol", ">", 99999)],
    )


@needs_fixtures(_TABULA)
def test_refuting_condition_decodes_zero_chunks(monkeypatch):
    """The range reader with a refuting prune condition must not touch a
    single data chunk of the fragment."""
    import tiledb_mariadb_spark.sources.tiledb_native as tn

    calls = {"n": 0}
    orig = tn.read_byte_span

    def count(*a, **k):
        calls["n"] += 1
        return orig(*a, **k)

    # every data-chunk decode of the range reader goes through it
    monkeypatch.setattr(tn, "read_byte_span", count)
    names, rows = range_rows(
        _TABULA, [(None, None)],
        prune_conditions=[("gene_symbol", ">", 99999)],
    )
    assert rows == []
    assert calls["n"] == 0  # only metadata tiles were touched


@needs_fixtures(_TABULA)
def test_non_refuting_condition_reads_normally():

    names, rows = range_rows(
        _TABULA, [(0, 3)], prune_conditions=[("gene_symbol", ">=", 0)]
    )
    assert len(rows) == 4  # pruning is a skip proof, never a filter


@needs_fixtures(_TABULA)
def test_connector_prunes_via_conditions(spark):
    from tiledb_mariadb_spark.sources.tiledb_array import read_array

    df = read_array(
        spark, _TABULA, columns=["soma_joinid", "gene_symbol"],
        conditions=[("gene_symbol", ">", 99999)],
    )
    assert df.count() == 0
    hit = read_array(
        spark, _TABULA, columns=["soma_joinid", "gene_symbol"],
        dim_ranges={"soma_joinid": (0, 10)},
        conditions=[("gene_symbol", "<=", 30000)],
    )
    got = {r["soma_joinid"] for r in hit.collect()}
    assert 0 in got  # DDX11L1 -> 24811 <= 30000


def test_sum_stat_overflow_saturates_not_crashes(tmp_path):
    """Writing int64 values whose fragment sum overflows the 8-byte
    fmmsn slot must not crash the writer; the saturated sum reads back
    as ABSENT (never a silently-wrong total), while min/max stay
    exact.  (libtiledb clamps the same way — the slot carries no
    presence flag.)"""
    from tiledb_mariadb_spark.sources.tiledb_native import _fragment_dirs
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        create_native_array,
        write_native_fragment,
    )

    big = 2**60
    uri = str(tmp_path / "ovf")
    create_native_array(
        uri,
        dims=[NativeDim("k", 1, 1, (0, 1000), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
    )
    vals = [big + i for i in range(40)]  # sum ~ 40*2^60 >> 2^63
    write_native_fragment(
        uri, {"k": list(range(40)), "v": vals}, ts=1, version=19)
    schema = parse_array_schema(_schema_path(uri))
    (frag,) = _fragment_dirs(uri)
    st = fragment_attr_stats(frag, schema)["v"]
    assert st["min"] == big and st["max"] == big + 39
    assert "sum" not in st  # saturated -> distrusted, not wrong
