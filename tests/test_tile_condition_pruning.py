"""TILE-level condition pruning (`condition_tile_runs`): inside a
surviving fragment, a conditioned read decodes only the tiles whose
per-tile v11+ min/max stats can reach the predicate.

Contracts under test:
- runs are exact on crafted layouts (op matrix, NaN floats, nulls);
- a conditioned read keeps every matching cell and invents none;
- refuted tiles are truly skipped: interior refuted tiles drop their
  cells, and a poison proof covers the covering-span edges;
- the newest-wins shadow gate disables tile subsetting whenever an
  older overlapping fragment is in the read set (no resurrection)."""

from __future__ import annotations

import os

import pytest

from tiledb_mariadb_spark.sources.tiledb_native import (
    NativeAttr,
    NativeDim,
    _fragment_dirs,
    condition_tile_runs,
    parse_array_schema,
    read_native_array_range_np,
    _schema_path,
)
from tiledb_mariadb_spark.sources.tiledb_native_write import (
    create_native_array,
    write_native_fragment,
)


CAP = 10  # tiny capacity: many tiles even in small fragments


def _mk(tmp_path, name="arr", attr_dt=1, nullable=False):
    uri = str(tmp_path / name)
    create_native_array(
        uri,
        dims=[NativeDim("k", 1, 1, (0, 10**6), None)],
        attrs=[NativeAttr("v", attr_dt, 1, nullable, None)],
        capacity=CAP,
    )
    return uri


def _read_np(uri, conds, ranges=None):
    out = read_native_array_range_np(
        uri, ranges=ranges or [(None, None)], columns=["v"],
        prune_conditions=conds,
    )
    names, arrays = out
    return sorted(zip(arrays["k"].tolist(), arrays["v"].tolist()))


def test_runs_exact(tmp_path):
    uri = _mk(tmp_path)
    # 5 tiles x 10 cells, v = cell index (monotone: tile t holds
    # [10t, 10t+9])
    ks = list(range(50))
    write_native_fragment(uri, {"k": ks, "v": ks}, ts=1, version=19)
    schema = parse_array_schema(_schema_path(uri))
    frag = _fragment_dirs(uri)[0]
    assert condition_tile_runs(frag, schema, [("v", ">=", 30)]) == [(30, 50)]
    assert condition_tile_runs(frag, schema, [("v", "<", 10)]) == [(0, 10)]
    assert condition_tile_runs(frag, schema, [("v", "=", 25)]) == [(20, 30)]
    assert condition_tile_runs(
        frag, schema, [("v", "in", [5, 43])]
    ) == [(0, 10), (40, 50)]
    # contiguous kept tiles merge into one run
    assert condition_tile_runs(
        frag, schema, [("v", ">=", 15), ("v", "<", 35)]
    ) == [(10, 40)]
    assert condition_tile_runs(frag, schema, [("v", ">", 1000)]) == []
    # nothing prunable -> None
    assert condition_tile_runs(frag, schema, [("v", ">=", 0)]) is None
    assert condition_tile_runs(frag, schema, []) is None


def test_runs_last_tile_partial(tmp_path):
    uri = _mk(tmp_path)
    ks = list(range(25))  # 3 tiles: 10 + 10 + 5
    write_native_fragment(uri, {"k": ks, "v": ks}, ts=1, version=19)
    schema = parse_array_schema(_schema_path(uri))
    frag = _fragment_dirs(uri)[0]
    assert condition_tile_runs(frag, schema, [("v", ">=", 20)]) == [(20, 25)]


def test_runs_float_nan_semantics(tmp_path):
    """Writer stats EXCLUDE NaN (python-min fallback), so ordered-op
    refutation stays sound — a NaN cell fails >=/</=/IN anyway — but
    `!=` must NOT prune float tiles: pandas keeps NaN through `!=`,
    and a constant-tile proof would drop it."""
    uri = _mk(tmp_path, attr_dt=3)
    vs = [float(i) for i in range(20)]
    vs[5] = float("nan")
    write_native_fragment(
        uri, {"k": list(range(20)), "v": vs}, ts=1, version=19
    )
    schema = parse_array_schema(_schema_path(uri))
    frag = _fragment_dirs(uri)[0]
    # ordered op: tile 0 refutable (its NaN fails >= 10.0 regardless)
    assert condition_tile_runs(
        frag, schema, [("v", ">=", 10.0)]
    ) == [(10, 20)]
    # constant tile + != : never prunable on floats
    uri2 = _mk(tmp_path, "c", attr_dt=3)
    write_native_fragment(
        uri2,
        {"k": list(range(20)), "v": [7.0] * 15 + [float("nan")] * 5},
        ts=1, version=19,
    )
    schema2 = parse_array_schema(_schema_path(uri2))
    frag2 = _fragment_dirs(uri2)[0]
    assert condition_tile_runs(frag2, schema2, [("v", "!=", 7.0)]) is None
    # fragment level: same guard
    from tiledb_mariadb_spark.sources.tiledb_native import (
        fragment_refutes_conditions,
    )

    assert not fragment_refutes_conditions(
        frag2, schema2, [("v", "!=", 7.0)]
    )


def test_conditioned_read_parity(tmp_path):
    uri = _mk(tmp_path)
    ks = list(range(50))
    write_native_fragment(uri, {"k": ks, "v": ks}, ts=1, version=19)
    for conds in (
        [("v", ">=", 37)],
        [("v", "=", 12)],
        [("v", "in", [3, 44])],
        [("v", "<", 5)],
    ):
        # prune-only: every matching written cell survives, nothing is
        # invented
        got = _read_np(uri, conds)
        assert set(got) <= {(k, k) for k in ks}
        _col, op, val = conds[0]
        want = [(k, k) for k in ks if (
            k in val if op == "in" else
            {">=": k >= val, "=": k == val, "<": k < val}[op]
        )]
        assert [p for p in got if p in want] == want


def test_row_path_interior_gap_poison(tmp_path):
    """Kept tiles on both sides of an INTERIOR refuted tile: the
    conditioned read drops the refuted tile's cells and still answers
    from the kept ones."""
    uri = _mk(tmp_path)
    ks = list(range(50))
    write_native_fragment(uri, {"k": ks, "v": ks}, ts=1, version=19)
    frag = _fragment_dirs(uri)[0]
    schema = parse_array_schema(_schema_path(uri))
    runs = condition_tile_runs(frag, schema, [("v", "in", [5, 43])])
    assert runs == [(0, 10), (40, 50)]
    # prune_conditions are PRUNE-ONLY: the reader may return residual
    # non-matching rows from KEPT tiles, but nothing from dropped ones
    got = _read_np(uri, [("v", "in", [5, 43])])
    assert [p for p in got if p[1] in (5, 43)] == [(5, 5), (43, 43)]
    assert all(p[0] < 10 or p[0] >= 40 for p in got), (
        "interior refuted tiles leaked cells"
    )


def test_covering_span_edge_poison_both_paths(tmp_path):
    """Leading tiles outside the kept covering span are never decoded:
    poison every byte file of a second fragment whose tiles are all
    refuted — reads must still answer (fragment-level skip), then poison
    nothing of the kept fragment and confine the condition to its LAST
    tile: the read answers from the tail span."""
    uri = _mk(tmp_path)
    write_native_fragment(
        uri, {"k": list(range(50)), "v": list(range(50))}, ts=1, version=19
    )
    # second fragment, disjoint keys, all small values (refuted by >=)
    write_native_fragment(
        uri,
        {"k": list(range(100, 150)), "v": [0] * 50},
        ts=2,
        version=19,
    )
    for frag in _fragment_dirs(uri):
        schema = parse_array_schema(_schema_path(uri))
        from tiledb_mariadb_spark.sources.tiledb_native import (
            fragment_attr_stats,
        )

        st = fragment_attr_stats(frag, schema)
        if st["v"]["max"] == 0:  # the refuted fragment: poison its data
            for fn in os.listdir(frag):
                if fn.endswith(".tdb") and fn != "__fragment_metadata.tdb":
                    with open(os.path.join(frag, fn), "r+b") as fh:
                        fh.write(b"\xde\xad\xbe\xef" * 4)
    conds = [("v", ">=", 45)]
    got = [r for r in _read_np(uri, conds) if r[1] >= 45]
    assert got == [(i, i) for i in range(45, 50)]


def test_shadow_gate_blocks_tile_subsetting(tmp_path):
    """A newer fragment's refuted cell SHADOWS an older passing cell:
    tile pruning must not resurrect it (the conditioned read returns
    the newer, non-matching value for that coord — which the residual
    filter then drops — never the stale passing one)."""
    uri = _mk(tmp_path)
    # older fragment: k=5 has v=99 (would PASS v >= 90)
    ks = list(range(50))
    vs = [99 if i == 5 else i for i in ks]
    write_native_fragment(uri, {"k": ks, "v": vs}, ts=1, version=19)
    # newer overlapping fragment rewrites k=5 with v=0 (refuted tile)
    write_native_fragment(
        uri, {"k": list(range(20)), "v": [0] * 20}, ts=2, version=19
    )
    got = dict(_read_np(uri, [("v", ">=", 90)]))
    # k=5 must be 0 (the newer value) or absent — NEVER 99
    assert got.get(5, 0) == 0, got


def test_since_window_tile_pruning_parity(tmp_path):
    uri = _mk(tmp_path)
    write_native_fragment(
        uri, {"k": list(range(30)), "v": list(range(30))}, ts=1, version=19
    )
    write_native_fragment(
        uri,
        {"k": list(range(100, 130)), "v": list(range(100, 130))},
        ts=2,
        version=19,
    )
    conds = [("v", ">=", 120)]
    got_np = read_native_array_range_np(
        uri, ranges=[(None, None)], columns=["v"],
        prune_conditions=conds, since=2,
    )
    names, arrays = got_np
    pairs = sorted(zip(arrays["k"].tolist(), arrays["v"].tolist()))
    matching = [p for p in pairs if p[1] >= 120]
    assert matching == [(i, i) for i in range(120, 130)]


if __name__ == "__main__":
    pytest.main([__file__, "-q"])
