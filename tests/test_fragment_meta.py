"""Fragment-metadata consolidation (TileDB's `fragment_meta` mode):
one __fragment_meta/*.meta fold serves the whole planning tier —
footers, fmmsn stats, cell counts — so planning opens O(1) objects
instead of one per fragment.  The fold is a pure CACHE: anything not
covered falls back to the per-fragment parse, so staleness can cost
IO, never correctness."""

import os

import pytest

from tiledb_mariadb_spark.sources.tiledb_native import (
    NativeAttr,
    NativeDim,
    _FMETA_CACHE,
    _fragment_dirs,
    _schema_path,
    dim0_tile_weights,
    fragment_attr_stats,
    fragment_cell_count,
    parse_array_schema,
    parse_fragment_footer,
    plan_condition_skips,
    window_ned,
)
from tiledb_mariadb_spark.sources.tiledb_native_write import (
    consolidate_fragment_meta,
    create_native_array,
    evolve_native_schema,
    vacuum_native_array,
    write_native_fragment,
)

from .native_model import range_rows
from .spark_jobs import distributed_maintenance, spark_jobs


@pytest.fixture(autouse=True)
def _fresh_cache():
    _FMETA_CACHE.clear()
    yield
    _FMETA_CACHE.clear()


def _mk(tmp_path, n_frags=5, **create_kw):
    arr = str(tmp_path / "arr")
    create_native_array(
        arr,
        dims=[NativeDim("k", 1, 1, (0, 10**6), None)],
        attrs=[
            NativeAttr("v", 1, 1, False, None),
            NativeAttr("s", 12, 0xFFFFFFFF, False, None),
        ],
        **create_kw,
    )
    for f in range(n_frags):
        n = 20 + f
        write_native_fragment(
            arr,
            {
                "k": list(range(f * 100, f * 100 + n)),
                "v": [f * 10 + i for i in range(n)],
                "s": [f"s{f}_{i}" for i in range(n)],
            },
            ts=f + 1,
            version=19,
        )
    return arr


def _poison(arr):
    """Rename every per-fragment metadata file away: any read that
    still needs it returns None — footer/stats served afterwards can
    only come from the fold."""
    for frag in _fragment_dirs(arr):
        fm = os.path.join(frag, "__fragment_metadata.tdb")
        os.rename(fm, fm + ".hidden")


def test_fold_serves_footer_stats_counts(tmp_path):
    arr = _mk(tmp_path)
    schema = parse_array_schema(_schema_path(arr))
    frags = _fragment_dirs(arr)
    want = {}
    for frag in frags:
        fm = os.path.join(frag, "__fragment_metadata.tdb")
        f = parse_fragment_footer(fm, schema)
        want[frag] = (
            f.non_empty_domain,
            f.var_ned,
            f.sparse_tile_num,
            f.last_tile_cell_num,
            fragment_attr_stats(frag, schema),
            fragment_cell_count(frag, schema),
        )
    want_w = dim0_tile_weights(arr)
    path = consolidate_fragment_meta(arr)
    assert path and os.path.basename(os.path.dirname(path)) == \
        "__fragment_meta"
    _FMETA_CACHE.clear()
    _poison(arr)
    for frag in frags:
        fm = os.path.join(frag, "__fragment_metadata.tdb")
        f = parse_fragment_footer(fm, schema)
        assert f is not None, "fold must answer for a covered fragment"
        got = (
            f.non_empty_domain,
            f.var_ned,
            f.sparse_tile_num,
            f.last_tile_cell_num,
            fragment_attr_stats(frag, schema),
            fragment_cell_count(frag, schema),
        )
        assert got == want[frag]
    # planning tiers compose on top of the fold with zero fragment opens
    assert window_ned(arr, since=3, at=5) == [(200, 423)]
    skips = plan_condition_skips(frags, schema, [("v", "=", 10**9)])
    assert len(skips) == len(frags)  # absent needle: all refuted
    w = dim0_tile_weights(arr)
    assert w is not None and sum(c for _a, _b, c in w) == sum(
        want[f][5] for f in frags
    )  # quantile weights served without any R-tree open
    assert w == want_w  # and exactly equal to the direct-parse answer


def test_uncovered_fragment_falls_back(tmp_path):
    arr = _mk(tmp_path, n_frags=3)
    assert consolidate_fragment_meta(arr)
    write_native_fragment(
        arr, {"k": [9000], "v": [77], "s": ["late"]}, ts=99, version=19
    )
    schema = parse_array_schema(_schema_path(arr))
    late = [f for f in _fragment_dirs(arr) if "_99_" in
            os.path.basename(f) or os.path.basename(f).startswith("__99_")]
    assert len(late) == 1
    st = fragment_attr_stats(late[0], schema)
    assert st["v"]["min"] == 77 and st["v"]["max"] == 77
    f = parse_fragment_footer(
        os.path.join(late[0], "__fragment_metadata.tdb"), schema
    )
    assert f.non_empty_domain == [(9000, 9000)]
    # re-consolidating covers it; the narrow fold is then vacuumable
    assert consolidate_fragment_meta(arr)
    mdir = os.path.join(arr, "__fragment_meta")
    assert len(os.listdir(mdir)) == 2
    assert vacuum_native_array(arr) >= 1
    metas = [e for e in os.listdir(mdir) if e.endswith(".meta")]
    assert len(metas) == 1
    _FMETA_CACHE.clear()
    _poison(arr)
    st = fragment_attr_stats(late[0], schema)
    assert st["v"]["min"] == 77  # served by the surviving wide fold


def test_schema_evolution_invalidates_fold(tmp_path):
    # v5 fragments: evolvable era (evolution over >=v10 positional
    # fragments is a separate refusal); footer fold works either way
    arr = str(tmp_path / "arr")
    create_native_array(
        arr,
        dims=[NativeDim("k", 1, 1, (0, 10**6), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
    )
    for f in range(3):
        write_native_fragment(
            arr,
            {"k": [f * 10, f * 10 + 1], "v": [f, f + 1]},
            ts=f + 1,
        )
    assert consolidate_fragment_meta(arr)
    evolve_native_schema(
        arr, add_attrs=[NativeAttr("extra", 1, 1, True, None)]
    )
    _FMETA_CACHE.clear()
    schema = parse_array_schema(_schema_path(arr))
    frag = _fragment_dirs(arr)[0]
    fm = os.path.join(frag, "__fragment_metadata.tdb")
    # fingerprint mismatch -> the fold is ignored, direct parse serves
    f = parse_fragment_footer(fm, schema)
    assert f is not None and f.non_empty_domain == [(0, 1)]
    _poison(arr)
    _FMETA_CACHE.clear()
    # and with the direct file gone there is honestly nothing — the
    # stale fold must NOT answer under the evolved schema
    assert parse_fragment_footer(fm, schema) is None


def test_encrypted_fold_sealed(tmp_path):
    key = b"0" * 32
    arr = str(tmp_path / "enc")
    create_native_array(
        arr,
        dims=[NativeDim("k", 1, 1, (0, 100), None)],
        attrs=[NativeAttr("s", 12, 0xFFFFFFFF, False, None)],
        encryption_key=key,
    )
    write_native_fragment(
        arr, {"k": [1, 2], "s": ["zzz_secret_lo", "zzz_secret_hi"]},
        ts=1, version=19, encryption_key=key,
    )
    write_native_fragment(
        arr, {"k": [5, 6], "s": ["aaa", "bbb"]},
        ts=2, version=19, encryption_key=key,
    )
    path = consolidate_fragment_meta(arr, encryption_key=key)
    raw = open(path, "rb").read()
    assert b"zzz_secret_lo" not in raw  # stats sealed, never plaintext
    _FMETA_CACHE.clear()
    _poison(arr)
    schema = parse_array_schema(_schema_path(arr))
    frag = _fragment_dirs(arr)[0]
    st = fragment_attr_stats(frag, schema)
    assert st["s"]["min"] == "zzz_secret_hi"  # hi < lo lexically


def test_fold_value_types_roundtrip(tmp_path):
    """bytes/str/float/int stat values keep their EXACT python type
    through the JSON fold (mixed types would break ordering
    comparisons in shadow-safety checks)."""
    arr = _mk(tmp_path, n_frags=2)
    schema = parse_array_schema(_schema_path(arr))
    frags = _fragment_dirs(arr)
    direct = [fragment_attr_stats(f, schema) for f in frags]
    assert consolidate_fragment_meta(arr)
    _FMETA_CACHE.clear()
    _poison(arr)
    for frag, want in zip(frags, direct):
        got = fragment_attr_stats(frag, schema)
        assert got == want
        for fld in got:
            for k in got[fld]:
                assert type(got[fld][k]) is type(want[fld][k])


def test_fmeta_codec_property():
    """enc/dec identity over the whole scalar-value domain, type-exact
    (hypothesis: a bytes value must never come back str and vice
    versa — shadow-safety ordering comparisons would raise)."""
    import json

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from tiledb_mariadb_spark.sources.tiledb_native import (
        _fmeta_dec,
        _fmeta_enc,
    )

    scalars = st.one_of(
        st.none(),
        st.booleans(),
        st.integers(min_value=-(2**63), max_value=2**64 - 1),
        st.floats(allow_nan=False),
        st.text(),
        st.binary(),
    )

    @settings(max_examples=300, deadline=None)
    @given(scalars)
    def check(v):
        rt = _fmeta_dec(json.loads(json.dumps(_fmeta_enc(v))))
        assert rt == v and type(rt) is type(v)

    check()


def test_distributed_fold_equals_driver_fold(tmp_path, spark):
    """spark-parallelized fold build produces the same entries (order
    included) as the driver-side walk."""
    import json

    from tiledb_mariadb_spark.sources.tiledb_native import (
        read_generic_tile,
    )

    arr = _mk(tmp_path, n_frags=6)
    p1 = consolidate_fragment_meta(arr)
    with distributed_maintenance():
        p2 = consolidate_fragment_meta(arr, spark=spark, target_splits=3)
    d1 = json.loads(read_generic_tile(p1).decode())
    d2 = json.loads(read_generic_tile(p2).decode())
    assert d1["fragments"] == d2["fragments"]
    assert d1["schema_fp"] == d2["schema_fp"]


def test_maintain_array_one_call(tmp_path, spark):
    """maintain_array runs the whole consolidation matrix in safe
    order: incremental fragments first, folds cover the merged
    layout, one vacuum retires everything superseded — and reads are
    bit-identical before/after."""
    from tiledb_mariadb_spark.sources.tiledb_array import (
        maintain_array,
        read_array,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        write_array_metadata,
    )

    arr = _mk(tmp_path, n_frags=6)
    write_array_metadata(arr, {"a": 1}, ts=1)
    write_array_metadata(arr, {"b": 2}, ts=2)
    before = sorted(
        map(tuple, read_array(spark, arr, target_splits=2).collect())
    )
    with distributed_maintenance():
        out = maintain_array(spark, arr)
    assert out["fragments"] >= 1
    assert out["fragment_meta"] and out["vacuumed"] >= 1
    after = sorted(
        map(tuple, read_array(spark, arr, target_splits=2).collect())
    )
    assert after == before
    # the fold serves the merged layout: poison and re-plan
    _FMETA_CACHE.clear()
    _poison(arr)
    schema = parse_array_schema(_schema_path(arr))
    frags = _fragment_dirs(arr)
    assert all(
        parse_fragment_footer(
            os.path.join(f, "__fragment_metadata.tdb"), schema
        ) is not None
        for f in frags
    )
    with pytest.raises(ValueError, match="unknown consolidation"):
        maintain_array(spark, arr, modes=("nope",))


def test_maintain_array_small_runs_no_job(tmp_path, spark):
    """Maintenance of a small array fits one task at every step, so
    maintain_array runs in the driver: 0 Spark jobs, and the merged
    state reads the same."""
    from tiledb_mariadb_spark.sources.tiledb_array import maintain_array

    arr = _mk(tmp_path, n_frags=0)
    write_native_fragment(
        arr, {"k": list(range(0, 4000, 2)), "v": list(range(2000)),
              "s": [f"b{i}" for i in range(2000)]}, ts=1, version=19,
    )
    for f in range(5):  # one size-ratio run; the base stays
        ks = list(range(f * 30, f * 30 + 40))
        write_native_fragment(
            arr, {"k": ks, "v": [k + f for k in ks],
                  "s": [f"s{f}_{k}" for k in ks]}, ts=f + 2, version=19,
        )
    _n, before = range_rows(arr)
    out, jobs, _tasks = spark_jobs(spark, lambda: maintain_array(spark, arr))
    assert jobs == 0
    assert out["fragments"] == 1 and out["fragment_meta"]
    assert out["vacuumed"] >= 5
    assert len(_fragment_dirs(arr)) == 2
    _n, after = range_rows(arr)
    assert after == before


def test_maintain_array_encrypted_without_fragments_mode(tmp_path, spark):
    """The key registers even when the fragments mode is not selected —
    array_meta/fragment_meta folds of an encrypted array read and write
    sealed generic tiles through the registry."""
    from tiledb_mariadb_spark.sources.tiledb_array import maintain_array
    from tiledb_mariadb_spark.sources.tiledb_native_crypto import (
        clear_encryption_key,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        write_array_metadata,
    )

    key = b"7" * 32
    arr = str(tmp_path / "enc")
    create_native_array(
        arr,
        dims=[NativeDim("k", 1, 1, (0, 100), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
        encryption_key=key,
    )
    for f in range(3):
        write_native_fragment(
            arr, {"k": [f * 10, f * 10 + 1], "v": [f, f]},
            ts=f + 1, version=19, encryption_key=key,
        )
    write_array_metadata(arr, {"a": 1}, ts=1)
    write_array_metadata(arr, {"b": 2}, ts=2)
    clear_encryption_key(arr)
    out = maintain_array(
        spark, arr, modes=("array_meta", "fragment_meta"),
        encryption_key=key,
    )
    assert out["array_meta"] and out["fragment_meta"]
    raw = open(out["fragment_meta"], "rb").read()
    assert b'"stats"' not in raw  # sealed, not plaintext JSON


def test_repeated_maintenance_folds_dont_accumulate(tmp_path):
    """Periodic maintenance on a QUIET array must not grow the fold
    dir unboundedly: vacuum keeps exactly one of any equal-range
    fold set (plus any genuinely-wider one)."""
    arr = _mk(tmp_path, n_frags=3)
    mdir = os.path.join(arr, "__fragment_meta")
    for _ in range(4):
        assert consolidate_fragment_meta(arr)
        vacuum_native_array(arr)
    metas = [e for e in os.listdir(mdir) if e.endswith(".meta")]
    assert len(metas) == 1
    _FMETA_CACHE.clear()
    _poison(arr)
    schema = parse_array_schema(_schema_path(arr))
    st = fragment_attr_stats(_fragment_dirs(arr)[0], schema)
    assert st["v"]["min"] == 0  # the surviving fold still serves


def _fold_names(path):
    import json

    from tiledb_mariadb_spark.sources.tiledb_native import read_generic_tile

    doc = json.loads(read_generic_tile(path).decode())
    return [e["name"] for e in doc["fragments"]]


def test_vacuum_retires_fold_of_vanished_fragments(tmp_path, spark):
    """A maintain_array that merges every fragment into one leaves no
    fold listing only vacuumed fragments, and reads stay the same."""
    from tiledb_mariadb_spark.sources.tiledb_array import maintain_array

    arr = _mk(tmp_path, n_frags=6)
    old = consolidate_fragment_meta(arr)
    assert len(_fold_names(old)) == 6
    _n, before = range_rows(arr)
    out = maintain_array(spark, arr, incremental=False)
    assert out["fragment_meta"] is None  # one fragment: nothing to fold
    frags = _fragment_dirs(arr)
    assert len(frags) == 1
    mdir = os.path.join(arr, "__fragment_meta")
    root = os.path.dirname(frags[0])
    for e in os.listdir(mdir):
        if e.endswith(".meta"):
            names = _fold_names(os.path.join(mdir, e))
            assert all(os.path.isdir(os.path.join(root, n)) for n in names)
    assert not os.path.exists(old)
    _FMETA_CACHE.clear()
    _n, after = range_rows(arr)
    assert after == before


def test_vacuum_keeps_fold_with_a_live_fragment(tmp_path):
    """A fold stays while any fragment it lists exists, and an
    unreadable fold (sealed, with no key registered) is kept."""
    from tiledb_mariadb_spark.sources.tiledb_native_crypto import (
        clear_encryption_key,
    )

    arr = _mk(tmp_path, n_frags=3)
    fold = consolidate_fragment_meta(arr)
    gone = _fragment_dirs(arr)[0]
    import shutil

    shutil.rmtree(gone)
    vacuum_native_array(arr)
    assert os.path.exists(fold)

    key = b"3" * 32
    enc = str(tmp_path / "enc")
    create_native_array(
        enc, dims=[NativeDim("k", 1, 1, (0, 100), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)], encryption_key=key,
    )
    for f in range(2):
        write_native_fragment(enc, {"k": [f], "v": [f]}, ts=f + 1,
                              version=19, encryption_key=key)
    sealed = consolidate_fragment_meta(enc, encryption_key=key)
    clear_encryption_key(enc)
    for f in _fragment_dirs(enc):
        shutil.rmtree(f)
    vacuum_native_array(enc)
    assert os.path.exists(sealed)
