"""MERGE INTO for native arrays (`merge_into_array`): the four
matched/not-matched clause combinations, source-duplicate guards, count
reporting, and the zero-read pure-upsert fast path.

Reference anchor: the MariaDB host lowers INSERT..ON DUPLICATE KEY
UPDATE / REPLACE / INSERT IGNORE onto handler::write_row — the handler
itself only upserts (ha_mytile.cc write_row); the clause split is the
engine-side completion."""

from __future__ import annotations

import pytest

from tiledb_mariadb_spark.sources.tiledb_array import (
    merge_into_array,
    read_array,
)
from tiledb_mariadb_spark.sources.tiledb_native import (
    NativeAttr,
    NativeDim,
)
from tiledb_mariadb_spark.sources.tiledb_native_write import (
    create_native_array,
    write_native_fragment,
)


def _mk(tmp_path, name="arr"):
    uri = str(tmp_path / name)
    create_native_array(
        uri,
        dims=[NativeDim("k", 1, 1, (0, 10**7), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
    )
    write_native_fragment(
        uri, {"k": [1, 2, 3], "v": [10, 20, 30]}, ts=1000, version=19
    )
    return uri


def _state(spark, uri):
    return sorted(tuple(r) for r in read_array(spark, uri).collect())


def _src(spark, rows):
    return spark.createDataFrame(rows, "k long, v long")


def test_update_skip(spark, tmp_path):
    uri = _mk(tmp_path)
    c = merge_into_array(
        spark, uri, _src(spark, [(2, 99), (4, 44)]),
        when_matched="update", when_not_matched="skip", ts=2000,
    )
    assert c == {"matched": 1, "not_matched": 1, "written": 1}
    assert _state(spark, uri) == [(1, 10), (2, 99), (3, 30)]


def test_skip_insert(spark, tmp_path):
    uri = _mk(tmp_path)
    c = merge_into_array(
        spark, uri, _src(spark, [(2, 99), (4, 44)]),
        when_matched="skip", when_not_matched="insert", ts=2000,
    )
    assert c == {"matched": 1, "not_matched": 1, "written": 1}
    assert _state(spark, uri) == [(1, 10), (2, 20), (3, 30), (4, 44)]


def test_skip_skip_writes_nothing(spark, tmp_path):
    uri = _mk(tmp_path)
    c = merge_into_array(
        spark, uri, _src(spark, [(2, 99), (4, 44)]),
        when_matched="skip", when_not_matched="skip", ts=2000,
    )
    assert c == {"matched": 1, "not_matched": 1, "written": 0}
    assert _state(spark, uri) == [(1, 10), (2, 20), (3, 30)]


def test_pure_upsert(spark, tmp_path):
    uri = _mk(tmp_path)
    c = merge_into_array(
        spark, uri, _src(spark, [(2, 99), (4, 44)]), ts=2000
    )
    assert c == {"matched": 1, "not_matched": 1, "written": 2}
    assert _state(spark, uri) == [(1, 10), (2, 99), (3, 30), (4, 44)]


def test_upsert_no_counts_zero_reads(spark, tmp_path):
    """return_counts=False on the upsert path must not touch the
    target: poison every data tile and merge still succeeds."""
    import os

    from tiledb_mariadb_spark.sources.tiledb_native import _fragment_dirs

    uri = _mk(tmp_path)
    for frag in _fragment_dirs(uri):
        for fn in os.listdir(frag):
            if fn.endswith(".tdb") and fn != "__fragment_metadata.tdb":
                with open(os.path.join(frag, fn), "r+b") as fh:
                    fh.write(b"\xde\xad\xbe\xef" * 4)
    c = merge_into_array(
        spark, uri, _src(spark, [(9, 90)]), ts=2000, return_counts=False
    )
    assert c == {"matched": -1, "not_matched": -1, "written": -1}


def test_source_dup_guards(spark, tmp_path):
    uri = _mk(tmp_path)
    dup = _src(spark, [(7, 1), (7, 2)])
    with pytest.raises(ValueError, match="duplicate keys"):
        merge_into_array(spark, uri, dup)
    merge_into_array(spark, uri, dup, on_source_dups="last_wins", ts=2000)
    st = dict(_state(spark, uri))
    assert st[7] == 2


def test_empty_source(spark, tmp_path):
    uri = _mk(tmp_path)
    c = merge_into_array(
        spark, uri, _src(spark, []).limit(0),
        when_matched="update", when_not_matched="skip",
    )
    assert c == {"matched": 0, "not_matched": 0, "written": 0}
    assert _state(spark, uri) == [(1, 10), (2, 20), (3, 30)]


def test_missing_dim_column_raises(spark, tmp_path):
    uri = _mk(tmp_path)
    bad = spark.createDataFrame([(1,)], "v long")
    with pytest.raises(ValueError, match="dimension columns"):
        merge_into_array(spark, uri, bad)


if __name__ == "__main__":
    pytest.main([__file__, "-q"])


def test_delete_clause(spark, tmp_path):
    """when_matched='delete': matched keys are removed via ONE .del
    commit carrying an IN key list (O(batch), no fragment rewritten);
    unmatched keys may still insert."""
    uri = _mk(tmp_path)
    c = merge_into_array(
        spark, uri, _src(spark, [(2, 0), (3, 0), (9, 90)]),
        when_matched="delete", when_not_matched="insert", ts=2000,
    )
    assert c["matched"] == 2 and c["not_matched"] == 1
    assert c["deleted"] == 2 and c["written"] == 1
    assert _state(spark, uri) == [(1, 10), (9, 90)]
    # idempotent re-merge: nothing left to delete, 9 now matches
    c2 = merge_into_array(
        spark, uri, _src(spark, [(9, 91)]),
        when_matched="delete", when_not_matched="skip", ts=3000,
    )
    assert c2["deleted"] == 1
    assert _state(spark, uri) == [(1, 10)]


def test_delete_clause_multidim_refuses(spark, tmp_path):
    from tiledb_mariadb_spark.sources.tiledb_native import NativeDim as D

    uri = str(tmp_path / "md")
    create_native_array(
        uri,
        dims=[D("x", 1, 1, (0, 10), None), D("y", 1, 1, (0, 10), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
    )
    src = spark.createDataFrame([(1, 1, 1)], "x long, y long, v long")
    with pytest.raises(ValueError, match="single dimension"):
        merge_into_array(spark, uri, src, when_matched="delete")


def test_allows_dups_target_probe_no_fanout(spark, tmp_path):
    """An allows_dups target holding the same key many times must not
    fan the probe join out (matched = the key exists, once)."""
    uri = str(tmp_path / "dups")
    create_native_array(
        uri,
        dims=[NativeDim("k", 1, 1, (0, 10**7), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
        allows_dups=True,
    )
    write_native_fragment(
        uri, {"k": [1, 1, 1, 2], "v": [10, 11, 12, 20]}, ts=1000,
        version=19,
    )
    c = merge_into_array(
        spark, uri, _src(spark, [(1, 99), (5, 55)]),
        when_matched="update", when_not_matched="skip", ts=2000,
    )
    assert c == {"matched": 1, "not_matched": 1, "written": 1}
    # dups schema keeps every copy; the update adds one more k=1 cell
    st = sorted(_state(spark, uri))
    assert st.count((1, 99)) == 1 and (5, 55) not in st


def test_delete_clause_key_cap(spark, tmp_path):
    """The DELETE clause collects matched keys to the driver for the
    IN-list commit — bounded by max_delete_keys, refusing over-limit
    merges with a pointer to the predicate form."""
    uri = _mk(tmp_path)
    with pytest.raises(ValueError, match="write_delete_condition"):
        merge_into_array(
            spark, uri, _src(spark, [(1, 0), (2, 0), (3, 0)]),
            when_matched="delete", when_not_matched="skip", ts=2000,
            max_delete_keys=2,
        )
    # under the cap: works as before
    c = merge_into_array(
        spark, uri, _src(spark, [(1, 0), (2, 0)]),
        when_matched="delete", when_not_matched="skip", ts=2000,
        max_delete_keys=2,
    )
    assert c["deleted"] == 2
    assert _state(spark, uri) == [(3, 30)]


def test_skip_skip_no_counts_no_write_job(spark, tmp_path, monkeypatch):
    """return_counts=False with both clauses skipping must not launch
    the (statically empty) write job (round-7 advisor finding)."""
    import tiledb_mariadb_spark.sources.tiledb_array as ta

    uri = _mk(tmp_path)
    calls = []
    real = ta.write_array
    monkeypatch.setattr(
        ta, "write_array", lambda *a, **k: calls.append(1) or real(*a, **k)
    )
    merge_into_array(
        spark, uri, _src(spark, [(2, 99), (4, 44)]),
        when_matched="skip", when_not_matched="skip", ts=2000,
        return_counts=False,
    )
    assert calls == []
    assert _state(spark, uri) == [(1, 10), (2, 20), (3, 30)]


def test_source_bounds_hint_matches_computed(spark, tmp_path):
    """Round-10 ``source_bounds``: a caller-supplied probe box (computed
    concurrently with an ingest at the call sites) must yield the same
    counts and final state as the internally aggregated bounds, for
    both clause-split shapes and the empty-source sentinel."""
    uri = _mk(tmp_path)
    c = merge_into_array(
        spark, uri, _src(spark, [(2, 99), (4, 44)]),
        when_matched="skip", when_not_matched="insert", ts=2000,
        source_bounds={"k": (2, 4)},
    )
    assert c == {"matched": 1, "not_matched": 1, "written": 1}
    assert _state(spark, uri) == [(1, 10), (2, 20), (3, 30), (4, 44)]
    c = merge_into_array(
        spark, uri, _src(spark, [(3, 77), (9, 90)]),
        when_matched="update", when_not_matched="skip", ts=3000,
        source_bounds={"k": (3, 9)},
    )
    assert c == {"matched": 1, "not_matched": 1, "written": 1}
    assert _state(spark, uri) == [(1, 10), (2, 20), (3, 77), (4, 44)]
    # empty source: (None, None) bounds short-circuit without a write
    c = merge_into_array(
        spark, uri, _src(spark, []).limit(0),
        when_matched="update", when_not_matched="skip", ts=4000,
        source_bounds={"k": (None, None)},
    )
    assert c == {"matched": 0, "not_matched": 0, "written": 0}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="lacks dimensions"):
        merge_into_array(
            spark, uri, _src(spark, [(1, 1)]),
            when_matched="skip", when_not_matched="insert", ts=5000,
            source_bounds={"wrong": (0, 1)},
        )


@pytest.mark.parametrize(
    "clauses",
    [
        ("skip", "insert", True),    # fused write + count pass
        ("update", "skip", False),   # fused write pass, no counts
        ("update", "insert", True),  # counts over the pure upsert
        ("delete", "insert", True),  # counts job before the delete
        ("delete", "skip", False),   # the delete's key collection
    ],
)
def test_source_bounds_too_narrow_raises(spark, tmp_path, clauses):
    """A caller box that misses source keys would turn matched keys
    into inserts (key 3 exists but lies outside (2, 2)); the pass
    that consumes the probe join counts such rows and the merge
    raises instead.  Every shape here writes nothing: the counts and
    key-collection shapes check before any write, and the fused pass
    writes no partition holding an outside row (one partition here)."""
    when_matched, when_not_matched, return_counts = clauses
    uri = _mk(tmp_path)
    src = _src(spark, [(2, 99), (3, 77), (4, 44)]).coalesce(1)
    with pytest.raises(ValueError, match="source_bounds misses 2"):
        merge_into_array(
            spark, uri, src,
            when_matched=when_matched, when_not_matched=when_not_matched,
            ts=2000, return_counts=return_counts,
            source_bounds={"k": (2, 2)},
        )
    assert _state(spark, uri) == [(1, 10), (2, 20), (3, 30)]
    # an empty box for a non-empty source misses every key
    with pytest.raises(ValueError, match="empty box"):
        merge_into_array(
            spark, uri, src,
            when_matched=when_matched, when_not_matched=when_not_matched,
            ts=3000, return_counts=return_counts,
            source_bounds={"k": (None, None)},
        )
    assert _state(spark, uri) == [(1, 10), (2, 20), (3, 30)]
