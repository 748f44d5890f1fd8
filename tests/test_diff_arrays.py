"""Snapshot diff (`diff_arrays`): added/deleted/changed rows between two
timestamps of one array — a zero-shuffle storage-partitioned self-join,
window-box-confined (O(window), not O(array)) whenever no delete commit
falls inside the window.

Contract: classification equals a brute-force full-outer join of the two
snapshot reads for every shape — appends, overwrites, NULL transitions,
delete commits, consolidation inside the window, empty windows."""

from __future__ import annotations

import contextlib
import io
import random

import pytest

from tiledb_mariadb_spark.sources.tiledb_array import (
    diff_arrays,
    read_array,
)
from tiledb_mariadb_spark.sources.tiledb_native import (
    NativeAttr,
    NativeDim,
    delete_commits_in_window,
)
from tiledb_mariadb_spark.sources.tiledb_native_write import (
    create_native_array,
    write_delete_condition,
    write_native_fragment,
)


def _mk(tmp_path, name="arr", nullable=True):
    uri = str(tmp_path / name)
    create_native_array(
        uri,
        dims=[NativeDim("k", 1, 1, (0, 10**7), None)],
        attrs=[NativeAttr("v", 1, 1, nullable, None)],
    )
    return uri


def _brute(spark, uri, at_old, at_new):
    po = read_array(spark, uri, at=at_old).toPandas().set_index("k")["v"]
    pn = read_array(spark, uri, at=at_new).toPandas().set_index("k")["v"]
    out = {}
    for k in sorted(set(po.index) | set(pn.index)):
        o = po.get(k)
        n = pn.get(k)
        has_o, has_n = k in po.index, k in pn.index
        o = None if (o != o or o is None) else int(o)
        n = None if (n != n or n is None) else int(n)
        if has_o and not has_n:
            out[k] = ("deleted", o, None)
        elif has_n and not has_o:
            out[k] = ("added", None, n)
        elif o != n:
            out[k] = ("changed", o, n)
    return out


def _got(spark, uri, at_old, at_new):
    rows = diff_arrays(spark, uri, at_old=at_old, at_new=at_new).collect()
    return {
        r["k"]: (
            r["change"],
            None if r["v_old"] is None else int(r["v_old"]),
            None if r["v_new"] is None else int(r["v_new"]),
        )
        for r in rows
    }


def test_diff_basic(spark, tmp_path):
    uri = _mk(tmp_path)
    write_native_fragment(
        uri, {"k": [1, 2, 3, 4], "v": [10, 20, None, 40]}, ts=1000,
        version=19,
    )
    write_native_fragment(
        uri, {"k": [2, 3, 4, 5], "v": [25, 30, 40, 50]}, ts=2000, version=19
    )
    got = _got(spark, uri, 1000, 2000)
    assert got == {
        2: ("changed", 20, 25),
        3: ("changed", None, 30),  # NULL -> value is a change
        5: ("added", None, 50),
    }
    assert got == _brute(spark, uri, 1000, 2000)


def test_diff_empty_window_no_tasks(spark, tmp_path):
    uri = _mk(tmp_path)
    write_native_fragment(uri, {"k": [1], "v": [1]}, ts=1000, version=19)
    df = diff_arrays(spark, uri, at_old=1000, at_new=5000)
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == [
        "k", "change", "v_old", "v_new",
    ]


def test_diff_delete_commit(spark, tmp_path):
    uri = _mk(tmp_path)
    write_native_fragment(
        uri, {"k": [1, 2, 3], "v": [10, 20, 30]}, ts=1000, version=19
    )
    write_delete_condition(uri, [("v", ">=", 20)], ts=2000)
    assert delete_commits_in_window(uri, since=1001, at=2000)
    assert not delete_commits_in_window(uri, since=2001)
    got = _got(spark, uri, 1000, 3000)
    assert got == {
        2: ("deleted", 20, None),
        3: ("deleted", 30, None),
    }
    assert got == _brute(spark, uri, 1000, 3000)


def test_diff_include_unchanged_full_domain(spark, tmp_path):
    uri = _mk(tmp_path)
    write_native_fragment(
        uri, {"k": [1, 2], "v": [10, 20]}, ts=1000, version=19
    )
    write_native_fragment(uri, {"k": [2], "v": [25]}, ts=2000, version=19)
    df = diff_arrays(
        spark, uri, at_old=1000, at_new=2000, include_unchanged=True
    )
    got = sorted((r["k"], r["change"]) for r in df.collect())
    assert got == [(1, "unchanged"), (2, "changed")]


def test_diff_window_confinement_correct(spark, tmp_path):
    """Rows far outside the window box are provably unchanged and never
    scanned — yet the diff is complete."""
    uri = _mk(tmp_path)
    write_native_fragment(
        uri,
        {"k": list(range(1000)), "v": list(range(1000))},
        ts=1000,
        version=19,
    )
    # window touches only keys 5000..5009
    write_native_fragment(
        uri,
        {"k": list(range(5000, 5010)), "v": [7] * 10},
        ts=2000,
        version=19,
    )
    got = _got(spark, uri, 1000, 2000)
    assert got == {k: ("added", None, 7) for k in range(5000, 5010)}


def test_diff_randomized_parity(spark, tmp_path):
    rng = random.Random(13)
    for trial in range(3):
        uri = _mk(tmp_path, f"r{trial}")
        # three generations of overlapping writes
        for gen, ts in enumerate((1000, 2000, 3000)):
            ks = sorted(rng.sample(range(200), rng.randint(20, 80)))
            vs = [
                None if rng.random() < 0.15 else rng.randrange(100)
                for _ in ks
            ]
            write_native_fragment(
                uri, {"k": ks, "v": vs}, ts=ts, version=19
            )
        if trial == 1:  # a delete commit mid-window
            write_delete_condition(uri, [("v", "<", 10)], ts=2500)
        for a, b in ((1000, 2000), (1000, 3000), (2000, 3000)):
            assert _got(spark, uri, a, b) == _brute(spark, uri, a, b), (
                trial, a, b,
            )


def test_diff_consolidation_in_window_is_quiet(spark, tmp_path):
    """Consolidating old fragments inside the window must not report
    phantom changes (merged content is logically identical)."""
    from tiledb_mariadb_spark.sources.tiledb_array import (
        consolidate_array,
    )

    uri = _mk(tmp_path)
    write_native_fragment(
        uri, {"k": [1, 2], "v": [10, 20]}, ts=1000, version=19
    )
    write_native_fragment(
        uri, {"k": [3, 4], "v": [30, 40]}, ts=1100, version=19
    )
    consolidate_array(spark, uri, target_splits=2)
    got = _got(spark, uri, 1100, None)
    assert got == {}


if __name__ == "__main__":
    pytest.main([__file__, "-q"])


def test_diff_dense_overlay(spark, tmp_path):
    """Dense arrays diff too: an overlay subarray write shows as
    changed cells (fills materialize on both snapshot reads, so
    untouched fill cells compare equal and drop out)."""
    uri = str(tmp_path / "dense")
    create_native_array(
        uri,
        dims=[NativeDim("k", 0, 1, (0, 99), 10)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
        array_type="DENSE",
    )
    write_native_fragment(
        uri, {"v": list(range(10))}, subarray=[(0, 9)], ts=1000,
        version=19,
    )
    write_native_fragment(
        uri, {"v": [777] * 5}, subarray=[(5, 9)], ts=2000, version=19
    )
    rows = sorted(
        tuple(r)
        for r in diff_arrays(spark, uri, at_old=1000, at_new=2000).collect()
    )
    assert rows == [(k, "changed", k, 777) for k in range(5, 10)]


def test_diff_allows_dups_refuses(spark, tmp_path):
    uri = str(tmp_path / "dups")
    create_native_array(
        uri,
        dims=[NativeDim("k", 1, 1, (0, 10**6), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
        allows_dups=True,
    )
    write_native_fragment(uri, {"k": [1, 1], "v": [1, 2]}, ts=1000,
                          version=19)
    with pytest.raises(ValueError, match="unique row identity"):
        diff_arrays(spark, uri, at_old=1000, at_new=2000)


def test_diff_vacuumed_snapshot_raises(spark, tmp_path):
    """Consolidate-then-vacuum covering at_old DESTROYS the old
    snapshot; the diff must raise instead of reporting every surviving
    row as 'added' (round-7 advisor finding)."""
    from tiledb_mariadb_spark.sources.tiledb_array import (
        consolidate_array,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        vacuum_native_array,
    )

    uri = _mk(tmp_path)
    write_native_fragment(
        uri, {"k": [1, 2], "v": [10, 20]}, ts=1000, version=19
    )
    write_native_fragment(
        uri, {"k": [3, 4], "v": [30, 40]}, ts=2000, version=19
    )
    # BEFORE vacuum: at_old=1500 still resolves (originals on disk)
    consolidate_array(spark, uri, target_splits=2)
    got = _got(spark, uri, 1500, None)
    assert got == {3: ("added", None, 30), 4: ("added", None, 40)}
    # AFTER vacuum: the 1500 snapshot is gone -> loud failure
    assert vacuum_native_array(uri) > 0
    with pytest.raises(ValueError, match="destroyed by consolidation"):
        diff_arrays(spark, uri, at_old=1500, at_new=None)
    # a timestamp AFTER the consolidated range still diffs fine
    write_native_fragment(
        uri, {"k": [5], "v": [50]}, ts=3000, version=19
    )
    got2 = _got(spark, uri, 2500, None)
    assert got2 == {5: ("added", None, 50)}


def test_window_destroyed_guard(spark, tmp_path):
    """since= reads fail loudly when consolidate+vacuum destroyed the
    window's straddling originals (the windowed sibling of the diff
    vacuum hazard): pre-vacuum the window reads fine (coverage rule
    falls back to originals), post-vacuum it would silently lose the
    in-window rows — so it raises instead."""
    from tiledb_mariadb_spark.sources.tiledb_array import (
        consolidate_array,
        read_array,
    )
    from tiledb_mariadb_spark.sources.tiledb_native import (
        window_destroyed,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        vacuum_native_array,
    )

    uri = _mk(tmp_path)
    write_native_fragment(
        uri, {"k": [1, 2], "v": [10, 20]}, ts=1000, version=19
    )
    write_native_fragment(
        uri, {"k": [3, 4], "v": [30, 40]}, ts=2000, version=19
    )
    consolidate_array(spark, uri, target_splits=2)
    # pre-vacuum: the originals answer the window (r7 coverage rule)
    assert not window_destroyed(uri, 1500)
    rows = read_array(spark, uri, since=1500).collect()
    assert sorted(r["k"] for r in rows) == [3, 4]
    # post-vacuum: the ts=2000 original is gone, the consolidated
    # [1000,2000] is excluded by since -> rows would vanish: raise
    vacuum_native_array(uri)
    assert window_destroyed(uri, 1500)
    with pytest.raises(ValueError, match="destroyed by consolidation"):
        read_array(spark, uri, since=1500)
    # the tiledb_agg planner (the bridge's splits command) runs the
    # same guard
    from tiledb_mariadb_spark.tools import jvm_bridge

    err = io.StringIO()
    with contextlib.redirect_stderr(err), contextlib.redirect_stdout(
        io.StringIO()
    ):
        assert jvm_bridge.main(
            ["splits", "--uri", uri, "--since", "1500"]
        ) == 3
    assert "destroyed by consolidation" in err.getvalue()
    # so does a SQL view: its metadata COUNT declines to answer the
    # destroyed window, and the scan it falls back to raises
    from tiledb_mariadb_spark.sources.spark_datasource import (
        sql_table_from_array,
    )

    sql_table_from_array(spark, "destroyed_window", uri, since=1500)
    for q in ("SELECT k FROM destroyed_window",
              "SELECT COUNT(*) FROM destroyed_window"):
        with pytest.raises(Exception, match="destroyed by consolidation"):
            spark.sql(q).collect()
    # windows past the consolidated range still read fine
    write_native_fragment(
        uri, {"k": [5], "v": [50]}, ts=3000, version=19
    )
    assert not window_destroyed(uri, 2500)
    rows = read_array(spark, uri, since=2500).collect()
    assert [r["k"] for r in rows] == [5]
    # a window starting exactly AT the consolidated fragment's t1 sees
    # the whole consolidated content: not destroyed
    assert not window_destroyed(uri, 1000)
