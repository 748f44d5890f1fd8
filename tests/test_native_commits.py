"""Commit-marker visibility for native arrays.

The reference's storage engine never reads a fragment whose commit marker
is missing — that marker (a zero-length file written last) is what makes
fragment writes crash-atomic.  Era artifacts pinned by the fixtures:
``.ok`` beside the fragment (2.0-2.3), ``__commits/*.wrt`` (2.3+,
multi_attribute), ``.con`` consolidated-commit lists (var/obs), and the
pre-marker 1.6 era (directory presence only).
"""
import os

import pytest

from tiledb_mariadb_spark.sources.tiledb_native import (
    _frag_range,
    _fragment_dirs,
    read_native_array,
)
from tiledb_mariadb_spark.sources.tiledb_native_write import (
    NativeAttr,
    NativeDim,
    create_native_array,
    write_native_fragment,
)

from .native_model import range_rows
from .spark_jobs import distributed_maintenance, spark_jobs


def _mkarray(d):
    uri = str(d / "arr")
    create_native_array(
        uri,
        [NativeDim("x", 1, 1, (0, 999), 10)],
        [NativeAttr("v", 1, 1, False, None)],
    )
    return uri


def _frag_names(uri):
    return [os.path.basename(f) for f in _fragment_dirs(uri)]


def test_frag_range_parses_consolidated_names():
    assert _frag_range("__100_200_abc_5") == (100, 200)
    assert _frag_range("__7_7_abc") == (7, 7)
    assert _frag_range("not_a_fragment") == (0, 0)


def test_unmarked_fragment_invisible_in_commits_era(tmp_path):
    uri = _mkarray(tmp_path)
    frag = write_native_fragment(uri, {"x": [1, 2], "v": [10, 20]}, ts=100)
    commits = os.path.join(uri, "__commits")
    if not os.path.isdir(commits):
        pytest.skip("writer predates __commits layout")
    name = os.path.basename(frag)
    marker = os.path.join(commits, name + ".wrt")
    assert os.path.isfile(marker), "writer must emit the commit marker"
    assert _frag_names(uri) == [name]
    # a crash between data files and marker = staged dir, no marker
    os.unlink(marker)
    assert _frag_names(uri) == []
    _, rows = read_native_array(uri)
    assert rows == []
    # marker restored -> visible again
    open(marker, "w").close()
    _, rows = read_native_array(uri)
    assert [r for r in rows] == [(1, 10), (2, 20)]


def test_con_file_commits_fragment(tmp_path):
    uri = _mkarray(tmp_path)
    frag = write_native_fragment(uri, {"x": [5], "v": [50]}, ts=100)
    name = os.path.basename(frag)
    commits = os.path.join(uri, "__commits")
    if not os.path.isdir(commits):
        pytest.skip("writer predates __commits layout")
    os.unlink(os.path.join(commits, name + ".wrt"))
    # the var/obs fixture format: newline-separated commit URIs
    con = os.path.join(commits, f"__100_100_{'c' * 32}_5.con")
    with open(con, "w") as f:
        f.write(f"__commits/{name}.wrt\n")
    assert _frag_names(uri) == [name]
    # an .ign file disregards the .con again (post-vacuum artifact)
    with open(os.path.join(commits, "x.ign"), "w") as f:
        f.write(f"__commits/{os.path.basename(con)}\n")
    assert _frag_names(uri) == []


def test_legacy_ok_marker_gates_root_fragments(tmp_path):
    uri = _mkarray(tmp_path)
    import shutil

    # degrade to the 2.0-era layout: fragments in the root, .ok markers
    frag = write_native_fragment(uri, {"x": [1], "v": [10]}, ts=100)
    name = os.path.basename(frag)
    root_frag = os.path.join(uri, name)
    if root_frag != frag:
        shutil.move(frag, root_frag)
    shutil.rmtree(os.path.join(uri, "__commits"), ignore_errors=True)
    shutil.rmtree(os.path.join(uri, "__fragments"), ignore_errors=True)
    # no marker era at all -> directory presence wins (1.6 parity)
    assert _frag_names(uri) == [name]
    # one .ok appears -> gating activates; the unmarked twin goes dark
    open(os.path.join(uri, name + ".ok"), "w").close()
    assert _frag_names(uri) == [name]
    os.unlink(os.path.join(uri, name + ".ok"))
    open(os.path.join(uri, "__999_999_other_5.ok"), "w").close()
    assert _frag_names(uri) == []


def test_open_at_excludes_mid_range_consolidated(tmp_path):
    uri = _mkarray(tmp_path)
    os.makedirs(os.path.join(uri, "__commits"), exist_ok=True)
    frag = write_native_fragment(uri, {"x": [1], "v": [1]}, ts=100)
    commits = os.path.join(uri, "__commits")
    root = os.path.dirname(frag)
    # hand-build a consolidated twin spanning [100, 300]
    import shutil

    cons = os.path.join(root, f"__100_300_{'d' * 32}_5")
    shutil.copytree(frag, cons)
    for n in (os.path.basename(frag), os.path.basename(cons)):
        open(os.path.join(commits, n + ".wrt"), "w").close()
    # full view: the wider fragment covers the original
    assert _frag_names(uri) == [os.path.basename(cons)]
    # opening mid-range (at=200 < 300) skips the consolidated fragment
    # and falls back to the original — TileDB's time-travel rule
    assert [os.path.basename(f) for f in _fragment_dirs(uri, at=200)] == [
        os.path.basename(frag)
    ]
    assert [os.path.basename(f) for f in _fragment_dirs(uri, at=99)] == []


# --- delete-condition commits (.del) ---------------------------------------


def _arr_with_rows(tmp_path, name="darr"):
    uri = str(tmp_path / name)
    create_native_array(
        uri,
        [NativeDim("x", 1, 1, (0, 999), 10)],
        [
            NativeAttr("v", 1, 1, False, None),
            NativeAttr("tag", 12, 0xFFFFFFFF, True, None),
        ],
    )
    write_native_fragment(
        uri,
        {"x": [1, 2, 3, 4], "v": [10, 20, 30, 40],
         "tag": ["a", "b", None, "b"]},
        ts=100,
    )
    return uri


def test_delete_condition_filters_reads(tmp_path):
    from tiledb_mariadb_spark.sources.tiledb_native import (
        count_native_array,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        write_delete_condition,
    )

    uri = _arr_with_rows(tmp_path)
    assert count_native_array(uri) == 4
    write_delete_condition(uri, [("tag", "=", "b")], ts=200)
    _, rows = read_native_array(uri)
    # NULL tag survives a value delete (3VL: NULL never matches)
    assert [(r[0], r[1]) for r in rows] == [(1, 10), (3, 30)]
    # time travel BEFORE the delete sees everything
    _, hist = read_native_array(uri, at=150)
    assert len(hist) == 4
    # metadata-only COUNT is no longer provable -> None, not a wrong count
    assert count_native_array(uri) is None
    assert count_native_array(uri, at=150) == 4
    # range reader applies the delete even when the projection DROPS the
    # conditioned attr
    names, rr = range_rows(uri, [(None, None)], columns=["v"])
    assert names == ["x", "v"]
    assert rr == [(1, 10), (3, 30)]


def test_delete_then_reinsert_survives(tmp_path):
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        write_delete_condition,
    )

    uri = _arr_with_rows(tmp_path)
    write_delete_condition(uri, [("v", ">=", 30)], ts=200)
    # re-insert x=3 AFTER the delete: newer cells are untouched by it
    write_native_fragment(
        uri, {"x": [3], "v": [300], "tag": ["c"]}, ts=300
    )
    _, rows = read_native_array(uri)
    assert [(r[0], r[1]) for r in rows] == [(1, 10), (2, 20), (3, 300)]


def test_consolidation_bakes_deletes_and_vacuums_them(tmp_path):
    from tiledb_mariadb_spark.sources.tiledb_native import (
        count_native_array,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        consolidate_native_array,
        vacuum_native_array,
        write_delete_condition,
    )

    uri = _arr_with_rows(tmp_path)
    write_native_fragment(
        uri, {"x": [5], "v": [50], "tag": ["e"]}, ts=150
    )
    write_delete_condition(uri, [("v", "<", 25)], ts=200)
    _, before = read_native_array(uri)
    assert [(r[0], r[1]) for r in before] == [(3, 30), (4, 40), (5, 50)]
    frag = consolidate_native_array(uri)
    assert frag is not None and "_200_" in os.path.basename(frag)
    commits = os.path.join(uri, "__commits")
    # pre-vacuum: the .del is on disk but covered by the merged range
    assert any(e.endswith(".del") for e in os.listdir(commits))
    _, after = read_native_array(uri)
    assert after == before
    # deletes baked in -> footer COUNT is provable again
    assert count_native_array(uri) == 3
    vacuum_native_array(uri)
    assert not any(e.endswith(".del") for e in os.listdir(commits))
    _, final = read_native_array(uri)
    assert final == before


def test_delete_rejects_dense_and_unknown_cols(tmp_path):
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        write_delete_condition,
    )

    uri = _arr_with_rows(tmp_path)
    with pytest.raises(ValueError, match="unknown column"):
        write_delete_condition(uri, [("nope", "=", 1)])
    with pytest.raises(ValueError, match="unsupported op"):
        write_delete_condition(uri, [("v", "like", 1)])
    dense = str(tmp_path / "dense")
    create_native_array(
        dense,
        [NativeDim("x", 1, 1, (0, 9), 10)],
        [NativeAttr("v", 1, 1, False, None)],
        array_type="DENSE",
    )
    with pytest.raises(ValueError, match="sparse"):
        write_delete_condition(dense, [("v", "=", 1)])


def test_connector_delete_visible_to_spark_scan(spark, tmp_path):
    """The connector's full distributed path honors delete commits: the
    executor-side split reads go through read_native_array_range_np, which
    applies every visible .del."""
    from tiledb_mariadb_spark.sources.tiledb_array import (
        ArrayInfo,
        AttrInfo,
        DimInfo,
        NativeDecoderBackend,
        read_array,
        write_array,
    )

    uri = str(tmp_path / "sarr")
    be = NativeDecoderBackend()
    be.create(
        uri,
        ArrayInfo(
            dims=[DimInfo("id", "bigint", (0, 999))],
            attrs=[AttrInfo("val", "bigint", nullable=False)],
        ),
    )
    src = spark.range(0, 100).selectExpr("id", "id * 2 AS val")
    write_array(src, uri, backend=be)
    be.delete(uri, [("val", ">=", 100)])
    out = read_array(spark, uri, backend=be)
    got = sorted(r.id for r in out.collect())
    assert got == list(range(50))


def test_consolidated_fragment_serves_stats_tier(tmp_path):
    """Round-6: consolidation emits the MODERN (v19) layout, so a
    consolidated array GAINS the metadata stats tier (multi-fragment
    overlap voided it before; the old v5 merge kept it voided forever)."""
    from tiledb_mariadb_spark.sources.tiledb_native import (
        attr_stats_native_array,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        consolidate_native_array,
        vacuum_native_array,
    )

    d = str(tmp_path / "cons19")
    create_native_array(
        d, [NativeDim("k", 1, 1, (0, 10**6), None)],
        [NativeAttr("v", 1, 1, False, None)],
    )
    write_native_fragment(
        d, {"k": [1, 2, 3], "v": [10, 20, 30]}, ts=100, version=19
    )
    write_native_fragment(d, {"k": [2, 5], "v": [99, 50]}, ts=200, version=19)
    assert attr_stats_native_array(d) is None  # overlapping fragments
    frag = consolidate_native_array(d)
    assert frag.endswith("_19")  # modern layout, not the v5 era
    vacuum_native_array(d)
    st = attr_stats_native_array(d)
    assert st["v"] == {"min": 10, "max": 99, "sum": 189}
    assert st["k"]["sum"] == 11  # newest-wins baked in (k=2 -> 99 once)


def test_distributed_consolidation_atomic(tmp_path, spark):
    """Round-6 `consolidate_array`: each task stages one disjoint-range
    v19 fragment WITHOUT a marker; ONE __commits/*.con file flips the
    whole group visible atomically.  Before the .con, staged dirs are
    invisible (crash contract); after vacuum the merged state survives
    with deletes baked in."""
    _check_full_consolidation(tmp_path, spark, distributed=True)


def test_driver_consolidation_atomic(tmp_path, spark):
    """The same array fits one task, so `consolidate_array` merges it in
    the driver into ONE fragment, committed by its .wrt marker; the
    merged state and the vacuum are the same."""
    _check_full_consolidation(tmp_path, spark, distributed=False)


def _check_full_consolidation(tmp_path, spark, distributed):
    import os

    from pyspark.sql import functions as F

    from tiledb_mariadb_spark.sources.tiledb_array import (
        consolidate_array,
        read_array,
        write_array,
    )
    from tiledb_mariadb_spark.sources.tiledb_native import (
        _fragment_dirs,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        vacuum_native_array,
        write_delete_condition,
        write_native_fragment,
    )

    uri = str(tmp_path / "dcons")
    create_native_array(
        uri, [NativeDim("k", 1, 1, (0, 10**6), None)],
        [NativeAttr("v", 1, 1, False, None)],
    )
    df = spark.range(0, 4000).selectExpr("id AS k", "id * 3 AS v")
    write_array(df.repartition(3), uri)
    write_array(
        spark.range(1000, 1500).selectExpr("id AS k", "id * 9 AS v"), uri
    )
    write_delete_condition(uri, [("v", ">", 9000)])
    agg = read_array(spark, uri).agg(
        F.count("*").alias("n"), F.sum("v").alias("sv")
    )
    before = tuple(agg.collect()[0])
    # the crash contract in isolation: a stage with commit=False is
    # invisible until a commit artifact lands
    n_vis = len(_fragment_dirs(uri))
    staged = write_native_fragment(
        uri, {"k": [999999], "v": [1]}, ts=5, commit=False
    )
    assert len(_fragment_dirs(uri)) == n_vis  # still invisible
    import shutil

    shutil.rmtree(staged)  # abandoned stage: plain dir removal, no repair
    with distributed_maintenance(distributed):
        n_new = consolidate_array(spark, uri, target_splits=4)
    cons = [
        e for e in os.listdir(os.path.join(uri, "__commits"))
        if e.endswith(".con")
    ]
    if distributed:
        assert n_new >= 2  # multiple disjoint fragments, one .con
        assert len(cons) == 1
    else:
        assert n_new == 1 and not cons  # one fragment, one .wrt
    assert len(_fragment_dirs(uri)) == n_new  # old fragments retired
    assert tuple(agg.collect()[0]) == before
    assert vacuum_native_array(uri) > 0
    assert tuple(agg.collect()[0]) == before
    # the delete was baked in and its commit vacuumed
    assert not [
        e for e in os.listdir(os.path.join(uri, "__commits"))
        if e.endswith(".del")
    ]


def test_distributed_consolidation_dense(tmp_path, spark):
    """Round-6 dense tier of `consolidate_array`: dim0 bands of the
    visible bounding box, newest-wins + fill materialization read per
    band, one .con commit — including an UNALIGNED overlay fragment
    (tile-expanded on disk, true-NED footer) whose padding must never
    shadow the base fragment.  Reads are bit-identical pre/post
    consolidation and post vacuum."""
    _check_dense_consolidation(tmp_path, spark, distributed=True)


def test_driver_consolidation_dense(tmp_path, spark):
    """The dense array's bounding box fits one task: the driver merges
    it into ONE band fragment with the same bit-identical reads."""
    _check_dense_consolidation(tmp_path, spark, distributed=False)


def _check_dense_consolidation(tmp_path, spark, distributed):
    import struct

    from tiledb_mariadb_spark.sources.tiledb_array import consolidate_array
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        vacuum_native_array,
    )

    uri = str(tmp_path / "dense_cons")
    create_native_array(
        uri,
        [NativeDim("r", 1, 1, (0, 99), 10),
         NativeDim("c", 1, 1, (0, 49), 10)],
        [NativeAttr("v", 1, 1, False, struct.pack("<q", -1))],
        array_type="DENSE",
    )
    write_native_fragment(
        uri,
        {"v": [r * 100 + c for r in range(30) for c in range(20)]},
        ts=10, subarray=[(0, 29), (0, 19)], version=19,
    )
    # UNALIGNED overlay: expanded to [(10,29),(0,19)] on disk, NED kept
    write_native_fragment(
        uri, {"v": [777] * (8 * 5)}, ts=20,
        subarray=[(13, 20), (7, 11)], version=19,
    )
    write_native_fragment(
        uri,
        {"v": [r * 1000 + c for r in range(40, 60)
               for c in range(10, 30)]},
        ts=30, subarray=[(40, 59), (10, 29)], version=19,
    )
    _n, before = range_rows(uri)
    assert len(before) == 60 * 30  # bbox [(0,59),(0,29)]
    assert (13, 7, 777) in before and (13, 6, 1306) in before
    with distributed_maintenance(distributed):
        n_new = consolidate_array(spark, uri, target_splits=6)
    cons = [
        e for e in os.listdir(os.path.join(uri, "__commits"))
        if e.endswith(".con")
    ]
    if distributed:
        assert n_new >= 2
        assert len(cons) == 1
    else:
        assert n_new == 1 and not cons
    assert len(_fragment_dirs(uri)) == n_new  # originals retired
    _n, after = range_rows(uri)
    assert after == before
    assert vacuum_native_array(uri) > 0
    _n, after2 = range_rows(uri)
    assert after2 == before
    # ranged read post-vacuum stays exact (band boundaries invisible)
    _n, ranged = range_rows(uri, ranges=[(10, 45), (5, 25)])
    assert ranged == [
        row for row in before if 10 <= row[0] <= 45 and 5 <= row[1] <= 25
    ]


def test_incremental_consolidation(tmp_path, spark):
    """Size-ratio INCREMENTAL consolidation (round 6): the plan picks
    contiguous runs of similar-size fragments, never the big base and
    never a span covering a .del; execution merges runs via the
    fragment-SUBSET reader; reads stay bit-identical, the base fragment
    is not rewritten, and the delete commit survives (it bakes only in
    FULL consolidation)."""
    _check_incremental_consolidation(tmp_path, spark, distributed=False)


def test_incremental_consolidation_distributed(tmp_path, spark):
    """The same runs merged by a Spark job of one task per (run, split)."""
    _check_incremental_consolidation(tmp_path, spark, distributed=True)


def _check_incremental_consolidation(tmp_path, spark, distributed):
    from tiledb_mariadb_spark.sources.tiledb_array import (
        consolidate_array_incremental,
        plan_consolidation,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        vacuum_native_array,
        write_delete_condition,
    )

    uri = str(tmp_path / "inc")
    create_native_array(
        uri, [NativeDim("k", 1, 1, (0, 10**6), None)],
        [NativeAttr("v", 1, 1, False, None)], capacity=100,
    )
    write_native_fragment(
        uri,
        {"k": list(range(10000)), "v": [k * 2 for k in range(10000)]},
        ts=100, version=19,
    )
    for i in range(5):
        ks = list(range(i * 50, i * 50 + 100))
        write_native_fragment(
            uri, {"k": ks, "v": [k * 10 + i for k in ks]},
            ts=200 + i, version=19,
        )
    write_delete_condition(uri, [("v", "=", 2)], ts=150)
    _n, before = range_rows(uri)
    big = os.path.basename(_fragment_dirs(uri)[0])
    runs = plan_consolidation(uri, ratio=3.0)
    assert len(runs) == 1 and len(runs[0]) == 5
    assert all(big != os.path.basename(f) for f in runs[0])
    with distributed_maintenance(distributed):
        n_new = consolidate_array_incremental(spark, uri, target_splits=3)
    assert n_new >= 1
    _n, after = range_rows(uri)
    assert after == before
    assert big in [os.path.basename(f) for f in _fragment_dirs(uri)]
    assert vacuum_native_array(uri) > 0
    _n, after2 = range_rows(uri)
    assert after2 == before
    # the .del survives an incremental merge (bakes only in FULL)
    assert [
        e for e in os.listdir(os.path.join(uri, "__commits"))
        if e.endswith(".del")
    ]
    # nothing left to merge at this ratio: base vs merged-run sizes skew
    assert plan_consolidation(uri, ratio=3.0) == []


def test_driver_consolidation_failure_leaves_no_orphans(
    tmp_path, spark, monkeypatch
):
    """Staging that raises partway through (here on the second of two
    admissible runs) in the driver removes every fragment it already
    staged and re-raises: no new fragment directory, no commit, and
    reads equal the pre-call rows."""
    from tiledb_mariadb_spark.sources import tiledb_native_write
    from tiledb_mariadb_spark.sources.tiledb_array import (
        consolidate_array_incremental,
        plan_consolidation,
    )

    uri = str(tmp_path / "fail")
    create_native_array(
        uri, [NativeDim("k", 1, 1, (0, 10**6), None)],
        [NativeAttr("v", 1, 1, False, None)], capacity=100,
    )
    for ts, lo, n in ((100, 0, 100), (101, 50, 100), (102, 120, 100),
                      (200, 0, 10000),
                      (300, 30, 100), (301, 90, 100), (302, 170, 100)):
        ks = list(range(lo, lo + n))
        write_native_fragment(uri, {"k": ks, "v": [k + ts for k in ks]},
                              ts=ts, version=19)
    assert len(plan_consolidation(uri)) == 2
    _n, before = range_rows(uri)
    froot = os.path.join(uri, "__fragments")
    commits = os.path.join(uri, "__commits")
    dirs, markers = set(os.listdir(froot)), set(os.listdir(commits))
    real = tiledb_native_write.write_native_fragment
    calls = []

    def flaky(*a, **k):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("injected staging failure")
        return real(*a, **k)

    monkeypatch.setattr(tiledb_native_write, "write_native_fragment", flaky)
    with pytest.raises(RuntimeError, match="injected"):
        consolidate_array_incremental(spark, uri)
    assert len(calls) == 2
    assert set(os.listdir(froot)) == dirs
    assert set(os.listdir(commits)) == markers
    _n, after = range_rows(uri)
    assert after == before


def test_large_consolidation_still_distributes(tmp_path, spark):
    """An input above one task's cells (300k cells in 8 fragments) is
    consolidated by one Spark job of more than one task, and reads back
    equal to the newest-wins model."""
    import numpy as np

    from tiledb_mariadb_spark.sources.tiledb_array import (
        NativeDecoderBackend,
        _CELLS_PER_TASK,
        maintain_array,
    )

    uri = str(tmp_path / "large")
    create_native_array(
        uri, [NativeDim("k", 1, 1, (0, 10**7), None)],
        [NativeAttr("v", 1, 1, False, None)],
    )
    model = np.full(8 * 30_000 + 7_500, -1, dtype=np.int64)
    for i in range(8):
        k = np.arange(i * 30_000, i * 30_000 + 37_500, dtype=np.int64)
        write_native_fragment(uri, {"k": k, "v": k * 10 + i}, ts=100 + i,
                              version=19)
        model[k] = k * 10 + i
    assert 8 * 37_500 > _CELLS_PER_TASK
    out, jobs, tasks = spark_jobs(spark, lambda: maintain_array(spark, uri))
    assert out["fragments"] >= 2
    assert jobs == 1 and tasks >= 2, (jobs, tasks)
    got = NativeDecoderBackend().read_range(uri, [(None, None)], ["k", "v"])
    assert np.array_equal(got["k"].to_numpy(), np.arange(len(model)))
    assert np.array_equal(got["v"].to_numpy(), model)


def test_plan_consolidation_respects_deletes_and_coverage(tmp_path):
    """A run whose span would cover a visible .del (or another
    fragment's range) is shrunk or rejected — deletes never silently
    stop applying to non-run fragments."""
    from tiledb_mariadb_spark.sources.tiledb_array import (
        plan_consolidation,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        write_delete_condition,
    )

    uri = str(tmp_path / "plan")
    create_native_array(
        uri, [NativeDim("k", 1, 1, (0, 1000), None)],
        [NativeAttr("v", 1, 1, False, None)],
    )
    for i, ts in enumerate((100, 200, 300, 400)):
        write_native_fragment(
            uri, {"k": [i], "v": [i]}, ts=ts, version=19
        )
    write_delete_condition(uri, [("v", "=", 0)], ts=250)
    runs = plan_consolidation(uri, ratio=100.0)
    # ts=250 splits the candidates: no admitted run spans the delete
    for run in runs:
        ts = [_frag_range(os.path.basename(f)) for f in run]
        t1, t2 = min(a for a, _ in ts), max(b for _, b in ts)
        assert not (t1 <= 250 <= t2)


def test_commits_consolidation(tmp_path):
    """consolidate_commits folds N zero-length .wrt markers into one
    .con listing; visibility identical before and after vacuum, open_at
    still honors fragment ranges, and a concurrent later write's .wrt
    is untouched."""
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        consolidate_commits,
        vacuum_native_array,
    )

    uri = _mkarray(tmp_path)
    for i, ts in enumerate((100, 200, 300)):
        write_native_fragment(uri, {"x": [i], "v": [i * 10]}, ts=ts)
    _s, before = read_native_array(uri)
    con = consolidate_commits(uri)
    assert con is not None and con.endswith(".con")
    _s, mid = read_native_array(uri)
    assert mid == before  # .wrt and .con agree pre-vacuum
    vacuum_native_array(uri)  # retires the three folded .wrt markers
    _s, after = read_native_array(uri)
    assert after == before
    commits = os.path.join(uri, "__commits")
    assert not [e for e in os.listdir(commits) if e.endswith(".wrt")]
    # open_at still filters by FRAGMENT ranges, not the .con span
    _s, old = read_native_array(uri, at=150)
    assert old == [(0, 0)]
    # a later write adds a fresh .wrt beside the .con; both respected
    write_native_fragment(uri, {"x": [9], "v": [99]}, ts=400)
    _s, plus = read_native_array(uri)
    assert plus == before + [(9, 99)]
    assert consolidate_commits(uri) is None  # single .wrt: nothing to fold


def test_incremental_consolidation_races_appender(tmp_path, spark):
    """A fragment appended AFTER the plan was computed (simulating a
    concurrent writer committing mid-consolidation) is never part of
    any run, never retired, and serves its rows both before and after
    the runs commit + vacuum."""
    _check_races_appender(tmp_path, spark, distributed=False)


def test_incremental_consolidation_races_appender_distributed(
    tmp_path, spark
):
    """The same race with the runs merged by a Spark job."""
    _check_races_appender(tmp_path, spark, distributed=True)


def _check_races_appender(tmp_path, spark, distributed):
    from tiledb_mariadb_spark.sources.tiledb_array import (
        consolidate_array_incremental,
        plan_consolidation,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        vacuum_native_array,
    )

    uri = str(tmp_path / "race")
    create_native_array(
        uri, [NativeDim("k", 1, 1, (0, 10**6), None)],
        [NativeAttr("v", 1, 1, False, None)], capacity=100,
    )
    for i in range(4):
        ks = list(range(i * 30, i * 30 + 60))
        write_native_fragment(
            uri, {"k": ks, "v": [k * 10 + i for k in ks]},
            ts=100 + i, version=19,
        )
    runs = plan_consolidation(uri, ratio=3.0)
    assert runs
    # the "concurrent" append lands between planning and execution,
    # NEWER than every run member
    write_native_fragment(
        uri, {"k": [7, 999], "v": [-7, -999]}, ts=500, version=19
    )
    _n, before = range_rows(uri)
    assert (7, -7) in before and (999, -999) in before
    with distributed_maintenance(distributed):
        n_new = consolidate_array_incremental(spark, uri, target_splits=2)
    assert n_new >= 1
    _n, after = range_rows(uri)
    assert after == before
    vacuum_native_array(uri)
    _n, after2 = range_rows(uri)
    assert after2 == before


def test_dense_incremental_consolidation(tmp_path, spark):
    """Round 7: DENSE size-ratio incremental consolidation is admitted
    for the provably-safe subset — runs whose union bounding box is
    disjoint from every OLDER fragment's written box (the append
    workload).  The big base fragment is not rewritten, reads are
    bit-identical before/after/post-vacuum, gap cells between run
    bands read as fills, and an overlapping-history run is refused."""
    _check_dense_incremental(tmp_path, spark, distributed=False)


def test_dense_incremental_consolidation_distributed(tmp_path, spark):
    """The same dense runs merged (and refused) on the Spark-job path."""
    _check_dense_incremental(tmp_path, spark, distributed=True)


def _check_dense_incremental(tmp_path, spark, distributed):
    from tiledb_mariadb_spark.sources.tiledb_array import (
        consolidate_array_incremental,
        plan_consolidation,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        vacuum_native_array,
    )

    uri = str(tmp_path / "dinc")
    create_native_array(
        uri, [NativeDim("x", 1, 1, (0, 999999), 100)],
        [NativeAttr("v", 1, 1, False, None)],
        array_type="DENSE",
    )
    write_native_fragment(
        uri, {"v": list(range(10000))},
        ts=100, subarray=[(0, 9999)], version=19,
    )
    # four small append bands, one with a GAP before it (fills)
    bands = [(10000, 10099), (10100, 10199), (10300, 10399),
             (10400, 10499)]
    for i, (blo, bhi) in enumerate(bands):
        write_native_fragment(
            uri, {"v": [x * 2 for x in range(blo, bhi + 1)]},
            ts=200 + i, subarray=[(blo, bhi)], version=19,
        )
    runs = plan_consolidation(uri, ratio=3.0)
    assert len(runs) == 1 and len(runs[0]) == 4
    _n, before = range_rows(uri)
    big = os.path.basename(_fragment_dirs(uri)[0])
    with distributed_maintenance(distributed):
        n_new = consolidate_array_incremental(spark, uri, target_splits=2)
    assert n_new >= 1
    _n, after = range_rows(uri)
    assert after == before
    assert big in [os.path.basename(f) for f in _fragment_dirs(uri)]
    # the gap band [10200,10299] reads as fills, same as before
    _n, gap = range_rows(uri, ranges=[(10150, 10350)])
    assert [r for r in gap if r[0] == 10250][0][1] == 0
    assert vacuum_native_array(uri) >= 4
    _n, after2 = range_rows(uri)
    assert after2 == before
    # an overlapping-history run is REFUSED: bands that overwrite part
    # of the base box must not be incrementally merged (their merged
    # bbox's fills would shadow base cells)
    uri2 = str(tmp_path / "dinc2")
    create_native_array(
        uri2, [NativeDim("x", 1, 1, (0, 999999), 100)],
        [NativeAttr("v", 1, 1, False, None)],
        array_type="DENSE",
    )
    write_native_fragment(
        uri2, {"v": list(range(10000))},
        ts=100, subarray=[(0, 9999)], version=19,
    )
    for i in range(4):
        blo = 5000 + i * 200  # inside the base box
        write_native_fragment(
            uri2, {"v": [7] * 100},
            ts=200 + i, subarray=[(blo, blo + 99)], version=19,
        )
    assert plan_consolidation(uri2, ratio=3.0)  # size-wise plannable
    _n, b2 = range_rows(uri2)
    with distributed_maintenance(distributed):
        assert consolidate_array_incremental(spark, uri2) == 0
    _n, a2 = range_rows(uri2)
    assert a2 == b2


def test_explicit_ts_write_inside_consolidated_span_rejected(tmp_path):
    """write at a pinned ts INSIDE a wider consolidated span is refused
    (the coverage rule would silently hide it — the libtiledb caveat
    that was previously documented without a guard); writes outside the
    span, at ts=None, and point-range ties still work, and a crashed
    consolidation's dotted .tmp staging file never traps future
    writes."""
    import pytest
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        consolidate_native_array,
    )

    uri = _mkarray(tmp_path)
    for i, ts in enumerate((100, 200, 300)):
        write_native_fragment(uri, {"x": [i], "v": [i * 10]}, ts=ts)
    assert consolidate_native_array(uri) is not None
    # inside the visible [100,300] span: refused
    with pytest.raises(ValueError, match="consolidated span"):
        write_native_fragment(uri, {"x": [9], "v": [99]}, ts=250)
    # outside the span / unpinned: fine
    write_native_fragment(uri, {"x": [9], "v": [99]}, ts=400)
    write_native_fragment(uri, {"x": [10], "v": [100]})
    # a point-range tie with an existing point fragment is not "wider"
    write_native_fragment(uri, {"x": [11], "v": [110]}, ts=400)
    # a crash-staged dotted .con.tmp must NOT block anything
    commits = os.path.join(uri, "__commits")
    with open(os.path.join(commits, ".__500_900_dead.con.tmp"), "w") as f:
        f.write("__commits/garbage.wrt\n")
    write_native_fragment(uri, {"x": [12], "v": [120]}, ts=700)
    # a staged (in-flight, uncommitted) WIDE fragment also blocks — the
    # pending-consolidation window is exactly when the race is live
    write_native_fragment(
        uri, {"x": [0, 1], "v": [1, 2]}, ts_range=(1000, 1200),
        commit=False,
    )
    with pytest.raises(ValueError, match="consolidated span"):
        write_native_fragment(uri, {"x": [13], "v": [130]}, ts=1100)


def test_incremental_consolidation_aborts_on_midspan_commit(
    tmp_path, spark, monkeypatch
):
    """Plan→commit race (round-7 advisor finding): a fragment or .del
    committed INSIDE a planned run's span while its tasks were staging
    would be covered (hidden) by the run's merged fragment.  The commit
    step re-checks admissibility against a fresh listing and ABORTS the
    run — no .con lands, the staged fragments are removed, and every
    row (including the racer's) stays visible."""
    _check_midspan_abort(tmp_path, spark, monkeypatch, distributed=False)


def test_incremental_consolidation_aborts_on_midspan_commit_distributed(
    tmp_path, spark, monkeypatch
):
    """The same aborts when the runs were staged by a Spark job."""
    _check_midspan_abort(tmp_path, spark, monkeypatch, distributed=True)


def _check_midspan_abort(tmp_path, spark, monkeypatch, distributed):
    from tiledb_mariadb_spark.sources import tiledb_array as ta
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        write_delete_condition,
    )

    for racer in ("fragment", "delete"):
        uri = str(tmp_path / f"abort_{racer}")
        create_native_array(
            uri, [NativeDim("k", 1, 1, (0, 10**6), None)],
            [NativeAttr("v", 1, 1, False, None)], capacity=100,
        )
        for i in range(4):
            ks = list(range(i * 30, i * 30 + 60))
            write_native_fragment(
                uri, {"k": ks, "v": [k * 10 + i for k in ks]},
                ts=100 + i, version=19,
            )
        stale = ta.plan_consolidation(uri, ratio=3.0)
        assert stale and len(stale[0]) == 4
        monkeypatch.setattr(
            ta, "plan_consolidation", lambda *a, **k: stale
        )
        # the racer lands INSIDE the planned [100,103] span, after
        # planning but before the .con flip
        if racer == "fragment":
            write_native_fragment(
                uri, {"k": [999999], "v": [-1]}, ts=102, version=19
            )
        else:
            write_delete_condition(uri, [("v", "=", 0)], ts=102)
        _n, before = range_rows(uri)
        n_frags_before = len(_fragment_dirs(uri))
        with distributed_maintenance(distributed):
            assert ta.consolidate_array_incremental(
                spark, uri, target_splits=2
            ) == 0
        commits = os.path.join(uri, "__commits")
        assert not [e for e in os.listdir(commits) if e.endswith(".con")]
        # staged-but-aborted fragments are gone from disk too
        assert len(_fragment_dirs(uri)) == n_frags_before
        froot = os.path.join(uri, "__fragments")
        assert len([
            d for d in os.listdir(froot)
            if os.path.isdir(os.path.join(froot, d))
        ]) == n_frags_before
        _n, after = range_rows(uri)
        assert after == before
        monkeypatch.undo()


def test_inflight_staging_artifacts_invisible(tmp_path):
    """Crash-consistency of consolidation staging: a leftover dotted
    tmp file in __commits (a crash between write and os.replace) is
    never parsed as a commit artifact — a PARTIAL .con must not surface
    a half-committed consolidation group."""
    uri = _mkarray(tmp_path)
    frag = write_native_fragment(uri, {"x": [1], "v": [10]}, ts=100)
    commits = os.path.join(uri, "__commits")
    name = os.path.basename(frag)
    # a torn tmp .con listing a STAGED (uncommitted) fragment name
    staged = write_native_fragment(
        uri, {"x": [2], "v": [20]}, ts=200, commit=False
    )
    with open(os.path.join(commits, ".__100_200_dead.con.tmp"), "w") as f:
        f.write(f"__commits/{os.path.basename(staged)}.wrt\n")
    assert _frag_names(uri) == [name]  # tmp artifact ignored
    _s, rows = read_native_array(uri)
    assert rows == [(1, 10)]
