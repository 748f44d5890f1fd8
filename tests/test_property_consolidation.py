"""Property-based INCREMENTAL-consolidation semantics (round 6).

Random fragment histories — random sizes (so the size-ratio plan picks
different runs), overlapping keys in random timestamp order, optional
delete commits — checked for the invariants the design claims:

- merged reads are BIT-IDENTICAL before consolidation, after (originals
  still on disk), and after vacuum;
- pre-vacuum time travel to any instant outside staged spans is
  unchanged;
- no admitted run's span covers a visible .del timestamp, and every
  .del survives (deletes bake only in FULL consolidation);
- fragments outside every run are never rewritten.
"""

import os

from hypothesis import given, settings, strategies as st

from tiledb_mariadb_spark.sources.tiledb_native import (
    NativeAttr,
    NativeDim,
    _frag_range,
    _fragment_dirs,
)
from tiledb_mariadb_spark.sources.tiledb_native_write import (
    create_native_array,
    vacuum_native_array,
    write_delete_condition,
    write_native_fragment,
)

from .native_model import range_rows
from .spark_jobs import distributed_maintenance


@settings(max_examples=8, deadline=None)
@given(data=st.data())
def test_incremental_consolidation_model(
    tmp_path_factory, spark, data
):
    """Every history here fits one task: the runs merge in the driver."""
    _check_model(tmp_path_factory, spark, data, distributed=False)


@settings(max_examples=8, deadline=None)
@given(data=st.data())
def test_incremental_consolidation_model_distributed(
    tmp_path_factory, spark, data
):
    """The same invariants with the runs merged by a Spark job."""
    _check_model(tmp_path_factory, spark, data, distributed=True)


def _check_model(tmp_path_factory, spark, data, distributed):
    from tiledb_mariadb_spark.sources.tiledb_array import (
        consolidate_array_incremental,
        plan_consolidation,
    )

    draw = data.draw
    d = str(tmp_path_factory.mktemp("pinc") / "arr")
    create_native_array(
        d, [NativeDim("k", 1, 1, (0, 100000), None)],
        [NativeAttr("v", 1, 1, False, None)], capacity=64,
    )
    n_frags = draw(st.integers(3, 7))
    ts_list = sorted(
        draw(
            st.lists(
                st.integers(100, 10000), min_size=n_frags,
                max_size=n_frags, unique=True,
            )
        )
    )
    for i, ts in enumerate(ts_list):
        n = draw(st.sampled_from([20, 40, 400, 2000]))
        lo = draw(st.integers(0, 500))
        ks = list(range(lo, lo + n))
        write_native_fragment(
            d, {"k": ks, "v": [kk * 100 + i for kk in ks]},
            ts=ts, version=19,
        )
    if draw(st.booleans()):
        # a delete at a random instant — value conditions exercise the
        # plan's never-bake rule and the survivors' 3VL filtering
        dts = draw(st.integers(50, 11000))
        write_delete_condition(d, [("v", "<", 5000)], ts=dts)
    _n, before = range_rows(d)
    at_probe = draw(st.integers(50, 11000))
    _n, before_at = range_rows(d, at=at_probe)
    pre_frags = {os.path.basename(f) for f in _fragment_dirs(d)}

    runs = plan_consolidation(d, ratio=3.0)
    commits = os.path.join(d, "__commits")
    del_ts = [
        int(e.split("_")[2])
        for e in os.listdir(commits) if e.endswith(".del")
    ] if os.path.isdir(commits) else []
    run_members = set()
    for run in runs:
        rs = [_frag_range(os.path.basename(f)) for f in run]
        t1, t2 = min(a for a, _ in rs), max(b for _, b in rs)
        assert not any(t1 <= dt <= t2 for dt in del_ts)
        run_members |= {os.path.basename(f) for f in run}

    with distributed_maintenance(distributed):
        n_new = consolidate_array_incremental(spark, d, target_splits=3)
    _n, after = range_rows(d)
    assert after == before
    post_frags = {os.path.basename(f) for f in _fragment_dirs(d)}
    # non-run fragments are untouched and still visible
    assert (pre_frags - run_members) <= post_frags
    if runs:
        assert n_new >= 1
    # staged spans: time travel OUTSIDE them is unchanged pre-vacuum
    spans = [
        _frag_range(nm) for nm in post_frags - pre_frags
    ]
    if not any(a <= at_probe and at_probe < b for a, b in spans):
        _n, after_at = range_rows(d, at=at_probe)
        assert after_at == before_at
    vacuum_native_array(d)
    _n, after2 = range_rows(d)
    assert after2 == before
    # every .del survives an incremental merge
    if del_ts:
        assert [
            e for e in os.listdir(commits) if e.endswith(".del")
        ]
