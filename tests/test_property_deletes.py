"""Hypothesis fuzz: delete-commit history semantics vs a pure-Python
model.  Random interleavings of WRITE / DELETE-WHERE / CONSOLIDATE /
VACUUM must read back — at EVERY historical timestamp, not just the
full view — exactly what a straightforward replay of the same history
produces.  This pins the interaction surface that unit tests can't
enumerate: deletes binding only to earlier cells, coverage-rule
fallback during mid-range time travel, baked deletes never re-applying,
vacuum destroying exactly the covered history."""

from hypothesis import given, settings, strategies as st

from tiledb_mariadb_spark.sources.tiledb_native import (
    NativeAttr,
    NativeDim,
    count_native_array,
    read_native_array,
)
from tiledb_mariadb_spark.sources.tiledb_native_write import (
    consolidate_native_array,
    create_native_array,
    vacuum_native_array,
    write_delete_condition,
    write_native_fragment,
)

from .native_model import range_rows

# an op is one of:
#   ("write", [(k, v), ...])
#   ("delete", op, threshold)       -> DELETE WHERE v <op> threshold
#   ("consolidate",)
#   ("vacuum",)
KV = st.tuples(
    st.integers(min_value=0, max_value=19),
    st.integers(min_value=-50, max_value=50),
)
OP = st.one_of(
    st.tuples(st.just("write"),
              st.lists(KV, min_size=1, max_size=6,
                       unique_by=lambda t: t[0])),
    st.tuples(st.just("delete"), st.sampled_from(["<", "<=", ">", ">=", "=", "!="]),
              st.integers(min_value=-50, max_value=50)),
    st.tuples(st.just("consolidate")),
    st.tuples(st.just("vacuum")),
)


def _model_state(history, at=None):
    """Replay the logical history directly: newest-wins cells, each
    delete removing matching cells written at-or-before it.  Vacuum and
    consolidation are PHYSICAL ops — they must never change this."""
    cells: dict[int, tuple[int, int]] = {}  # k -> (v, write_ts)
    for ts, op in history:
        if at is not None and ts > at:
            break
        if op[0] == "write":
            for k, v in op[1]:
                cells[k] = (v, ts)
        elif op[0] == "delete":
            _tag, cmp_op, thr = op
            test = {
                "<": lambda v: v < thr, "<=": lambda v: v <= thr,
                ">": lambda v: v > thr, ">=": lambda v: v >= thr,
                "=": lambda v: v == thr, "!=": lambda v: v != thr,
            }[cmp_op]
            cells = {
                k: (v, wts) for k, (v, wts) in cells.items()
                if not (wts <= ts and test(v))
            }
    return sorted((k, v) for k, (v, _t) in cells.items())


@settings(max_examples=40, deadline=None)
@given(ops=st.lists(OP, min_size=1, max_size=10))
def test_history_fuzz_matches_model(tmp_path_factory, ops):
    d = str(tmp_path_factory.mktemp("delfuzz") / "arr")
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (0, 100), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
    )
    history = []  # logical ops only (writes/deletes), with their ts
    checkpoints = []  # (at, vacuumed_since?) -> expected snapshot
    ts = 0
    vacuumed_after: list[int] = []  # at-values whose history was destroyed
    for op in ops:
        ts += 100
        if op[0] == "write":
            write_native_fragment(
                d,
                {"k": [k for k, _v in op[1]], "v": [v for _k, v in op[1]]},
                ts=ts,
            )
            history.append((ts, op))
        elif op[0] == "delete":
            write_delete_condition(d, [("v", op[1], op[2])], ts=ts)
            history.append((ts, op))
        elif op[0] == "consolidate":
            consolidate_native_array(d)
        else:
            # vacuum destroys time travel INTO consolidated ranges:
            # drop all earlier checkpoints, they are no longer promised
            vacuum_native_array(d)
            checkpoints.clear()
        checkpoints.append((ts, _model_state(history, at=ts)))

    # full view must always match the model
    _s, rows = read_native_array(d)
    assert [(r[0], r[1]) for r in rows] == _model_state(history)
    # an unbounded range read serves the same state
    _names, rr = range_rows(d, [(None, None)])
    assert [(r[0], r[1]) for r in rr] == _model_state(history)
    # metadata COUNT is either honest None or exactly right
    n = count_native_array(d)
    assert n is None or n == len(_model_state(history))
    # every still-promised historical snapshot reads back exactly
    for at, expect in checkpoints:
        _s, hrows = read_native_array(d, at=at)
        assert [(r[0], r[1]) for r in hrows] == expect, f"at={at}"
        hn = count_native_array(d, at=at)
        assert hn is None or hn == len(expect), f"count at={at}"
