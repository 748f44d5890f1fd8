"""The benchmark's own checks, without Spark: answers are compared with
the model, a planted wrong answer counts as a failed op, and one seed
always gives the same op stream.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.harness import Context, closed_loop, failed_op_ratio  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import PointRange  # noqa: E402


class ModelAnswers(PointRange):
    """PointRange reads on a small array, answered from the model itself
    instead of through Spark; the op ids in ``planted`` get a wrong
    answer."""

    CELLS = 20_000
    FRAGMENTS = 2
    RANGE_CELLS = 100

    def __init__(self, ctx, seed: int, planted=()) -> None:
        super().__init__(ctx, seed)
        self.planted = set(planted)

    def execute(self, op):
        rows = self.expected(op)
        if op.id in self.planted:
            return rows[1:] if rows else [(-1,)]
        return rows


def _workload(tmp_path, seed: int = 7, planted=()) -> ModelAnswers:
    ctx = Context(spark=None, run_dir=str(tmp_path), cpus=1,
                  tracer=Tracer(enabled=False))
    wl = ModelAnswers(ctx, seed, planted)
    wl.prepare()
    return wl


def test_clean_run_has_no_failed_op(tmp_path):
    wl = _workload(tmp_path)
    records, _ = closed_loop(wl, wl.ctx, seconds=0, trace=False)
    assert len(records) == len(wl.CYCLE)  # one whole cycle at least
    assert failed_op_ratio(records) == 0


def test_planted_wrong_answer_raises_failed_op_ratio(tmp_path):
    planted = {1, 5}  # a range and an aggregate op of the cycle
    wl = _workload(tmp_path, planted=planted)
    records, _ = closed_loop(wl, wl.ctx, seconds=0, trace=False)
    assert {r.op.id for r in records if not r.ok} == planted
    assert failed_op_ratio(records) == len(planted) / len(records)


def test_same_seed_same_op_stream(tmp_path):
    def stream(sub, seed):
        wl = _workload(tmp_path / sub, seed)
        return [(op.kind, op.args) for op, _ in
                zip(wl.ops(), range(2 * len(wl.CYCLE)))]

    assert stream("a", 3) == stream("b", 3)
    assert stream("a2", 3) != stream("c", 4)


def test_self_time_excludes_child_spans():
    t = Tracer(enabled=True)
    with t.span("outer"):
        time.sleep(0.02)
        with t.span("inner"):
            time.sleep(0.03)
    self_s = t.self_times()
    assert 0.015 < self_s["outer"][0] < 0.03
    assert self_s["inner"][0] >= 0.03
