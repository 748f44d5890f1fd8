"""Stateful model fuzz over the native tier's FULL op surface: random
interleavings of writes, deletes, every consolidation mode,
fragment-meta folds, and vacuums — then reads checked three ways:

1. against ``tests/native_model.ArrayModel``, which computes the view
   from the written inputs alone (newest-wins, writer-ts-gated deletes,
   ``at``/``since`` visibility) — full views always, time-travel and
   window reads while the fragments are still the written ones;
2. maintenance INVARIANCE: the full-view row set is bit-identical
   across consolidate / incremental-consolidate / fold / vacuum;
3. conditioned reads keep every matching row of the model's view and
   invent none (the planner's fragment and tile skips must never
   change visibility — the property behind plan_condition_skips'
   shadow rule).

This is the net that catches cross-feature interactions single-purpose
tests can't: a fold serving a stale footer, a skip plan resurrecting a
shadowed cell after consolidation, a window read through a merged
fragment's span, a delete surviving vacuum."""

import random

import pytest

from tiledb_mariadb_spark.sources.tiledb_native import (
    NativeAttr,
    NativeDim,
    _FMETA_CACHE,
)
from tiledb_mariadb_spark.sources.tiledb_native_write import (
    consolidate_fragment_meta,
    consolidate_native_array,
    vacuum_native_array,
)

from .native_model import ArrayModel, range_rows


def _read(m, **kw):
    """The reader's rows, checked against the model's full view when
    the read is unwindowed."""
    rows = sorted(range_rows(m.dir, **kw)[1])
    if not any(kw.get(x) is not None for x in ("at", "since")):
        want = sorted(m.read()[1])
        if kw.get("ranges"):
            (lo, hi), = kw["ranges"]
            want = [r for r in want if lo <= r[0] <= hi]
        if kw.get("prune_conditions"):
            assert set(rows) <= set(want), f"{kw} invented rows"
        else:
            assert rows == want, f"model divergence {kw}"
    return rows


def _match(row, cond):
    # row = (k, v); condition on v with SQL 3VL (v never NULL here)
    _k, v = row
    col, op, val = cond
    assert col == "v"
    return {
        "=": v == val, "!=": v != val, "<": v < val,
        "<=": v <= val, ">": v > val, ">=": v >= val,
    }[op]


@pytest.mark.parametrize("seed", range(16))
def test_native_op_sequence_fuzz(tmp_path, seed):
    rnd = random.Random(4000 + seed)
    m = ArrayModel(
        str(tmp_path / "arr"),
        dims=[NativeDim("k", 1, 1, (0, 500), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
        bloom_attrs=["v"] if seed % 2 else None,
    )
    ts = 10
    n_writes = 0
    write_ts: list[int] = []
    merged = False  # fragments rewritten: time travel is layout-bound

    def _history():
        # time-travel and window reads, model-checked while every
        # fragment is still a written one
        for t in write_ts:
            m.check(at=t)
            m.check(since=t)
            m.check(since=write_ts[0], at=t)

    for _step in range(rnd.randrange(8, 15)):
        op = rnd.random()
        if op < 0.55 or n_writes == 0:
            n = rnd.randrange(2, 25)
            keys = rnd.sample(range(120), n)  # small space: overwrites
            vals = (
                [rnd.randrange(8)] * n  # constant: refutable
                if rnd.random() < 0.4
                else [rnd.randrange(8) for _ in range(n)]
            )
            m.write({"k": sorted(keys), "v": vals}, ts=ts,
                    version=19 if rnd.random() < 0.8 else 5)
            write_ts.append(ts)
            ts += rnd.randrange(1, 4)
            n_writes += 1
        elif op < 0.65:
            try:
                m.delete([("v", "=", rnd.randrange(8))], ts=ts)
                ts += 1
            except (TypeError, ValueError):
                pass
        elif op < 0.8:
            if not merged:
                _history()
            before = _read(m)
            merged |= consolidate_native_array(m.dir) is not None
            assert _read(m) == before, "consolidation changed view"
        elif op < 0.9:
            before = _read(m)
            _FMETA_CACHE.clear()
            consolidate_fragment_meta(m.dir)
            assert _read(m) == before, "fold changed view"
        else:
            before = _read(m)
            vacuum_native_array(m.dir)
            assert _read(m) == before, "vacuum changed view"
    if not merged:
        _history()

    # final checks over random calls.  prune_conditions are PRUNE-ONLY
    # in the reader (the backend applies the exact residual), so the
    # soundness contract is: every MATCHING row survives the skip plan,
    # and no row outside the unconditioned view appears — i.e. skips
    # may leave residual non-matching rows but can neither lose a match
    # nor resurrect a shadowed cell.
    base = _read(m)
    for _ in range(10):
        c = rnd.randrange(8)
        cond = ("v", rnd.choice(["=", "!=", "<", "<=", ">", ">="]), c)
        got = _read(m, prune_conditions=[cond])
        want = [r for r in base if _match(r, cond)]
        assert [r for r in got if _match(r, cond)] == want, (
            f"condition {cond} lost a matching row"
        )
        lo = rnd.randrange(0, 120)
        hi = lo + rnd.randrange(0, 60)
        got = _read(m, ranges=[(lo, hi)], prune_conditions=[cond])
        want = [r for r in base if lo <= r[0] <= hi and _match(r, cond)]
        assert [r for r in got if _match(r, cond)] == want, (
            f"range ({lo},{hi}) + condition {cond} lost a matching row"
        )
    # every historical timestamp still reads (layout-dependent values
    # once merged; the model checks them above while unmerged)
    for t in write_ts:
        _read(m, at=t)
        _read(m, since=t)


@pytest.mark.parametrize("seed", range(3))
def test_maintenance_interleaved_fuzz(tmp_path, spark, seed):
    """maintain_array (the full consolidation matrix + vacuum) lands
    between random write/delete batches; the full view matches the
    model and is invariant across every maintenance call."""
    from tiledb_mariadb_spark.sources.tiledb_array import maintain_array

    rnd = random.Random(7000 + seed)
    m = ArrayModel(
        str(tmp_path / "arr"),
        dims=[NativeDim("k", 1, 1, (0, 500), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
        bloom_attrs=["v"],
    )
    ts = 10
    for _round in range(3):
        for _w in range(rnd.randrange(2, 5)):
            n = rnd.randrange(2, 20)
            keys = rnd.sample(range(100), n)
            m.write(
                {"k": sorted(keys), "v": [rnd.randrange(6) for _ in range(n)]},
                ts=ts, version=19,
            )
            ts += rnd.randrange(1, 3)
        if rnd.random() < 0.5:
            m.delete([("v", "=", rnd.randrange(6))], ts=ts)
            ts += 1
        before = _read(m)
        _FMETA_CACHE.clear()
        maintain_array(spark, m.dir, incremental=bool(_round % 2))
        assert _read(m) == before, "maintain_array changed the view"
        # post-maintenance conditioned reads keep the prune-only contract
        c = rnd.randrange(6)
        got = _read(m, prune_conditions=[("v", "=", c)])
        want = [r for r in before if r[1] == c]
        assert [r for r in got if r[1] == c] == want
