"""Test-side view of the native reader and a reference model for it.

``range_rows`` turns the columnar reader's ``(names, {name: ndarray})``
into ``(names, rows)`` of python values.  ``ArrayModel`` says what an
array must read back, computed only from the inputs handed to the
writer: newest-wins merge per coordinate (every cell under
``allows_dups``), ``at``/``since`` fragment visibility, delete commits
gated by writer timestamp with SQL three-valued logic, and dense
bounding-box reads whose uncovered cells read as fills.
"""

import itertools
import operator

from tiledb_mariadb_spark.sources.tiledb_native import (
    read_native_array_range_np,
)
from tiledb_mariadb_spark.sources.tiledb_native_write import (
    create_native_array,
    evolve_native_schema,
    write_delete_condition,
    write_native_fragment,
)


def range_rows(array_dir, ranges=None, columns=None, **kw):
    """``(names, rows)`` from :func:`read_native_array_range_np`: one
    tuple of python values per cell, in the reader's order."""
    names, cols = read_native_array_range_np(
        array_dir, ranges=ranges, columns=columns, **kw
    )
    return names, list(zip(*(cols[n].tolist() for n in names)))


def char(k: int):
    """Read-back form of a value written to a fixed CHAR(k)/UTF-8(k)
    attribute: NUL-padded to k bytes, invalid UTF-8 replaced."""

    def _norm(v):
        if v is None:
            return None
        b = v.encode() if isinstance(v, str) else bytes(v)
        return b.ljust(k, b"\0").decode("utf-8", errors="replace")

    return _norm


def enum(labels):
    """Read-back form of an enumerated value written as a label or a
    1-based ordinal (0 = '')."""

    def _norm(v):
        if isinstance(v, int) and not isinstance(v, bool):
            return "" if v == 0 else labels[v - 1]
        return v

    return _norm


def boolean(v):
    return None if v is None else int(v)


_CMP = {
    "=": operator.eq, "!=": operator.ne, "<": operator.lt,
    "<=": operator.le, ">": operator.gt, ">=": operator.ge,
}


def _matches(cell: dict, cond) -> bool:
    col, op, *rest = cond
    v = cell.get(col)
    if op == "is_null":
        return v is None
    if op == "is_not_null":
        return v is not None
    if v is None:  # a comparison with NULL never matches
        return False
    if op == "in":
        return v in rest[0]
    return _CMP[op](v, rest[0])


def _inside(coord, ranges) -> bool:
    return all(
        (lo is None or v >= lo) and (hi is None or v <= hi)
        for v, (lo, hi) in zip(coord, ranges)
    )


class ArrayModel:
    """A native array plus the model of what it must read back.

    Create through the model and write through ``write``/``delete``/
    ``evolve``: each call goes to the writer and is remembered.
    ``fills`` gives the value an attribute reads as where it was never
    written (dense gaps, fragments older than an evolved-in attr);
    ``norm`` maps a written value to its read-back form (see ``char``,
    ``enum``, ``boolean``).  Every write needs an explicit ``ts``."""

    def __init__(self, array_dir, dims, attrs, fills=None, norm=None,
                 **create_kw):
        create_native_array(array_dir, dims, attrs, **create_kw)
        self.dir = array_dir
        self.dims = [d.name for d in dims]
        self.domain = [d.domain for d in dims]
        self.attrs = [a.name for a in attrs]
        self.dense = create_kw.get("array_type") == "DENSE"
        self.dups = create_kw.get("allows_dups", False)
        self.fills = dict(fills or {})
        self.norm = dict(norm or {})
        self.writes = []  # (ts, box or None, [(coord, {attr: value})])
        self.deletes = []  # (ts, conds)

    def write(self, cols: dict, ts: int, **kw):
        write_native_fragment(self.dir, cols, ts=ts, **kw)
        box = None
        if self.dense:
            box = [tuple(b) for b in (kw.get("subarray") or self.domain)]
            coords = list(
                itertools.product(*(range(lo, hi + 1) for lo, hi in box))
            )
        else:
            coords = list(zip(*(cols[n] for n in self.dims)))
        cells = []
        for i, c in enumerate(coords):
            vals = {}
            for a in self.attrs:
                if a in cols:
                    f = self.norm.get(a)
                    vals[a] = f(cols[a][i]) if f else cols[a][i]
            cells.append((c, vals))
        self.writes.append((ts, box, cells))

    def delete(self, conds, ts: int):
        write_delete_condition(self.dir, conds, ts=ts)
        self.deletes.append((ts, [tuple(c) for c in conds]))

    def evolve(self, add_attrs, fills):
        evolve_native_schema(self.dir, add_attrs=add_attrs)
        self.attrs += [a.name for a in add_attrs]
        self.fills.update(fills)

    def _value(self, vals, a):
        return vals[a] if a in vals else self.fills.get(a)

    def read(self, ranges=None, columns=None, at=None, since=None):
        """``(names, rows)`` the reader must return for these
        arguments, rows sorted by coordinate."""
        attrs = [a for a in self.attrs if columns is None or a in columns]
        names = self.dims + attrs
        rngs = list(ranges) if ranges else [(None, None)] * len(self.dims)
        vis = [
            w for w in self.writes
            if (at is None or w[0] <= at) and (since is None or w[0] >= since)
        ]
        if self.dense:
            return names, self._read_dense(vis, rngs, attrs)
        cells = []
        merged = {}
        for ts, _box, wcells in vis:  # oldest -> newest
            for c, vals in wcells:
                if self.dups:
                    cells.append((c, vals, ts))
                else:
                    merged[c] = (c, vals, ts)
        if not self.dups:
            cells = list(merged.values())
        dels = [d for d in self.deletes if at is None or d[0] <= at]
        out = []
        for c, vals, wts in cells:
            full = dict(zip(self.dims, c))
            full.update({a: self._value(vals, a) for a in self.attrs})
            if any(
                wts <= dts and all(_matches(full, x) for x in conds)
                for dts, conds in dels
            ):
                continue
            if _inside(c, rngs):
                out.append(c + tuple(full[a] for a in attrs))
        nd = len(self.dims)
        return names, sorted(out, key=lambda r: r[:nd])

    def _read_dense(self, vis, rngs, attrs):
        if not vis:
            return []
        bbox = []
        for i, (lo, hi) in enumerate(rngs):
            blo = min(w[1][i][0] for w in vis)
            bhi = max(w[1][i][1] for w in vis)
            blo = blo if lo is None else max(blo, lo)
            bhi = bhi if hi is None else min(bhi, hi)
            if blo > bhi:
                return []
            bbox.append((blo, bhi))
        latest = {}
        for _ts, _box, wcells in vis:
            for c, vals in wcells:
                latest[c] = vals
        return [
            c + tuple(self._value(latest.get(c, {}), a) for a in attrs)
            for c in itertools.product(
                *(range(lo, hi + 1) for lo, hi in bbox)
            )
        ]

    def check(self, **kw):
        """Assert the reader returns exactly the model's rows."""
        got = range_rows(
            self.dir, ranges=kw.get("ranges"), columns=kw.get("columns"),
            at=kw.get("at"), since=kw.get("since"),
            prune_conditions=kw.get("prune_conditions"),
        )
        want = self.read(
            ranges=kw.get("ranges"), columns=kw.get("columns"),
            at=kw.get("at"), since=kw.get("since"),
        )
        assert got[0] == want[0], (got[0], want[0])
        conds = kw.get("prune_conditions")
        if conds:
            # a skip proof may leave non-matching rows, but can neither
            # drop a matching one nor invent one
            got_keys = {repr(r) for r in got[1]}
            assert got_keys <= {repr(r) for r in want[1]}, kw
            hits = [
                r for r in want[1]
                if all(_matches(dict(zip(want[0], r)), c) for c in conds)
            ]
            assert {repr(r) for r in hits} <= got_keys, kw
            return
        assert got[1] == want[1], kw
