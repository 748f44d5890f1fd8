"""Property-based DENSE semantics model (round 6).

Random 1-D/2-D dense arrays — random domains, extents, tile-aligned
subarray writes in random timestamp order — checked against a plain
dict model of TileDB dense read semantics: newest fragment wins per
cell, the scan materializes the bounding box of all written boxes
(clipped by the requested ranges), and uncovered cells read as the
attribute FILL value.  BOTH the row path and the columnar fast path
must match the model exactly (the fast path must also claim
eligibility — dense is first-class since round 6, so a silent row-path
fallback is itself a failure).
"""

import struct

from hypothesis import given, settings, strategies as st

from tiledb_mariadb_spark.sources.tiledb_native import (
    NativeAttr,
    NativeDim,
)
from tiledb_mariadb_spark.sources.tiledb_native_write import (
    create_native_array,
    write_native_fragment,
)

from .native_model import range_rows

FILL = -99


def _axis(draw, max_len=24):
    hi = draw(st.integers(4, max_len)) - 1
    ext = draw(st.sampled_from([None, 2, 3, 4, hi + 1]))
    return (0, hi), ext


def _aligned_box(draw, domain, ext):
    lo, hi = domain
    e = ext or (hi - lo + 1)
    starts = list(range(lo, hi + 1, e))
    s = draw(st.sampled_from(starts))
    n_tiles = draw(st.integers(1, max(1, (hi - s + 1) // e) or 1))
    end = min(hi, s + n_tiles * e - 1)
    return (s, end)


def _any_box(draw, domain, ext):
    """Aligned or UNALIGNED subarray (round 6: the writer expands
    unaligned boxes to tile boundaries, pads edge tiles with fills, and
    records the true NED — reads must be box-exact either way)."""
    if draw(st.booleans()):
        return _aligned_box(draw, domain, ext)
    lo, hi = domain
    a = draw(st.integers(lo, hi))
    b = draw(st.integers(lo, hi))
    return (min(a, b), max(a, b))


@settings(max_examples=25, deadline=None)
@given(data=st.data())
def test_dense_model_1d(tmp_path_factory, data):
    draw = data.draw
    dom, ext = _axis(draw, 40)
    d = str(tmp_path_factory.mktemp("pd1") / "arr")
    create_native_array(
        d,
        [NativeDim("x", 1, 1, dom, ext)],
        [NativeAttr("v", 1, 1, False, struct.pack("<q", FILL))],
        array_type="DENSE",
    )
    model: dict[int, tuple[int, int]] = {}  # x -> (ts, value)
    n_writes = draw(st.integers(1, 4))
    boxes = []
    for w in range(n_writes):
        box = _any_box(draw, dom, ext)
        ts = draw(st.integers(1, 1000)) * 10 + w  # unique, random order
        version = draw(st.sampled_from([5, 19]))
        vals = [ts * 1000 + (x - box[0]) for x in range(box[0], box[1] + 1)]
        write_native_fragment(
            d, {"v": vals}, ts=ts, version=version, subarray=[box]
        )
        boxes.append(box)
        for x, v in zip(range(box[0], box[1] + 1), vals):
            if x not in model or model[x][0] < ts:
                model[x] = (ts, v)
    # a random window (sometimes unbounded)
    rng = draw(
        st.one_of(
            st.none(),
            st.tuples(
                st.integers(dom[0], dom[1]), st.integers(dom[0], dom[1])
            ).map(lambda t: (min(t), max(t))),
        )
    )
    blo = min(b[0] for b in boxes)
    bhi = max(b[1] for b in boxes)
    if rng is not None:
        blo, bhi = max(blo, rng[0]), min(bhi, rng[1])
    expect = [
        (x, model[x][1] if x in model else FILL)
        for x in range(blo, bhi + 1)
    ]
    kw = {"ranges": [rng]} if rng is not None else {}
    names, rows = range_rows(d, **kw)
    assert names == ["x", "v"]
    assert rows == expect


@settings(max_examples=15, deadline=None)
@given(data=st.data())
def test_dense_model_2d(tmp_path_factory, data):
    draw = data.draw
    dom_x, ext_x = _axis(draw, 12)
    dom_y, ext_y = _axis(draw, 12)
    d = str(tmp_path_factory.mktemp("pd2") / "arr")
    create_native_array(
        d,
        [NativeDim("x", 1, 1, dom_x, ext_x),
         NativeDim("y", 1, 1, dom_y, ext_y)],
        [NativeAttr("v", 1, 1, False, struct.pack("<q", FILL))],
        array_type="DENSE",
    )
    model: dict[tuple[int, int], tuple[int, int]] = {}
    boxes = []
    for w in range(draw(st.integers(1, 3))):
        bx = _any_box(draw, dom_x, ext_x)
        by = _any_box(draw, dom_y, ext_y)
        ts = draw(st.integers(1, 1000)) * 10 + w
        version = draw(st.sampled_from([5, 19]))
        cells = [
            (x, y)
            for x in range(bx[0], bx[1] + 1)
            for y in range(by[0], by[1] + 1)
        ]
        vals = [ts * 10000 + i for i in range(len(cells))]
        write_native_fragment(
            d, {"v": vals}, ts=ts, version=version, subarray=[bx, by]
        )
        boxes.append((bx, by))
        for c, v in zip(cells, vals):
            if c not in model or model[c][0] < ts:
                model[c] = (ts, v)
    bx_lo = min(b[0][0] for b in boxes)
    bx_hi = max(b[0][1] for b in boxes)
    by_lo = min(b[1][0] for b in boxes)
    by_hi = max(b[1][1] for b in boxes)
    expect = [
        (x, y, model[(x, y)][1] if (x, y) in model else FILL)
        for x in range(bx_lo, bx_hi + 1)
        for y in range(by_lo, by_hi + 1)
    ]
    names, rows = range_rows(d)
    assert names == ["x", "y", "v"]
    assert rows == expect
