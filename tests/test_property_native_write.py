"""Hypothesis fuzz: writer→decoder round-trip over random schemas and
values.  Anything the writer emits, the decoder must read back exactly
(including None/validity, var-length UTF-8, empty strings, negative and
boundary ints, multi-fragment overwrite order)."""

from hypothesis import given, settings, strategies as st

from tiledb_mariadb_spark.sources.tiledb_native import (
    NativeAttr,
    NativeDim,
    read_native_array,
)
from tiledb_mariadb_spark.sources.tiledb_native_write import (
    create_native_array,
    write_native_fragment,
)

from .native_model import range_rows

I64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
I32 = st.integers(min_value=-(2**31), max_value=2**31 - 1)
F64 = st.floats(allow_nan=False, allow_infinity=False, width=64)
TXT = st.text(max_size=20)


@settings(max_examples=25, deadline=None)
@given(
    data=st.lists(
        st.tuples(I64, I32, F64, TXT, st.one_of(st.none(), I64)),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    )
)
def test_sparse_roundtrip_fuzz(tmp_path_factory, data):
    d = str(tmp_path_factory.mktemp("fuzz") / "arr")
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (-(2**63), 2**63 - 1), None)],
        attrs=[
            NativeAttr("a", 0, 1, False, None),
            NativeAttr("x", 3, 1, False, None),
            NativeAttr("s", 12, 0xFFFFFFFF, False, None),
            NativeAttr("n", 1, 1, True, None),
        ],
    )
    cols = list(zip(*data))
    write_native_fragment(
        d,
        {"k": cols[0], "a": cols[1], "x": cols[2], "s": cols[3],
         "n": cols[4]},
        ts=10,
    )
    _s, rows = read_native_array(d)
    assert rows == sorted(data)


@settings(max_examples=15, deadline=None)
@given(
    frags=st.lists(
        st.dictionaries(
            st.integers(min_value=0, max_value=9),  # coordinate
            I32,                                    # value
            min_size=1,
            max_size=6,
        ),
        min_size=1,
        max_size=4,
    )
)
def test_overwrite_merge_fuzz(tmp_path_factory, frags):
    """Newest-fragment-wins equals a dict update applied in ts order."""
    d = str(tmp_path_factory.mktemp("fuzz") / "ow")
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (0, 9), None)],
        attrs=[NativeAttr("v", 0, 1, False, None)],
    )
    expect: dict = {}
    for i, cells in enumerate(frags):
        ks = sorted(cells)
        write_native_fragment(
            d, {"k": ks, "v": [cells[k] for k in ks]}, ts=100 + i
        )
        expect.update(cells)
    _s, rows = read_native_array(d)
    assert rows == [(k, expect[k]) for k in sorted(expect)]


@settings(max_examples=20, deadline=None)
@given(
    cells=st.dictionaries(
        st.integers(min_value=0, max_value=500),
        I32,
        min_size=1,
        max_size=60,
    ),
    lo=st.integers(min_value=-10, max_value=510),
    width=st.integers(min_value=0, max_value=200),
)
def test_range_read_matches_bruteforce_fuzz(tmp_path_factory, cells, lo, width):
    """read_native_array_range_np (footer pruning + sorted-dim0 bisect seek
    + span decode) returns exactly the brute-force dict-filter answer on
    random fragments and random ranges."""

    d = str(tmp_path_factory.mktemp("rr") / "arr")
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (0, 1000), None)],
        attrs=[NativeAttr("v", 0, 1, False, None)],
    )
    ks = sorted(cells)
    write_native_fragment(d, {"k": ks, "v": [cells[k] for k in ks]}, ts=10)
    hi = lo + width
    _names, rows = range_rows(d, ranges=[(lo, hi)])
    expect = [(k, cells[k]) for k in ks if lo <= k <= hi]
    assert rows == expect


@settings(max_examples=12, deadline=None)
@given(
    frags=st.lists(
        st.dictionaries(
            st.integers(min_value=0, max_value=300),
            I32,
            min_size=1,
            max_size=25,
        ),
        min_size=2,
        max_size=4,
    ),
    lo=st.integers(min_value=0, max_value=300),
    width=st.integers(min_value=0, max_value=120),
)
def test_multifragment_range_read_fuzz(tmp_path_factory, frags, lo, width):
    """Range reads over OVERLAPPING multi-fragment arrays: footer
    pruning + per-fragment seeks still produce newest-wins-within-range
    exactly."""

    d = str(tmp_path_factory.mktemp("mf") / "arr")
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (0, 1000), None)],
        attrs=[NativeAttr("v", 0, 1, False, None)],
    )
    model: dict = {}
    for i, cells in enumerate(frags):
        ks = sorted(cells)
        write_native_fragment(
            d, {"k": ks, "v": [cells[k] for k in ks]}, ts=50 + i
        )
        model.update(cells)
    hi = lo + width
    _names, rows = range_rows(d, ranges=[(lo, hi)])
    expect = [(k, model[k]) for k in sorted(model) if lo <= k <= hi]
    assert rows == expect


@settings(max_examples=15, deadline=None)
@given(
    cells=st.dictionaries(
        st.integers(min_value=0, max_value=1000),
        I32,
        min_size=1,
        max_size=60,
    ),
    cap=st.integers(min_value=1, max_value=7),
    lo=st.integers(min_value=0, max_value=1000),
    width=st.integers(min_value=0, max_value=400),
)
def test_multitile_range_read_fuzz(tmp_path_factory, cells, cap, lo, width):
    """Capacity-packed MULTI-TILE fragments (writer emits one chunked
    tile per `cap` cells) read back exactly — whole-array, ranged, and
    the footer count — across tile boundaries."""
    from tiledb_mariadb_spark.sources.tiledb_native import (
        count_native_array,
        read_native_array,
    )

    d = str(tmp_path_factory.mktemp("mt") / "arr")
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (0, 1000), None)],
        attrs=[NativeAttr("v", 0, 1, False, None)],
        capacity=cap,
    )
    ks = sorted(cells)
    write_native_fragment(d, {"k": ks, "v": [cells[k] for k in ks]}, ts=10)
    assert count_native_array(d) == len(ks)
    _s, rows = read_native_array(d)
    assert rows == [(k, cells[k]) for k in ks]
    hi = lo + width
    _n, ranged = range_rows(d, ranges=[(lo, hi)])
    assert ranged == [(k, cells[k]) for k in ks if lo <= k <= hi]


@settings(max_examples=60, deadline=None)
@given(
    dom_lo=st.integers(min_value=-1000, max_value=1000),
    span=st.integers(min_value=0, max_value=5000),
    weights=st.lists(
        st.tuples(
            st.integers(min_value=-2000, max_value=7000),
            st.integers(min_value=0, max_value=3000),
            st.integers(min_value=0, max_value=10**6),
        ),
        max_size=20,
    ),
    n=st.integers(min_value=1, max_value=40),
)
def test_weighted_plan_splits_always_partition(dom_lo, span, weights, n):
    """Whatever the (possibly garbage) tile weights, weighted split
    planning must emit a disjoint, gap-free partition of the domain —
    balance is best-effort, coverage is an invariant."""
    from tiledb_mariadb_spark.sources.tiledb_array import (
        ArrayInfo,
        AttrInfo,
        DimInfo,
        plan_splits,
    )

    info = ArrayInfo(
        dims=[DimInfo("k", "bigint", (dom_lo, dom_lo + span))],
        attrs=[AttrInfo("v", "bigint", nullable=False)],
    )
    w = [(lo, lo + width, cells) for lo, width, cells in weights]
    splits = plan_splits(info, target_splits=n, weights=w)
    spans = sorted(s[0] for s in splits)
    assert spans[0][0] == dom_lo
    assert spans[-1][1] == dom_lo + span
    for (_a, b), (c, _d) in zip(spans, spans[1:]):
        assert c == b + 1


@settings(max_examples=20, deadline=None)
@given(
    boxes=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),   # start tile
            st.integers(min_value=1, max_value=4),   # tiles in box
        ),
        min_size=1,
        max_size=4,
    ),
    probe_lo=st.integers(min_value=0, max_value=30),
    probe_w=st.integers(min_value=0, max_value=30),
)
def test_dense_subarray_overlay_fuzz(tmp_path_factory, boxes, probe_lo, probe_w):
    """Random tile-aligned dense boxes vs a dict model: bounding-box
    materialization, newest-wins overlay, fill for gaps — whole and
    ranged reads."""
    from tiledb_mariadb_spark.sources.tiledb_native import (
        count_native_array,
        read_native_array,
    )

    EXT, DOM_HI = 5, 29  # 6 tiles of 5
    d = str(tmp_path_factory.mktemp("dsf") / "arr")
    create_native_array(
        d,
        array_type="DENSE",
        dims=[NativeDim("k", 1, 1, (0, DOM_HI), EXT)],
        attrs=[NativeAttr("v", 1, 1, False, None)],  # default fill 0
    )
    model: dict = {}
    for i, (t0, w) in enumerate(boxes):
        lo = t0 * EXT
        hi = min(lo + w * EXT - 1, DOM_HI)
        if lo > DOM_HI:
            continue
        vals = [1000 * (i + 1) + k for k in range(lo, hi + 1)]
        write_native_fragment(
            d, {"v": vals}, ts=100 + i, subarray=[(lo, hi)]
        )
        for k, v in zip(range(lo, hi + 1), vals):
            model[k] = v
    if not model:
        return
    blo, bhi = min(model), max(model)
    expect = [(k, model.get(k, 0)) for k in range(blo, bhi + 1)]
    _s, rows = read_native_array(d)
    assert rows == expect
    assert count_native_array(d) == bhi - blo + 1
    p_hi = probe_lo + probe_w
    _n, ranged = range_rows(d, ranges=[(probe_lo, p_hi)])
    assert ranged == [r for r in expect if probe_lo <= r[0] <= p_hi]


@settings(max_examples=20, deadline=None)
@given(
    pts=st.dictionaries(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=30),
        ),
        I32,
        min_size=1,
        max_size=50,
    ),
    box=st.tuples(
        st.integers(min_value=0, max_value=30),
        st.integers(min_value=0, max_value=15),
        st.integers(min_value=0, max_value=30),
        st.integers(min_value=0, max_value=15),
    ),
)
def test_hilbert_write_read_fuzz(tmp_path_factory, pts, box):
    """Hilbert-ordered fragments: whole reads and 2-D box reads equal
    the brute-force model regardless of curve layout."""
    from tiledb_mariadb_spark.sources.tiledb_native import (
        read_native_array,
    )

    d = str(tmp_path_factory.mktemp("hf") / "arr")
    create_native_array(
        d,
        dims=[
            NativeDim("x", 1, 1, (0, 31), None),
            NativeDim("y", 1, 1, (0, 31), None),
        ],
        attrs=[NativeAttr("v", 1, 1, False, None)],
        capacity=7,
        cell_order="HILBERT",
    )
    keys = list(pts)
    write_native_fragment(
        d,
        {"x": [k[0] for k in keys], "y": [k[1] for k in keys],
         "v": [pts[k] for k in keys]},
        ts=10,
    )
    expect = sorted((x, y, v) for (x, y), v in pts.items())
    _s, rows = read_native_array(d)
    assert rows == expect
    xlo, xw, ylo, yw = box
    rngs = [(xlo, xlo + xw), (ylo, ylo + yw)]
    _n, got = range_rows(d, ranges=rngs)
    assert got == [
        r for r in expect
        if xlo <= r[0] <= xlo + xw and ylo <= r[1] <= ylo + yw
    ]


@settings(max_examples=15, deadline=None)
@given(
    steps=st.lists(
        st.one_of(
            st.tuples(st.just("write"),
                      st.dictionaries(st.integers(min_value=0, max_value=20),
                                      I32, min_size=1, max_size=8)),
            st.tuples(st.just("add"), st.booleans()),
            st.tuples(st.just("drop"), st.integers(min_value=0, max_value=5)),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_schema_evolution_fuzz(tmp_path_factory, steps):
    """Random interleavings of writes, attr adds (nullable or filled),
    and attr drops vs a dict model: reads always reflect the newest
    schema, with per-fragment fill/NULL for attrs newer than the
    fragment."""
    import struct as _struct

    from tiledb_mariadb_spark.sources.tiledb_native import (
        read_native_array,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        evolve_native_schema,
    )

    d = str(tmp_path_factory.mktemp("evo") / "arr")
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (0, 20), None)],
        attrs=[NativeAttr("a0", 1, 1, False, None)],
    )
    attrs = ["a0"]          # current schema attr names, in order
    fills = {"a0": 0}       # fill value per attr name (None = NULL)
    model: dict = {}        # coord -> {attr: value} (newest write wins)
    next_id = [1]
    ts = [100]
    for op, arg in steps:
        if op == "write":
            cells = arg
            ks = sorted(cells)
            cols = {"k": ks}
            for i, name in enumerate(attrs):
                cols[name] = [cells[k] + i for k in ks]
            write_native_fragment(d, cols, ts=ts[0])
            ts[0] += 10
            for k in ks:
                model[k] = {name: cells[k] + i
                            for i, name in enumerate(attrs)}
        elif op == "add":
            nullable = arg
            name = f"a{next_id[0]}"
            next_id[0] += 1
            fill = None if nullable else -next_id[0]
            evolve_native_schema(
                d,
                add_attrs=[NativeAttr(
                    name, 1, 1, nullable,
                    None if nullable else _struct.pack("<q", fill),
                )],
                ts=ts[0],
            )
            ts[0] += 10
            attrs.append(name)
            fills[name] = fill
        else:  # drop
            if len(attrs) <= 1:
                continue
            name = attrs[arg % len(attrs)]
            evolve_native_schema(d, drop_attrs=[name], ts=ts[0])
            ts[0] += 10
            attrs.remove(name)
    schema, rows = read_native_array(d)
    assert [a.name for a in schema.attrs] == attrs
    expect = [
        tuple([k] + [model[k].get(a, fills[a]) for a in attrs])
        for k in sorted(model)
    ]
    assert rows == expect


@settings(max_examples=25, deadline=None)
@given(
    entries=st.lists(
        st.dictionaries(
            st.sampled_from(["k1", "k2", "k3", "owner", "n"]),
            st.one_of(
                st.none(),
                st.integers(min_value=-(2**62), max_value=2**62),
                st.text(max_size=12),
            ),
            min_size=1,
            max_size=4,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_array_metadata_fold_fuzz(tmp_path_factory, entries):
    """Random put/update/delete entry sequences fold newest-wins exactly
    like a dict with None-deletes."""
    from tiledb_mariadb_spark.sources.tiledb_native import (
        read_array_metadata,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        write_array_metadata,
    )

    d = str(tmp_path_factory.mktemp("meta") / "arr")
    create_native_array(
        d,
        dims=[NativeDim("k", 1, 1, (0, 10), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
    )
    model: dict = {}
    for i, items in enumerate(entries):
        write_array_metadata(d, items, ts=100 + i)
        for k, v in items.items():
            if v is None:
                model.pop(k, None)
            else:
                model[k] = str(v)
    assert read_array_metadata(d) == model


@settings(max_examples=15, deadline=None)
@given(
    pts=st.dictionaries(
        st.tuples(st.integers(min_value=0, max_value=20),
                  st.integers(min_value=0, max_value=20)),
        I32, min_size=1, max_size=40,
    ),
    rng=st.tuples(st.integers(min_value=0, max_value=20),
                  st.integers(min_value=0, max_value=10),
                  st.integers(min_value=0, max_value=20),
                  st.integers(min_value=0, max_value=10)),
)
def test_col_major_read_fuzz(tmp_path_factory, pts, rng):
    from tiledb_mariadb_spark.sources.tiledb_native import (
        read_native_array,
    )

    d = str(tmp_path_factory.mktemp("cm") / "arr")
    create_native_array(
        d,
        dims=[NativeDim("x", 1, 1, (0, 20), None),
              NativeDim("y", 1, 1, (0, 20), None)],
        attrs=[NativeAttr("v", 1, 1, False, None)],
        capacity=5,
        cell_order="COL_MAJOR",
    )
    keys = list(pts)
    write_native_fragment(
        d,
        {"x": [k[0] for k in keys], "y": [k[1] for k in keys],
         "v": [pts[k] for k in keys]},
        ts=10,
    )
    expect = sorted((x, y, v) for (x, y), v in pts.items())
    _s, rows = read_native_array(d)
    assert rows == expect
    xlo, xw, ylo, yw = rng
    _n, got = range_rows(d, ranges=[(xlo, xlo + xw), (ylo, ylo + yw)])
    assert got == [r for r in expect
                   if xlo <= r[0] <= xlo + xw and ylo <= r[1] <= ylo + yw]
