"""Range-windowed aggregation from fragment metadata + per-tile stats.

The reference answers ungrouped COUNT/MIN/MAX/SUM from storage before the
executor runs (group_by_handler, mytile/ha_mytile.cc:607-715) — but only
for FULL-table aggregates.  TileDB core's own aggregate design goes one
step further: for a subarray query, tiles whose MBR is *fully contained*
in the requested ranges contribute their fragment-metadata tile stats
(tile_min/tile_max/tile_sum/tile_null_count) without being read, and only
the *boundary* tiles straddling a range edge are decoded.  This module is
that design on the repo's native decoder:

    SELECT COUNT(*), SUM(x), MIN(x), MAX(x) WHERE dim BETWEEN a AND b

costs O(footers + boundary tiles), not O(window cells).  At 100 TB with
10k-cell tiles a month-window SUM reads the fragment footers plus at most
two partial tiles per straddling fragment — the interior 99.9% of the
window never leaves object storage.  The windowed, bucketed (GROUP BY
floor(dim0/width)) and grid (GROUP BY floor(x/wx), floor(y/wy), ...)
sparse rollups are one core, :func:`_sparse_rollup`: a windowed
aggregate is the grid rollup over no gridded dims.

Soundness contract (sound-or-None, mirroring ``attr_stats_native_array``
and ``count_native_array``): a metadata-backed number is returned only
when the merged read view provably equals the per-fragment view — sparse
array, no visible delete conditions, pairwise-disjoint fragment NEDs
unless the array allows duplicates (engine-written fragments are
sorted-unique within themselves, the same trust ``count_native_array``
extends).  Anything the metadata cannot prove for a tile is answered by
decoding that tile exactly (via the O(span) columnar decoder
``_np_field``), never guessed; if the trust rules fail, the whole call
returns None and the caller falls back to a distributed scan.

Float SUM: stats-served tiles add their stored tile sums and decoded
cells add one at a time in cell order, per bucket — so a float64 SUM is
the sequential fold of tile sums and cells, and may differ from a flat
cell-order scan only by the reassociation inside each stats-served tile
(same as libtiledb).  Integer sums are exact (python arbitrary precision
once int64 could overflow).
"""

from __future__ import annotations

import functools
import operator
import os

from tiledb_mariadb_spark.sources.tiledb_native import (
    _NP_DT,
    _SUMMABLE_DT,
    _TEXT_CODEC,
    _delete_conditions,
    _fragment_dirs,
    _neds_pairwise_disjoint,
    _np_field,
    _np_obj_scalar,
    _schema_path,
    fragment_tile_stats,
    parse_array_schema,
    parse_fragment_footer,
    parse_rtree_leaf_mbrs,
)

_ALL_STATS = ("count", "null_count", "sum", "min", "max")


def _classify_tile(mbr, rngs):
    """'skip' | 'contained' | 'partial' for one leaf MBR against the
    per-dim (lo, hi) ranges (None bound = unconstrained).  A var dim's
    MBR is untrusted (None): it can neither prove disjointness nor
    containment, so any range on it forces 'partial'."""
    contained = True
    for dom, (lo, hi) in zip(mbr, rngs):
        if lo is None and hi is None:
            continue
        if dom is None:
            contained = False  # untrusted: must decode to know
            continue
        if (lo is not None and dom[1] < lo) or (hi is not None and dom[0] > hi):
            return "skip"
        if (lo is not None and dom[0] < lo) or (hi is not None and dom[1] > hi):
            contained = False
    return "contained" if contained else "partial"


def _fold_minmax(acc, lo, hi):
    if acc[0] is None or lo < acc[0]:
        acc[0] = lo
    if acc[1] is None or hi > acc[1]:
        acc[1] = hi


def _coalesce_runs(tiles, cap, n_cells):
    """Sorted (tile index, masked) pairs -> [lo_cell, hi_cell, masked]
    runs of consecutive tiles that share ``masked``."""
    runs = []
    for k, masked in tiles:
        lo_c, hi_c = k * cap, min((k + 1) * cap, n_cells)
        if runs and runs[-1][1] == lo_c and runs[-1][2] == masked:
            runs[-1][1] = hi_c
        else:
            runs.append([lo_c, hi_c, masked])
    return runs


def _summable(fld) -> bool:
    """SUM is reported only for single-value summable numeric fields
    (int/float families), exactly the dtypes fragment-metadata sums
    cover; an enumerated attr reads as labels and never sums."""
    return (
        fld.cell_val_num == 1
        and fld.dtype_id in _SUMMABLE_DT
        and not getattr(fld, "enumeration", None)
    )


def _facc_new():
    return {"count": 0, "null_count": 0, "sum": 0,
            "minmax": [None, None], "minmax_ok": True,
            "saw_nonnull": False}


def _fold_column(segs, col, fld, want_sum, want_mm):
    """Fold one decoded column (an ``_np_field`` column) into the
    accumulators of ``segs``: (acc, start, end) triples splitting the
    column into contiguous per-bucket segments, cell order kept within
    each.  The values equal a python loop over the cells: integer sums
    exact (python ints once int64 could overflow), float sums added one
    cell at a time in cell order (bit-identical), float extrema as
    python's ``<`` fold (a leading NaN sticks, later ones never win),
    python ordering for string/bytes/list extrema — a TypeError there
    yields min/max None.  Numeric columns fold in numpy (float sums
    aside); python loops over segments, not cells."""
    import numpy as np  # noqa: PLC0415

    summable = _summable(fld)
    if col.dtype == object:
        lst = col.tolist()
        if not summable:  # text, bytes, lists, labels: python ordering
            for acc, s, e in segs:
                nn = [v for v in lst[s:e] if v is not None]
                acc["null_count"] += e - s - len(nn)
                if not nn:
                    continue
                acc["count"] += len(nn)
                acc["saw_nonnull"] = True
                if want_mm and acc["minmax_ok"]:
                    try:
                        _fold_minmax(acc["minmax"], min(nn), max(nn))
                    except TypeError:
                        acc["minmax_ok"] = False
            return
        # nullable numeric: count the NULLs, fold the rest typed
        valid = np.fromiter((v is not None for v in lst), bool, len(lst))
        cut = np.concatenate(([0], np.cumsum(valid))).tolist()
        for acc, s, e in segs:
            acc["null_count"] += e - s - (cut[e] - cut[s])
        segs = [(acc, cut[s], cut[e]) for acc, s, e in segs]
        col = np.array([v for v in lst if v is not None], _NP_DT[fld.dtype_id])
    segs = [sg for sg in segs if sg[2] > sg[1]]
    if not segs:
        return
    for acc, s, e in segs:
        acc["count"] += e - s
        acc["saw_nonnull"] = True
    # live segments still tile the whole column, as reduceat requires
    starts = [s for _acc, s, _e in segs]
    is_float = col.dtype.kind == "f"
    if want_sum and summable:
        if is_float:
            vals = col.tolist()
            for acc, s, e in segs:
                acc["sum"] = functools.reduce(
                    operator.add, vals[s:e], acc["sum"]
                )
        elif max(-int(col.min()), int(col.max())) * len(col) < 2**63:
            sums = np.add.reduceat(col.astype(np.int64), starts).tolist()
            for (acc, _s, _e), v in zip(segs, sums):
                acc["sum"] += v
        else:
            vals = col.tolist()
            for acc, s, e in segs:
                acc["sum"] += sum(vals[s:e])
    if not want_mm:
        return
    lo_fn, hi_fn = (np.fmin, np.fmax) if is_float else (np.minimum, np.maximum)
    firsts = col[starts].tolist()
    los = lo_fn.reduceat(col, starts).tolist()
    his = hi_fn.reduceat(col, starts).tolist()
    for (acc, _s, _e), first, lo, hi in zip(segs, firsts, los, his):
        if acc["minmax_ok"]:
            # the first cell seeds an empty accumulator as python's fold
            # does; fmin/fmax then fold the rest ignoring NaN, as ``<``
            _fold_minmax(acc["minmax"], first, first)
            _fold_minmax(acc["minmax"], lo, hi)


def _sparse_rollup(array_dir, schema, gridded, ranges, fields, at, since,
                   stats):
    """The one sparse rollup core behind :func:`windowed_agg_native`,
    :func:`bucketed_agg_native` and :func:`grid_agg_native`: COUNT(*)
    and per-field (count, null_count, sum, min, max) per bucket over the
    cells inside ``ranges``.  A bucket key is the tuple of
    ``floor(coord / width)`` over ``gridded`` ((dim index, width) pairs
    in schema dim order); with no gridded dims every cell lands in the
    one bucket ``()``, which is always present.

    One footer walk: the trust rules, then per fragment each R-tree
    leaf MBR classifies its tile — outside the window (skipped), inside
    the window and one bucket (folded from tile stats, unread), or an
    edge tile straddling a window edge or a grid line (decoded through
    ``_np_field``, masked and bucketed in numpy).  Returns ``(buckets,
    audit)`` with ``buckets`` sorted by key, each ``{"count": n,
    "fields": {...}}``, or None when the trust rules fail."""
    import numpy as np  # noqa: PLC0415

    dim_names = [d.name for d in schema.dims]
    ranges = dict(ranges or {})
    for name in ranges:
        if name not in dim_names:
            raise ValueError(f"range on non-dimension {name!r}")
    rngs = [tuple(ranges.get(n, (None, None))) for n in dim_names]
    ranged = [(i, r) for i, r in enumerate(rngs) if r != (None, None)]
    by_name = {d.name: ("d", i, d) for i, d in enumerate(schema.dims)}
    by_name.update(
        {a.name: ("a", i, a) for i, a in enumerate(schema.attrs)}
    )
    if fields is None:
        fields = [a.name for a in schema.attrs]
    for f in fields:
        if f not in by_name:
            raise ValueError(f"unknown field {f!r}")

    frags = _fragment_dirs(array_dir, at=at, since=since)
    audit = {
        "fragments": len(frags), "fragments_skipped": 0,
        "tiles_total": 0, "tiles_contained": 0, "tiles_partial": 0,
        "tiles_skipped": 0, "cells_decoded": 0,
    }
    if frags and _delete_conditions(array_dir, at, frags):
        return None  # a .del could shadow cells the tile stats counted
    footers = []
    for frag in frags:
        fm = os.path.join(frag, "__fragment_metadata.tdb")
        ftr = parse_fragment_footer(fm, schema)
        if ftr is None or ftr.dense:
            return None
        footers.append(ftr)
    if len(frags) > 1 and not schema.allows_dups and not (
        _neds_pairwise_disjoint(footers)
    ):
        return None  # newest-wins overwrites: per-fragment stats lie

    want_mm = "min" in stats or "max" in stats
    want_sum = "sum" in stats
    counts = {} if gridded else {(): 0}
    accs: dict = {}

    def acc_of(b):
        a = accs.get(b)
        if a is None:
            a = accs[b] = {f: _facc_new() for f in fields}
        return a

    def decode(frag, lo_c, hi_c, masked, flds, bucket=None):
        """Exact fold of cells [lo_c, hi_c) of ``frag`` for ``flds``.
        ``masked``: the run straddles the window — the ranged dims
        decode and only in-window cells count.  ``bucket``: the run is
        proved inside that bucket and the window (no dim decodes; the
        caller counted its cells from tile capacities)."""
        cols: dict = {}  # dim index -> decoded dim column
        sel = None  # in-window cells of the (tightened) span
        if masked and ranged:
            inw = np.ones(hi_c - lo_c, dtype=bool)
            for i, (lo, hi) in ranged:
                col = cols[i] = _np_field(
                    frag, schema, schema.dims[i], i, "d", lo_c, hi_c
                )
                audit["cells_decoded"] += hi_c - lo_c
                if lo is not None:
                    inw &= np.asarray(col >= _np_obj_scalar(lo), dtype=bool)
                if hi is not None:
                    inw &= np.asarray(col <= _np_obj_scalar(hi), dtype=bool)
            hit = np.flatnonzero(inw)
            if not len(hit):
                return
            # tighten the rest of the decode to the matched sub-span: a
            # point query in a 10k-cell tile decodes ~1 attr cell, not
            # 10k (the ranged dims already paid the locate cost)
            first, last = int(hit[0]), int(hit[-1]) + 1
            cols = {i: c[first:last] for i, c in cols.items()}
            if len(hit) < last - first:
                sel = hit - first
            lo_c, hi_c = lo_c + first, lo_c + last

        def column(kind, idx, fld):
            col = cols.get(idx) if kind == "d" else None
            if col is None:
                col = _np_field(frag, schema, fld, idx, kind, lo_c, hi_c)
                audit["cells_decoded"] += hi_c - lo_c
                if kind == "d":
                    cols[idx] = col
            return col if sel is None else col[sel]

        order = None
        starts, keys = [0], [() if bucket is None else bucket]
        if bucket is None and gridded:
            comps = [column("d", i, schema.dims[i]) // w for i, w in gridded]
            # cells grouped by bucket, cell order kept within a bucket
            order = np.lexsort([np.arange(len(comps[0]))] + comps[::-1])
            comps = [c[order] for c in comps]
            brk = np.zeros(len(order), dtype=bool)
            brk[0] = True
            for c in comps:
                brk[1:] |= c[1:] != c[:-1]
            starts = np.flatnonzero(brk).tolist()
            keys = list(zip(*(c[starts].tolist() for c in comps)))
        ends = starts[1:] + [hi_c - lo_c if sel is None else len(sel)]
        if bucket is None:
            for b, s, e in zip(keys, starts, ends):
                counts[b] = counts.get(b, 0) + e - s
        for f in flds:
            kind, idx, fld = by_name[f]
            col = column(kind, idx, fld)
            if order is not None:
                col = col[order]
            _fold_column(
                [(acc_of(b)[f], s, e) for b, s, e in zip(keys, starts, ends)],
                col, fld, want_sum, want_mm,
            )

    for frag, ftr in zip(frags, footers):
        stn = ftr.sparse_tile_num
        if stn == 0:
            audit["fragments_skipped"] += 1
            continue
        cap, ltcn = schema.capacity, ftr.last_tile_cell_num
        n_cells = (stn - 1) * cap + ltcn
        audit["tiles_total"] += stn
        contained: dict = {}  # bucket -> [tile index]
        edge = []  # (tile index, straddles the window)
        mbrs = parse_rtree_leaf_mbrs(frag, schema)
        if mbrs is None or len(mbrs) != stn:
            # no classifiable R-tree (legacy fragment): decode it whole
            # with masking — exact, just not metadata-accelerated
            edge = [(k, True) for k in range(stn)]
        else:
            for k, mbr in enumerate(mbrs):
                cls = _classify_tile(mbr, rngs)
                if cls == "skip":
                    audit["tiles_skipped"] += 1
                elif cls == "partial":
                    edge.append((k, True))
                else:
                    b = tuple(mbr[i][0] // w for i, w in gridded)
                    if b == tuple(mbr[i][1] // w for i, w in gridded):
                        contained.setdefault(b, []).append(k)
                    else:  # straddles a grid line
                        edge.append((k, False))
        audit["tiles_partial"] += len(edge)
        for lo_c, hi_c, masked in _coalesce_runs(edge, cap, n_cells):
            decode(frag, lo_c, hi_c, masked, fields)
        if not contained:
            continue
        audit["tiles_contained"] += sum(map(len, contained.values()))

        def _cells_of(k, stn=stn, cap=cap, ltcn=ltcn):
            return cap if k < stn - 1 else ltcn

        served, need_decode = {}, []
        for f in fields:
            fld = by_name[f][2]
            ts = fragment_tile_stats(frag, schema, f)
            mins = maxs = sums = nulls = None
            if ts is not None and len(ts) == stn:
                if ts[0][0] is not None:
                    mins = [t[0] for t in ts]
                    maxs = [t[1] for t in ts]
                if ts[0][2] is not None:
                    sums = [t[2] for t in ts]
                if ts[0][3] is not None:
                    nulls = [t[3] for t in ts]
            # enum attrs: tile stats describe RAW ordinals, reads return
            # LABELS — ordinal order is not label order, so min/max/sum
            # must come from decode; counts are still ordinal-agnostic
            enum = getattr(fld, "enumeration", None)
            can_mm = mins is not None and not enum
            add_sum = want_sum and _summable(fld)
            if (
                (nulls is not None or not getattr(fld, "nullable", False))
                and (can_mm or not want_mm)
                and (sums is not None or not add_sum)
            ):
                served[f] = (mins, maxs, sums, nulls, can_mm, add_sum)
            else:
                need_decode.append(f)
        for b, tiles in contained.items():
            counts[b] = counts.get(b, 0) + sum(map(_cells_of, tiles))
            for f, (mins, maxs, sums, nulls, can_mm, add_sum) in (
                served.items()
            ):
                acc = acc_of(b)[f]
                for k in tiles:
                    nc = nulls[k] if nulls is not None else 0
                    nn = _cells_of(k) - nc
                    acc["null_count"] += nc
                    acc["count"] += nn
                    if nn == 0:
                        continue
                    acc["saw_nonnull"] = True
                    if add_sum:
                        acc["sum"] += sums[k]
                    if want_mm:
                        if can_mm:
                            _fold_minmax(acc["minmax"], mins[k], maxs[k])
                        else:  # string/var field, counts-only request
                            acc["minmax_ok"] = False
            if need_decode:
                for lo_c, hi_c, _m in _coalesce_runs(
                    [(k, False) for k in tiles], cap, n_cells
                ):
                    decode(frag, lo_c, hi_c, False, need_decode, bucket=b)

    flds = [by_name[f][2] for f in fields]
    buckets = {}
    for b in sorted(counts):
        facc = accs.get(b) or {f: _facc_new() for f in fields}
        buckets[b] = {
            "count": counts[b],
            "fields": _assemble_fields(flds, facc, stats),
        }
    return buckets, audit


def windowed_agg_native(
    array_dir: str,
    ranges: dict | None,
    fields: list | None = None,
    at: int | None = None,
    since: int | None = None,
    stats: tuple = _ALL_STATS,
) -> dict | None:
    """COUNT(*) plus per-field (count, null_count, sum, min, max) of the
    cells inside ``ranges`` (dict dim name -> inclusive (lo, hi); a
    missing dim or a None bound is unconstrained), answered from
    fragment metadata for interior tiles and exact decode for boundary
    tiles.  ``fields`` are attr/dim names (default: every attribute).
    ``stats`` restricts what must be computed — ``("count",
    "null_count")`` answers a windowed COUNT(col) from metadata alone
    even for string/enum/null-bearing fields whose min/max/sum would
    need a decode.  Stats not requested come back None.

    SUM is reported only for single-value summable numeric fields
    (int/float families), exactly the dtypes libtiledb's fragment
    metadata sums cover; string and enum-label MIN/MAX are served by
    boundary-exact decode (lexicographic, matching the read path).

    Returns None when the trust rules cannot prove the merged view
    (deletes, overlapping non-dup fragments, missing footer); a dense
    array is answered by :func:`dense_windowed_agg_native`.  The
    ``audit`` key reports tile classification and decoded-cell counts —
    the decode-poison tests pin interior tiles at zero reads.
    """
    schema = parse_array_schema(_schema_path(array_dir))
    if schema.array_type == "DENSE":
        # the dense twin — fragment stats + clipped-edge decode + fill
        # arithmetic (fills ARE part of the dense read view)
        return dense_windowed_agg_native(
            array_dir, ranges, fields=fields, at=at, since=since,
            stats=stats,
        )
    out = _sparse_rollup(array_dir, schema, [], ranges, fields, at, since,
                         stats)
    if out is None:
        return None
    buckets, audit = out
    return {**buckets[()], "audit": audit}


def grid_agg_native(
    array_dir: str,
    widths: dict,
    fields: list | None = None,
    at: int | None = None,
    since: int | None = None,
    stats: tuple = _ALL_STATS,
    ranges: dict | None = None,
) -> dict | None:
    """N-dimensional grid rollup from fragment metadata — the spatial
    datacube / heatmap shape:

        SELECT floor(x/wx), floor(y/wy), COUNT(*), SUM(v), ...
        GROUP BY 1, 2

    ``widths`` maps dimension names to positive int cell widths; every
    named dim contributes one component of the tuple bucket key (in
    schema dim order), a 1-D grid included.  A tile whose MBR lies
    inside ONE grid cell on every gridded dim contributes its tile stats
    unread; tiles straddling any grid line decode per-cell.  ``ranges``
    optionally windows the cube exactly as in
    :func:`windowed_agg_native`.  A string dimension has no bucket
    arithmetic: gridding one raises ValueError.

    With data ingested in space-tile or Hilbert order (the clustered
    2-D layout the writer supports), tile MBRs are small boxes, so a
    coarse grid serves almost entirely from stats — a 100 TB heatmap
    refresh is a footer walk.  Same sound-or-None trust rules as the
    windowed aggregate.  Returns ``{"buckets": {(bx, by, ...): {"count":
    n, "fields": {...}}}, "audit": {...}}`` or None.
    """
    schema = parse_array_schema(_schema_path(array_dir))
    if schema.array_type == "DENSE":
        # the dense twin (fills included, every cell present)
        return dense_grid_agg_native(
            array_dir, widths, fields=fields, at=at, since=since,
            stats=stats, ranges=ranges,
        )
    dim_names = [d.name for d in schema.dims]
    if not widths:
        raise ValueError("widths must name at least one dimension")
    for name, w in widths.items():
        if name not in dim_names:
            raise ValueError(f"width on non-dimension {name!r}")
        if not isinstance(w, int) or w <= 0:
            raise ValueError(f"width must be a positive int, got {w!r}")
    gridded = [
        (i, widths[d.name]) for i, d in enumerate(schema.dims)
        if d.name in widths
    ]
    for i, _w in gridded:
        d = schema.dims[i]
        if d.is_var or d.dtype_id in _TEXT_CODEC:
            raise ValueError(f"cannot bucket string dimension {d.name!r}")
    out = _sparse_rollup(array_dir, schema, gridded, ranges, fields, at,
                         since, stats)
    if out is None:
        return None
    buckets, audit = out
    return {"buckets": buckets, "audit": audit}


def _dim0_rollup(grid_fn, array_dir, width, **kw):
    """``grid_fn`` over dim0 alone, with its 1-tuple keys unwrapped."""
    dim0 = parse_array_schema(_schema_path(array_dir)).dims[0].name
    res = grid_fn(array_dir, {dim0: width}, **kw)
    if res is not None:
        res["buckets"] = {b[0]: v for b, v in res["buckets"].items()}
    return res


def bucketed_agg_native(
    array_dir: str,
    width: int,
    fields: list | None = None,
    at: int | None = None,
    since: int | None = None,
    stats: tuple = _ALL_STATS,
    ranges: dict | None = None,
) -> dict | None:
    """GROUP BY ``floor(dim0 / width)`` rollup from fragment metadata —
    the grouped twin of :func:`windowed_agg_native` (the hypertable
    continuous-aggregate shape):

        SELECT floor(k/width), COUNT(*), SUM(x), MIN(x), MAX(x)
        GROUP BY 1

    answered in ONE footer walk: a tile whose dim0 MBR lies inside a
    single bucket contributes its tile stats to that bucket WITHOUT
    being read; only tiles straddling a bucket edge decode (per-cell
    bucket assignment).  With tile extent aligned to the bucket grid —
    the natural time-partitioned ingest — straddlers are ~one per
    fragment per bucket boundary, so a 100 TB daily-rollup refresh
    costs footers + edge tiles, not the corpus.  It is
    :func:`grid_agg_native` on dim0 with scalar bucket keys.

    Bucket ids use floor division (``v // width``), matching SQL
    FLOOR(v / width) for positive ``width`` on any-sign coordinates.
    Buckets with no cells are absent (sparse GROUP BY semantics).  A
    string dim0 has no bucket arithmetic and raises ValueError.

    ``ranges`` (optional, dict dim name -> inclusive (lo, hi)) windows
    the rollup exactly as in ``windowed_agg_native``: only cells inside
    the window count, tiles outside it are skipped from metadata, and
    tiles straddling a window edge decode with per-cell masking — the
    dashboard shape "GROUP BY bucket WHERE dim BETWEEN a AND b".

    Returns ``{"buckets": {bucket_id: {"count": n, "fields": {f:
    {count, null_count, sum, min, max}}}}, "audit": {...}}`` or None.
    """
    return _dim0_rollup(
        grid_agg_native, array_dir, width, fields=fields, at=at,
        since=since, stats=stats, ranges=ranges,
    )


# ---------------------------------------------------------------------------
# DENSE metadata aggregation (round 8).
#
# Dense reads materialize the union BOUNDING BOX of the written
# subarrays; cells no fragment covered read as the attribute FILL value
# (nullable -> NULL) — so a windowed aggregate decomposes exactly into
#   (a) fragments wholly inside the window: fragment-level attr stats,
#       zero decode (the stats describe every written cell);
#   (b) fragments straddling a window edge: decode only the clipped
#       box (O(edge), the dense twin of boundary-tile decode);
#   (c) the fill region: pure arithmetic — volume x fill value;
#   (d) dimensions: closed form (each coordinate of the window repeats
#       volume/len times — the reference allows SUM on dims only when
#       dense, ha_mytile.cc:592-601, for exactly this reason).
# COUNT(*) is always the window-box volume (the same rule
# count_native_array proves for the full array).  Sound-or-None:
# overlapping dense boxes (newest-wins patches) or unparseable footers
# refuse, and the caller falls back to the distributed scan.
# ---------------------------------------------------------------------------


def _box_intersect(a, b):
    out = []
    for (alo, ahi), (blo, bhi) in zip(a, b):
        lo, hi = max(alo, blo), min(ahi, bhi)
        if lo > hi:
            return None
        out.append((lo, hi))
    return out


def _box_vol(box) -> int:
    v = 1
    for lo, hi in box:
        v *= hi - lo + 1
    return v


def _dense_context(array_dir, schema, at, since):
    """(frags, boxes, overlap) of the visible dense fragments, or None
    when the footers themselves are unreadable.  ``overlap`` is True
    when written boxes intersect (newest-wins patches shadow cells the
    older fragment's stats counted) — such histories evaluate through
    :func:`_dense_eval_overlap`, which decodes only the shadow-clipped
    sub-boxes instead of refusing to the full scan (r8 verdict #5)."""
    frags = _fragment_dirs(array_dir, at=at, since=since)
    boxes = []
    for frag in frags:
        fm = os.path.join(frag, "__fragment_metadata.tdb")
        ftr = parse_fragment_footer(fm, schema)
        if ftr is None or not ftr.dense:
            return None
        box = []
        for d, ned in zip(schema.dims, ftr.non_empty_domain):
            if ned is None:
                return None
            box.append((int(ned[0]), int(ned[1])))
        boxes.append(box)
    overlap = any(
        _box_intersect(boxes[i], boxes[j]) is not None
        for i in range(len(boxes))
        for j in range(i + 1, len(boxes))
    )
    return frags, boxes, overlap


def _box_subtract(box, minus):
    """``box`` minus ``minus`` as a list of DISJOINT boxes (classic N-d
    guillotine split: slice off the portions outside ``minus`` one axis
    at a time; what remains after all axes is inside ``minus``)."""
    inter = _box_intersect(box, minus)
    if inter is None:
        return [list(box)]
    out = []
    cur = list(box)
    for i, ((lo, hi), (mlo, mhi)) in enumerate(zip(box, inter)):
        if lo < mlo:
            piece = list(cur)
            piece[i] = (lo, mlo - 1)
            out.append(piece)
        if mhi < hi:
            piece = list(cur)
            piece[i] = (mhi + 1, hi)
            out.append(piece)
        cur[i] = (mlo, mhi)
    return out


def _boxes_subtract(pieces, minus_list):
    """Subtract every box in ``minus_list`` from the disjoint box set
    ``pieces``; result stays disjoint."""
    for m in minus_list:
        nxt = []
        for p in pieces:
            nxt.extend(_box_subtract(p, m))
        pieces = nxt
        if not pieces:
            break
    return pieces


def _stats_accessors(schema, cache):
    """(fstats, tstats) accessors over fragment footer stats, memoized
    in ``cache`` when the caller loops buckets over one fragment set."""
    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        fragment_attr_stats,
        fragment_tile_stats,
    )

    def fstats(frag):
        if cache is None:
            return fragment_attr_stats(frag, schema) or {}
        m = cache.setdefault("attr", {})
        if frag not in m:
            m[frag] = fragment_attr_stats(frag, schema) or {}
        return m[frag]

    def tstats(frag, f):
        if cache is None:
            return fragment_tile_stats(frag, schema, f)
        m = cache.setdefault("tile", {})
        k = (frag, f)
        if k not in m:
            m[k] = fragment_tile_stats(frag, schema, f)
        return m[k]

    return fstats, tstats


def _dense_fold_fragment(array_dir, schema, frag, box, R, attr_fields,
                         by_name, facc, stats, want_mm, want_sum, at,
                         audit, fstats, tstats):
    """One fragment's contribution to the window box ``R`` — the
    stats / interior-tile-stats / edge-sliver-decode ladder shared by
    the disjoint and newest-wins dense evaluators.  Returns the
    covered cell volume (0 when the fragment misses the window).

    SOUNDNESS PRECONDITION: every cell of ``box`` ∩ ``R`` must be
    OWNED by this fragment (no newer fragment shadows it) — the
    disjoint evaluator guarantees it globally, the overlap evaluator
    routes only unshadowed window intersections here."""
    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        read_native_array_range_np,
    )

    inter = _box_intersect(box, R)
    if inter is None:
        return 0
    v_i = _box_vol(inter)
    need_decode = []
    # fragment-level stats describe the TILE-ALIGNED stored expanse:
    # an unaligned box pads its edge tiles with fill cells that
    # poison min/null_count (probe-verified) — only aligned boxes
    # may use the whole-fragment stats; unaligned ones go through
    # the tile-stats/sliver branch (interior-of-box tiles are clean)
    aligned = all(
        isinstance(d.extent, int) and d.extent > 0
        and (blo - int(d.domain[0])) % d.extent == 0
        and (bhi - int(d.domain[0]) + 1) % d.extent == 0
        for d, (blo, bhi) in zip(schema.dims, box)
    )
    if inter == box and aligned:
        st = fstats(frag)
        audit["fragments_stats"] += 1
        for f in attr_fields:
            fld = by_name[f][2]
            s = st.get(f) or {}
            nullable = bool(getattr(fld, "nullable", False))
            enum = getattr(fld, "enumeration", None)
            summable = _summable(fld)
            nc = 0 if not nullable else s.get("null_count")
            has_mm = "min" in s and "max" in s and not enum
            has_sum = "sum" in s and not enum
            ok = (
                nc is not None
                and (has_mm or not want_mm)
                and (has_sum or not want_sum or not summable)
            )
            if not ok:
                need_decode.append(f)
                continue
            acc = facc[f]
            acc["null_count"] += nc
            nn = v_i - nc
            acc["count"] += nn
            if nn == 0:
                continue
            acc["saw_nonnull"] = True
            if want_sum and summable:
                acc["sum"] += s["sum"]
            if want_mm:
                try:
                    _fold_minmax(acc["minmax"], s["min"], s["max"])
                except TypeError:
                    acc["minmax_ok"] = False
    else:
        need_decode = list(attr_fields)
        audit["fragments_decoded"] += 1
    # plan: field -> list of inclusive 1-D intervals to decode (the
    # whole clipped box by default; tile-stat-served fields shrink
    # theirs to the edge slivers)
    plans = {f: [inter] for f in need_decode}
    if (
        need_decode
        and len(schema.dims) == 1
        and isinstance(schema.dims[0].extent, int)
        and schema.dims[0].extent > 0
    ):
        # 1-D dense tiles align to the DOMAIN grid; tiles fully
        # inside the written box carry CLEAN per-tile stats (edge
        # tiles include fill padding — probe-verified — so only
        # interior-of-box AND interior-of-window tiles contribute)
        d0 = schema.dims[0]
        ext = d0.extent
        dom_lo = int(d0.domain[0])
        lo0, hi0 = box[0]
        ilo, ihi = inter[0]
        t0 = (lo0 - dom_lo) // ext
        t_last_frag = (hi0 - dom_lo) // ext
        n_tiles = t_last_frag - t0 + 1
        usable = []
        for tg in range((ilo - dom_lo) // ext, (ihi - dom_lo) // ext + 1):
            tlo = dom_lo + tg * ext
            thi = tlo + ext - 1
            if lo0 <= tlo and thi <= hi0 and ilo <= tlo and thi <= ihi:
                usable.append((tlo, thi, tg - t0))
        if usable:
            run_lo = usable[0][0]
            run_hi = usable[-1][1]
            edges = []
            if ilo < run_lo:
                edges.append([(ilo, run_lo - 1)])
            if run_hi < ihi:
                edges.append([(run_hi + 1, ihi)])
            for f in list(need_decode):
                fld = by_name[f][2]
                nullable = bool(getattr(fld, "nullable", False))
                if getattr(fld, "enumeration", None):
                    continue  # ordinal stats vs label reads: decode
                summable = (
                    fld.cell_val_num == 1
                    and fld.dtype_id in _SUMMABLE_DT
                )
                ts = tstats(frag, f)
                if ts is None or len(ts) != n_tiles:
                    continue
                has_mm = all(ts[r][0] is not None and ts[r][1] is not None
                             for _lo, _hi, r in usable)
                has_sum = all(ts[r][2] is not None
                              for _lo, _hi, r in usable)
                has_null = (not nullable) or all(
                    ts[r][3] is not None for _lo, _hi, r in usable
                )
                if not (
                    has_null
                    and (has_mm or not want_mm)
                    and (has_sum or not want_sum or not summable)
                ):
                    continue
                acc = facc[f]
                for _tlo, _thi, r in usable:
                    nc = ts[r][3] if nullable else 0
                    nn = ext - nc
                    acc["null_count"] += nc
                    acc["count"] += nn
                    if nn == 0:
                        continue
                    acc["saw_nonnull"] = True
                    if want_sum and summable:
                        acc["sum"] += ts[r][2]
                    if want_mm:
                        try:
                            _fold_minmax(acc["minmax"], ts[r][0],
                                         ts[r][1])
                        except TypeError:
                            acc["minmax_ok"] = False
                audit["tiles_stats"] = (
                    audit.get("tiles_stats", 0) + len(usable)
                )
                plans[f] = edges  # only the edge slivers decode
    # group fields by identical decode plans -> one read per plan
    by_plan: dict = {}
    for f, pl in plans.items():
        by_plan.setdefault(
            tuple(tuple(tuple(r) for r in iv) for iv in pl), []
        ).append(f)
    for plan_key, flds in by_plan.items():
        for iv in plan_key:
            names, cols = read_native_array_range_np(
                array_dir, ranges=[tuple(r) for r in iv],
                columns=list(flds), at=at, frags=[frag],
            )
            audit["cells_decoded"] += len(cols[names[0]]) * len(flds)
            for f in flds:
                _fold_column([(facc[f], 0, len(cols[f]))], cols[f],
                             by_name[f][2], want_sum, want_mm)
    return v_i


def _dense_eval(array_dir, schema, frags, boxes, R, fields, stats, at,
                audit, cache=None):
    """Accumulate the window box ``R``: returns (cell_count, facc).

    ``cache`` (optional dict) memoizes per-fragment footer parses
    (fragment_attr_stats / fragment_tile_stats) across calls — the
    bucketed/grid rollups call this once per bucket over the SAME
    fragment set, and without it the "metadata fast path" re-parses
    every footer O(buckets x fragments) times (r8 ADVICE)."""
    fstats, tstats = _stats_accessors(schema, cache)

    by_name = {d.name: ("d", i, d) for i, d in enumerate(schema.dims)}
    by_name.update(
        {a.name: ("a", i, a) for i, a in enumerate(schema.attrs)}
    )
    want_mm = "min" in stats or "max" in stats
    want_sum = "sum" in stats
    vol = _box_vol(R)
    facc = {f: _facc_new() for f in fields}
    attr_fields = [f for f in fields if by_name[f][0] == "a"]
    covered = 0
    for frag, box in zip(frags, boxes):
        covered += _dense_fold_fragment(
            array_dir, schema, frag, box, R, attr_fields, by_name,
            facc, stats, want_mm, want_sum, at, audit, fstats, tstats,
        )
    _dense_fold_tail(
        schema, by_name, attr_fields, fields, facc, vol, covered, R,
        want_sum, want_mm, audit,
    )
    return vol, facc


def _dense_fold_tail(schema, by_name, attr_fields, fields, facc, vol,
                     covered, R, want_sum, want_mm, audit):
    """Shared tail of the dense evaluators: fold the window's FILL
    cells (never-written gaps) into every attr accumulator, then the
    closed-form dimension stats over the window box."""
    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        _enum_fill_label,
        _fill_value,
    )

    fill_n = vol - covered
    audit["fill_cells"] += fill_n
    if fill_n:
        for f in attr_fields:
            fld = by_name[f][2]
            enum = getattr(fld, "enumeration", None)
            fill = (
                _enum_fill_label(schema, fld) if enum
                else _fill_value(fld)
            )
            summable = _summable(fld)
            acc = facc[f]
            if fill is None:
                acc["null_count"] += fill_n
                continue
            acc["count"] += fill_n
            acc["saw_nonnull"] = True
            if want_sum and summable:
                acc["sum"] += fill * fill_n
            if want_mm and acc["minmax_ok"]:
                try:
                    _fold_minmax(acc["minmax"], fill, fill)
                except TypeError:
                    acc["minmax_ok"] = False
    # dimensions: closed form over the window box
    for f in fields:
        kind, j, d = by_name[f]
        if kind != "d":
            continue
        lo, hi = R[j]
        n = hi - lo + 1
        per = vol // n  # occurrences of each coordinate value
        acc = facc[f]
        acc["count"] = vol
        acc["null_count"] = 0
        acc["saw_nonnull"] = vol > 0
        if d.dtype_id in _SUMMABLE_DT:
            acc["sum"] = (lo + hi) * n // 2 * per
        acc["minmax"] = [lo, hi]


def _dense_eval_overlap(array_dir, schema, frags, boxes, R, fields,
                        stats, at, audit, cache=None):
    """Newest-wins evaluation for OVERLAPPING dense patch histories
    (r8 verdict #5).  The window decomposes into DISJOINT per-fragment
    effective regions — each fragment's window intersection minus
    every newer fragment's box — so no cell is counted twice and every
    cell reads from the fragment that owns it.  Each effective
    sub-box then runs the SAME stats / interior-tile-stats /
    edge-sliver ladder as the disjoint path (:func:`_dense_fold_fragment`
    is sound per sub-box because ownership is established here), so
    per-cell decode happens only on sliver edges of the shadow
    geometry — never the full-history scan this shape previously
    refused into."""
    fstats, tstats = _stats_accessors(schema, cache)
    by_name = {d.name: ("d", i, d) for i, d in enumerate(schema.dims)}
    by_name.update(
        {a.name: ("a", i, a) for i, a in enumerate(schema.attrs)}
    )
    want_mm = "min" in stats or "max" in stats
    want_sum = "sum" in stats
    vol = _box_vol(R)
    facc = {f: _facc_new() for f in fields}
    attr_fields = [f for f in fields if by_name[f][0] == "a"]
    covered = 0
    claimed: list = []  # boxes owned by NEWER fragments
    for frag, box in reversed(list(zip(frags, boxes))):
        inter = _box_intersect(box, R)
        if inter is None:
            claimed.append(box)
            continue
        eff = _boxes_subtract([inter], claimed)
        claimed.append(box)
        for sub in eff:
            covered += _dense_fold_fragment(
                array_dir, schema, frag, box, sub, attr_fields,
                by_name, facc, stats, want_mm, want_sum, at, audit,
                fstats, tstats,
            )
    _dense_fold_tail(
        schema, by_name, attr_fields, fields, facc, vol, covered, R,
        want_sum, want_mm, audit,
    )
    return vol, facc


def _field_objs(schema, fields):
    """The dim/attr objects named by ``fields``, in order."""
    by_name = {d.name: d for d in schema.dims}
    by_name.update({a.name: a for a in schema.attrs})
    return [by_name[f] for f in fields]


def _assemble_fields(flds, facc, stats):
    """The per-field result dicts of a rollup bucket over the field
    objects ``flds``: each requested stat from its accumulator, None
    where not requested or undefined (null_count on a non-nullable
    field, SUM on a non-summable one or over no values, MIN/MAX after
    an uncomparable fold)."""
    want_sum = "sum" in stats
    out = {}
    for fld in flds:
        f = fld.name
        nullable = bool(getattr(fld, "nullable", False))
        summable = _summable(fld)
        acc = facc[f]
        out[f] = {
            "count": acc["count"] if "count" in stats else None,
            "null_count": (
                acc["null_count"] if nullable and "null_count" in stats
                else None
            ),
            "sum": (
                acc["sum"]
                if want_sum and summable and acc["saw_nonnull"]
                else None
            ),
            "min": (
                acc["minmax"][0]
                if "min" in stats and acc["minmax_ok"] else None
            ),
            "max": (
                acc["minmax"][1]
                if "max" in stats and acc["minmax_ok"] else None
            ),
        }
    return out


def _dense_prep(array_dir, ranges, fields, at, since):
    """Shared validation + context: (schema, fields, frags, boxes, R,
    overlap) where R is the window clipped to the read-presence bbox
    (None = empty window) and ``overlap`` selects the newest-wins
    evaluator; raises on bad names, returns None when the footers are
    unreadable."""
    schema = parse_array_schema(_schema_path(array_dir))
    dim_names = [d.name for d in schema.dims]
    ranges = dict(ranges or {})
    for name in ranges:
        if name not in dim_names:
            raise ValueError(f"range on non-dimension {name!r}")
    known = set(dim_names) | {a.name for a in schema.attrs}
    if fields is None:
        fields = [a.name for a in schema.attrs]
    for f in fields:
        if f not in known:
            raise ValueError(f"unknown field {f!r}")
    ctx = _dense_context(array_dir, schema, at, since)
    if ctx is None:
        return None
    frags, boxes, overlap = ctx
    if not frags:
        return schema, fields, frags, boxes, None, overlap
    bbox = [
        (min(b[i][0] for b in boxes), max(b[i][1] for b in boxes))
        for i in range(len(dim_names))
    ]
    user = [tuple(ranges.get(n, (None, None))) for n in dim_names]
    R = []
    for (blo, bhi), (ulo, uhi) in zip(bbox, user):
        lo = blo if ulo is None else max(blo, ulo)
        hi = bhi if uhi is None else min(bhi, uhi)
        if lo > hi:
            return schema, fields, frags, boxes, None, overlap
        R.append((lo, hi))
    return schema, fields, frags, boxes, R, overlap


def _dense_audit():
    return {"fragments": 0, "fragments_stats": 0, "fragments_decoded": 0,
            "cells_decoded": 0, "fill_cells": 0}


def dense_windowed_agg_native(
    array_dir: str,
    ranges: dict | None,
    fields: list | None = None,
    at: int | None = None,
    since: int | None = None,
    stats: tuple = _ALL_STATS,
) -> dict | None:
    """Dense twin of :func:`windowed_agg_native` (see the section
    comment above).  Returns the same shape, or None when the fragment
    footers are unreadable.  Overlapping patch histories evaluate
    newest-wins via :func:`_dense_eval_overlap` (r8 verdict #5)."""
    prep = _dense_prep(array_dir, ranges, fields, at, since)
    if prep is None:
        return None
    schema, fields, frags, boxes, R, overlap = prep
    audit = _dense_audit()
    audit["fragments"] = len(frags)
    if R is None:
        vol, facc = 0, {f: _facc_new() for f in fields}
    else:
        ev = _dense_eval_overlap if overlap else _dense_eval
        vol, facc = ev(
            array_dir, schema, frags, boxes, R, fields, stats, at, audit
        )
    return {"count": vol,
            "fields": _assemble_fields(
                _field_objs(schema, fields), facc, stats
            ),
            "audit": audit}


_DENSE_MAX_BUCKETS = 200_000


def dense_bucketed_agg_native(
    array_dir: str,
    width: int,
    fields: list | None = None,
    at: int | None = None,
    since: int | None = None,
    stats: tuple = _ALL_STATS,
    ranges: dict | None = None,
) -> dict | None:
    """Dense twin of :func:`bucketed_agg_native`: GROUP BY
    ``floor(dim0/width)`` over the materialized (fill-included) dense
    view — :func:`dense_grid_agg_native` on dim0 with scalar bucket
    keys.  Every bucket slice intersecting the window is present (dense
    reads materialize every cell).  Fragment-per-bucket ingest — the
    time-partitioned raster shape — answers wholly from fragment stats
    + fill arithmetic; straddling fragments decode only their clipped
    boxes."""
    return _dim0_rollup(
        dense_grid_agg_native, array_dir, width, fields=fields, at=at,
        since=since, stats=stats, ranges=ranges,
    )


def dense_grid_agg_native(
    array_dir: str,
    widths: dict,
    fields: list | None = None,
    at: int | None = None,
    since: int | None = None,
    stats: tuple = _ALL_STATS,
    ranges: dict | None = None,
) -> dict | None:
    """Dense twin of :func:`grid_agg_native`: the raster-heatmap shape
    (downsample a dense image/grid by (wx, wy, ...) cells) over the
    materialized fill-included view.  Every grid cell intersecting the
    window is present; whole-box-aligned fragments contribute stats,
    clipped slices decode (1-D sliver acceleration applies per slice),
    gaps are fill arithmetic.  Bucket keys are tuples of
    ``floor(coord/width)`` over the GRIDDED dims (schema dim order), a
    1-D grid included."""
    # validate BEFORE _dense_prep so bad input raises even when the
    # dense context is unprovable (same raise-on-bad-input contract as
    # the sparse path, which validates before any metadata work)
    if not widths:
        raise ValueError("widths must name at least one dimension")
    for name, w in widths.items():
        if not isinstance(w, int) or w <= 0:
            raise ValueError(f"width must be a positive int, got {w!r}")
    pre_dims = [d.name for d in parse_array_schema(_schema_path(array_dir)).dims]
    for name in widths:
        if name not in pre_dims:
            raise ValueError(f"width on non-dimension {name!r}")
    prep = _dense_prep(array_dir, ranges, fields, at, since)
    if prep is None:
        return None
    schema, fields, frags, boxes, R, overlap = prep
    gridded = [
        (i, widths[d.name]) for i, d in enumerate(schema.dims)
        if d.name in widths
    ]
    audit = _dense_audit()
    audit["fragments"] = len(frags)
    if R is None:
        return {"buckets": {}, "audit": audit}
    axes = []
    n_cells = 1
    for i, w in gridded:
        b0, b1 = R[i][0] // w, R[i][1] // w
        axes.append(range(b0, b1 + 1))
        n_cells *= b1 - b0 + 1
    if n_cells > _DENSE_MAX_BUCKETS:
        return None  # absurd materialization; let the caller scan
    import itertools  # noqa: PLC0415

    flds = _field_objs(schema, fields)
    buckets = {}
    cache: dict = {}  # footer parses once per fragment, not per grid cell
    ev = _dense_eval_overlap if overlap else _dense_eval
    for combo in itertools.product(*axes):
        slice_r = list(R)
        for (i, w), b in zip(gridded, combo):
            slice_r[i] = (max(R[i][0], b * w), min(R[i][1], (b + 1) * w - 1))
        vol, facc = ev(
            array_dir, schema, frags, boxes, slice_r, fields, stats, at,
            audit, cache=cache,
        )
        buckets[tuple(combo)] = {
            "count": vol,
            "fields": _assemble_fields(flds, facc, stats),
        }
    return {"buckets": buckets, "audit": audit}
