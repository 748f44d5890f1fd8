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
window never leaves object storage.

Soundness contract (sound-or-None, mirroring ``attr_stats_native_array``
and ``count_native_array``): a metadata-backed number is returned only
when the merged read view provably equals the per-fragment view — sparse
array, no visible delete conditions, pairwise-disjoint fragment NEDs
unless the array allows duplicates (engine-written fragments are
sorted-unique within themselves, the same trust ``count_native_array``
extends).  Anything the metadata cannot prove for a tile is answered by
decoding that tile exactly (via the O(span) chunk reader), never guessed;
if the trust rules fail, the whole call returns None and the caller falls
back to a distributed scan.

Float SUM caveat (inherent to the design, same as libtiledb): tile sums
are accumulated per tile then folded across tiles, so a float64 SUM may
differ from a flat cell-order scan by reassociation.  Integer sums are
exact (python arbitrary precision in the fold).
"""

from __future__ import annotations

import os

from tiledb_mariadb_spark.sources.tiledb_native import (
    _SUMMABLE_DT,
    _delete_conditions,
    _fragment_dirs,
    _neds_pairwise_disjoint,
    _read_field_span,
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
    """Sorted tile indexes -> contiguous [lo_cell, hi_cell) runs."""
    runs = []
    for k in tiles:
        lo_c, hi_c = k * cap, min((k + 1) * cap, n_cells)
        if runs and runs[-1][1] == lo_c:
            runs[-1][1] = hi_c
        else:
            runs.append([lo_c, hi_c])
    return runs


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
    (deletes, dense, overlapping non-dup fragments, missing footer).
    The ``audit`` key reports tile classification and decoded-cell
    counts — the decode-poison tests pin interior tiles at zero reads.
    """
    schema = parse_array_schema(_schema_path(array_dir))
    if schema.array_type == "DENSE":
        # round 8: the dense twin — fragment stats + clipped-edge decode
        # + fill arithmetic (fills ARE part of the dense read view)
        return dense_windowed_agg_native(
            array_dir, ranges, fields=fields, at=at, since=since,
            stats=stats,
        )
    dim_names = [d.name for d in schema.dims]
    ranges = dict(ranges or {})
    for name in ranges:
        if name not in dim_names:
            raise ValueError(f"range on non-dimension {name!r}")
    rngs = [tuple(ranges.get(n, (None, None))) for n in dim_names]

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

    total = 0
    facc = {
        f: {"count": 0, "null_count": 0, "sum": 0,
            "minmax": [None, None], "minmax_ok": True,
            "saw_nonnull": False}
        for f in fields
    }

    def _decode_runs(frag, runs, n_cells, flds, masked, count_cells):
        """Exact aggregation of the cells in ``runs`` for ``flds``.
        ``masked`` evaluates the dim ranges per cell (boundary tiles);
        unmasked runs already proved containment.  ``count_cells`` adds
        the in-window cells to the grand COUNT(*) (False when the
        containment pass counted them from tile capacities)."""
        nonlocal total
        ranged = [
            (i, d, rngs[i]) for i, d in enumerate(schema.dims)
            if rngs[i] != (None, None)
        ]
        summable = {
            f: by_name[f][2].cell_val_num == 1
            and by_name[f][2].dtype_id in _SUMMABLE_DT
            and not getattr(by_name[f][2], "enumeration", None)
            for f in flds
        }
        for lo_c, hi_c in runs:
            mask = None
            if masked and ranged:
                for i, d, (lo, hi) in ranged:
                    vals = _read_field_span(
                        frag, schema, d, i, "d", lo_c, hi_c, n_cells
                    )
                    m = [
                        (lo is None or v >= lo) and (hi is None or v <= hi)
                        for v in vals
                    ]
                    mask = m if mask is None else [
                        a and b for a, b in zip(mask, m)
                    ]
                audit["cells_decoded"] += (hi_c - lo_c) * len(ranged)
            n_in = (hi_c - lo_c) if mask is None else sum(mask)
            if count_cells:
                total += n_in
            if n_in == 0:
                continue
            if mask is not None:
                # tighten the attr decode to the matched sub-span: a
                # point query in a 10k-cell tile decodes ~1 attr cell,
                # not 10k (the dim columns already paid the locate cost)
                first = mask.index(True)
                last = len(mask) - 1 - mask[::-1].index(True)
                mask = mask[first : last + 1]
                lo_c, hi_c = lo_c + first, lo_c + last + 1
                if all(mask):
                    mask = None
            for f in flds:
                kind, idx, fld = by_name[f]
                vals = _read_field_span(
                    frag, schema, fld, idx, kind, lo_c, hi_c, n_cells
                )
                audit["cells_decoded"] += hi_c - lo_c
                acc = facc[f]
                can_sum = summable[f]
                for j, v in enumerate(vals):
                    if mask is not None and not mask[j]:
                        continue
                    if v is None:
                        acc["null_count"] += 1
                        continue
                    acc["count"] += 1
                    acc["saw_nonnull"] = True
                    if can_sum:
                        acc["sum"] += v
                    if acc["minmax_ok"]:
                        try:
                            _fold_minmax(acc["minmax"], v, v)
                        except TypeError:
                            acc["minmax_ok"] = False

    want_mm = "min" in stats or "max" in stats
    want_sum = "sum" in stats

    for frag, ftr in zip(frags, footers):
        stn = ftr.sparse_tile_num
        if stn == 0:
            audit["fragments_skipped"] += 1
            continue
        cap = schema.capacity
        n_cells = (stn - 1) * cap + ftr.last_tile_cell_num
        mbrs = parse_rtree_leaf_mbrs(frag, schema)
        if mbrs is None or len(mbrs) != stn:
            # no classifiable R-tree (legacy fragment): decode it whole
            # with masking — exact, just not metadata-accelerated
            audit["tiles_total"] += stn
            audit["tiles_partial"] += stn
            _decode_runs(
                frag, [[0, n_cells]], n_cells, fields,
                masked=True, count_cells=True,
            )
            continue
        contained, partial = [], []
        audit["tiles_total"] += stn
        for k, mbr in enumerate(mbrs):
            cls = _classify_tile(mbr, rngs)
            if cls == "skip":
                audit["tiles_skipped"] += 1
            elif cls == "contained":
                contained.append(k)
            else:
                partial.append(k)
        audit["tiles_partial"] += len(partial)
        if partial:
            _decode_runs(
                frag, _coalesce_runs(partial, cap, n_cells),
                n_cells, fields, masked=True, count_cells=True,
            )
        if not contained:
            continue
        audit["tiles_contained"] += len(contained)

        def _cells_of(k, stn=stn, cap=cap, ltcn=ftr.last_tile_cell_num):
            return cap if k < stn - 1 else ltcn

        total += sum(_cells_of(k) for k in contained)
        need_decode = []
        for f in fields:
            kind, idx, fld = by_name[f]
            nullable = bool(getattr(fld, "nullable", False))
            summable = (
                fld.cell_val_num == 1
                and fld.dtype_id in _SUMMABLE_DT
                and not getattr(fld, "enumeration", None)
            )
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
            can_count = (nulls is not None) or not nullable
            can_mm = mins is not None and not enum
            can_sum = sums is not None and not enum
            ok = (
                can_count
                and (can_mm or not want_mm or not _mm_possible(fld))
                and (can_sum or not want_sum or not summable)
            )
            if not ok:
                need_decode.append(f)
                continue
            acc = facc[f]
            for k in contained:
                cells = _cells_of(k)
                nc = nulls[k] if nulls is not None else 0
                nn = cells - nc
                acc["null_count"] += nc
                acc["count"] += nn
                if nn == 0:
                    continue
                acc["saw_nonnull"] = True
                if can_sum and summable:
                    acc["sum"] += sums[k]
                if want_mm:
                    if can_mm:
                        _fold_minmax(acc["minmax"], mins[k], maxs[k])
                    else:  # string/var field, counts-only request
                        acc["minmax_ok"] = False
        if need_decode:
            _decode_runs(
                frag, _coalesce_runs(contained, cap, n_cells),
                n_cells, need_decode, masked=False, count_cells=False,
            )

    out_fields = {}
    for f in fields:
        acc = facc[f]
        kind, idx, fld = by_name[f]
        nullable = bool(getattr(fld, "nullable", False))
        summable = (
            fld.cell_val_num == 1
            and fld.dtype_id in _SUMMABLE_DT
            and not getattr(fld, "enumeration", None)
        )
        out_fields[f] = {
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
    return {"count": total, "fields": out_fields, "audit": audit}


def _mm_possible(fld) -> bool:
    """MIN/MAX is meaningful for single- and fixed-multi-value cells and
    strings alike; only cells with no total order (multi-value numeric
    tuples are python-orderable, so everything qualifies) are excluded.
    Kept as a hook: today every field qualifies."""
    return True


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
    schema dim order).  A tile whose MBR lies inside ONE grid cell on
    every gridded dim contributes its tile stats unread; tiles
    straddling any grid line decode per-cell.  ``ranges`` optionally
    windows the cube exactly as in :func:`bucketed_agg_native`.

    With data ingested in space-tile or Hilbert order (the clustered
    2-D layout the writer supports), tile MBRs are small boxes, so a
    coarse grid serves almost entirely from stats — a 100 TB heatmap
    refresh is a footer walk.  Same sound-or-None trust rules as the
    1-D rollup.  Returns ``{"buckets": {(bx, by, ...): {"count": n,
    "fields": {...}}}, "audit": {...}}`` or None.
    """
    schema = parse_array_schema(_schema_path(array_dir))
    if schema.array_type == "DENSE":
        # round 8: the dense twin (fills included, every cell present)
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
        (i, d, widths[d.name]) for i, d in enumerate(schema.dims)
        if d.name in widths
    ]
    ranges = dict(ranges or {})
    for name in ranges:
        if name not in dim_names:
            raise ValueError(f"range on non-dimension {name!r}")
    rngs = [tuple(ranges.get(n, (None, None))) for n in dim_names]
    ranged = [
        (i, d, rngs[i]) for i, d in enumerate(schema.dims)
        if rngs[i] != (None, None)
    ]

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
        return None
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
        return None

    def _facc():
        return {"count": 0, "null_count": 0, "sum": 0,
                "minmax": [None, None], "minmax_ok": True,
                "saw_nonnull": False}

    btotal: dict = {}
    bacc: dict = {}

    def _acc(b, f):
        per = bacc.setdefault(b, {})
        a = per.get(f)
        if a is None:
            a = per[f] = _facc()
        return a

    want_mm = "min" in stats or "max" in stats
    want_sum = "sum" in stats
    summable_of = {
        f: by_name[f][2].cell_val_num == 1
        and by_name[f][2].dtype_id in _SUMMABLE_DT
        and not getattr(by_name[f][2], "enumeration", None)
        for f in fields
    }

    def _decode_tile(frag, k, cap, n_cells, flds, bucket=None,
                     count_cells=True, masked=False):
        lo_c, hi_c = k * cap, min((k + 1) * cap, n_cells)
        mask = None
        dim_vals: dict = {}
        if masked and ranged:
            for i, d, (lo, hi) in ranged:
                vals = _read_field_span(
                    frag, schema, d, i, "d", lo_c, hi_c, n_cells
                )
                dim_vals[i] = vals
                m = [
                    (lo is None or v >= lo) and (hi is None or v <= hi)
                    for v in vals
                ]
                mask = m if mask is None else [
                    a and b for a, b in zip(mask, m)
                ]
                audit["cells_decoded"] += hi_c - lo_c
        bks = None
        if bucket is None:
            comps = []
            for i, d, w in gridded:
                vals = dim_vals.get(i)
                if vals is None:
                    vals = _read_field_span(
                        frag, schema, d, i, "d", lo_c, hi_c, n_cells
                    )
                    audit["cells_decoded"] += hi_c - lo_c
                comps.append([v // w for v in vals])
            bks = list(zip(*comps))
        if count_cells:
            if bks is None:
                btotal[bucket] = btotal.get(bucket, 0) + (hi_c - lo_c)
            else:
                for j, b in enumerate(bks):
                    if mask is None or mask[j]:
                        btotal[b] = btotal.get(b, 0) + 1
        for f in flds:
            kind, idx, fld = by_name[f]
            vals = _read_field_span(
                frag, schema, fld, idx, kind, lo_c, hi_c, n_cells
            )
            audit["cells_decoded"] += hi_c - lo_c
            can_sum = summable_of[f]
            for j, v in enumerate(vals):
                if mask is not None and not mask[j]:
                    continue
                acc = _acc(bucket if bks is None else bks[j], f)
                if v is None:
                    acc["null_count"] += 1
                    continue
                acc["count"] += 1
                acc["saw_nonnull"] = True
                if can_sum:
                    acc["sum"] += v
                if acc["minmax_ok"]:
                    try:
                        _fold_minmax(acc["minmax"], v, v)
                    except TypeError:
                        acc["minmax_ok"] = False

    def _decode_run_vec(frag, k_lo, k_hi, cap, n_cells):
        """Vectorized decode+bin of tiles [k_lo, k_hi) — one span read
        per field, numpy lexsort+reduceat per-bucket fold.  Engages only
        for the unmasked all-int shape (no ranges; every gridded dim
        and requested field decodes to an integer ndarray with no None,
        enum label, or multi-value cell) and only when the int64 group
        sums provably cannot overflow; anything else returns False and
        the caller runs the exact per-tile python loop.  For the shapes
        it accepts the fold is value-identical to that loop: integer
        sums/min/max are order-independent, and cross-run accumulation
        still happens in arbitrary-precision python ints."""
        import numpy as np  # noqa: PLC0415

        lo_c, hi_c = k_lo * cap, min(k_hi * cap, n_cells)
        n = hi_c - lo_c
        if n <= 0:
            return True
        comps = []
        dim_arr: dict = {}
        for i, d, w in gridded:
            try:
                arr = np.asarray(
                    _read_field_span(
                        frag, schema, d, i, "d", lo_c, hi_c, n_cells
                    )
                )
            except OverflowError:
                return False
            if arr.dtype.kind not in "iu" or arr.shape != (n,):
                return False
            dim_arr[d.name] = arr
            # int64 floor division matches python // for any sign
            comps.append(arr.astype(np.int64, copy=False) // w)
        fld_arr: dict = {}
        for f in fields:
            kind, idx, fld = by_name[f]
            arr = dim_arr.get(f) if kind == "d" else None
            if arr is None:
                try:
                    arr = np.asarray(
                        _read_field_span(
                            frag, schema, fld, idx, kind, lo_c, hi_c,
                            n_cells,
                        )
                    )
                except OverflowError:
                    return False
            if arr.dtype.kind not in "iu" or arr.shape != (n,):
                return False
            if summable_of[f]:
                hi = max(abs(int(arr.min())), abs(int(arr.max())))
                if hi and n > (2**62) // hi:  # group sum could overflow
                    return False
            fld_arr[f] = arr.astype(np.int64, copy=False)
        audit["cells_decoded"] += n * (len(gridded) + len(fields))
        order = np.lexsort(tuple(reversed(comps)))
        stacked = [c[order] for c in comps]
        starts = np.flatnonzero(
            np.concatenate((
                [True],
                np.any(
                    [s[1:] != s[:-1] for s in stacked], axis=0,
                ),
            ))
        )
        counts = np.diff(np.append(starts, n))
        keys = [tuple(int(s[j]) for s in stacked) for j in starts]
        for b, c in zip(keys, counts):
            btotal[b] = btotal.get(b, 0) + int(c)
        for f, arr in fld_arr.items():
            srt = arr[order]
            can_sum = summable_of[f]
            sums = np.add.reduceat(srt, starts) if can_sum else None
            mns = np.minimum.reduceat(srt, starts)
            mxs = np.maximum.reduceat(srt, starts)
            for j, b in enumerate(keys):
                acc = _acc(b, f)
                acc["count"] += int(counts[j])
                acc["saw_nonnull"] = True
                if can_sum:
                    acc["sum"] += int(sums[j])
                if acc["minmax_ok"]:
                    _fold_minmax(acc["minmax"], int(mns[j]), int(mxs[j]))
        return True
    for frag, ftr in zip(frags, footers):
        stn = ftr.sparse_tile_num
        if stn == 0:
            audit["fragments_skipped"] += 1
            continue
        cap = schema.capacity
        n_cells = (stn - 1) * cap + ftr.last_tile_cell_num
        audit["tiles_total"] += stn
        mbrs = parse_rtree_leaf_mbrs(frag, schema)
        if mbrs is None or len(mbrs) != stn:
            audit["tiles_partial"] += stn
            if ranged or not _decode_run_vec(frag, 0, stn, cap, n_cells):
                for k in range(stn):
                    _decode_tile(frag, k, cap, n_cells, fields,
                                 masked=bool(ranged))
            continue
        contained: dict = {}  # cell tuple -> [tile index]
        edge = []
        for k, mbr in enumerate(mbrs):
            wcls = _classify_tile(mbr, rngs) if ranged else "contained"
            if wcls == "skip":
                audit["tiles_skipped"] += 1
                continue
            if wcls == "partial":
                edge.append((k, True))
                continue
            cell = []
            for i, d, w in gridded:
                dom = mbr[i]
                if dom is None:
                    cell = None
                    break
                try:
                    c_lo, c_hi = dom[0] // w, dom[1] // w
                except TypeError:
                    cell = None
                    break
                if c_lo != c_hi:
                    cell = None
                    break
                cell.append(c_lo)
            if cell is None:
                edge.append((k, False))
            else:
                contained.setdefault(tuple(cell), []).append(k)
        audit["tiles_partial"] += len(edge)
        audit["tiles_contained"] += sum(len(v) for v in contained.values())
        if not ranged and edge:
            # batch consecutive unmasked edge tiles into vectorized
            # runs; a run the helper refuses (non-int shape, possible
            # overflow) replays through the exact per-tile loop —
            # _decode_run_vec gates BEFORE touching any accumulator,
            # so refusal never leaves partial state for its run
            ks = [k for k, _m in edge]
            runs, r_lo, prev = [], ks[0], ks[0]
            for k in ks[1:]:
                if k == prev + 1:
                    prev = k
                    continue
                runs.append((r_lo, prev + 1))
                r_lo = prev = k
            runs.append((r_lo, prev + 1))
            for lo, hi in runs:
                if not _decode_run_vec(frag, lo, hi, cap, n_cells):
                    for k in range(lo, hi):
                        _decode_tile(frag, k, cap, n_cells, fields)
        else:
            for k, need_mask in edge:
                _decode_tile(frag, k, cap, n_cells, fields,
                             masked=need_mask)
        if not contained:
            continue

        def _cells_of(k, stn=stn, cap=cap, ltcn=ftr.last_tile_cell_num):
            return cap if k < stn - 1 else ltcn

        field_stats, need_decode = {}, []
        for f in fields:
            kind, idx, fld = by_name[f]
            nullable = bool(getattr(fld, "nullable", False))
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
            enum = getattr(fld, "enumeration", None)
            can_count = (nulls is not None) or not nullable
            can_mm = mins is not None and not enum
            can_sum = sums is not None and not enum
            ok = (
                can_count
                and (can_mm or not want_mm or not _mm_possible(fld))
                and (can_sum or not want_sum or not summable_of[f])
            )
            if not ok:
                need_decode.append(f)
                continue
            field_stats[f] = (mins, maxs, sums, nulls, can_mm, can_sum)
        for b, tiles in contained.items():
            btotal[b] = btotal.get(b, 0) + sum(_cells_of(k) for k in tiles)
            for f, (mins, maxs, sums, nulls, can_mm, can_sum) in (
                field_stats.items()
            ):
                acc = _acc(b, f)
                for k in tiles:
                    cells = _cells_of(k)
                    nc = nulls[k] if nulls is not None else 0
                    nn = cells - nc
                    acc["null_count"] += nc
                    acc["count"] += nn
                    if nn == 0:
                        continue
                    acc["saw_nonnull"] = True
                    if can_sum and summable_of[f]:
                        acc["sum"] += sums[k]
                    if want_mm:
                        if can_mm:
                            _fold_minmax(acc["minmax"], mins[k], maxs[k])
                        else:
                            acc["minmax_ok"] = False
            for f in need_decode:
                for k in tiles:
                    _decode_tile(
                        frag, k, cap, n_cells, [f],
                        bucket=b, count_cells=False,
                    )

    buckets = {}
    for b in sorted(btotal):
        fo = {}
        for f in fields:
            acc = bacc.get(b, {}).get(f) or _facc()
            kind, idx, fld = by_name[f]
            nullable = bool(getattr(fld, "nullable", False))
            fo[f] = {
                "count": acc["count"] if "count" in stats else None,
                "null_count": (
                    acc["null_count"]
                    if nullable and "null_count" in stats else None
                ),
                "sum": (
                    acc["sum"]
                    if want_sum and summable_of[f] and acc["saw_nonnull"]
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
        buckets[b] = {"count": btotal[b], "fields": fo}
    return {"buckets": buckets, "audit": audit}


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
    costs footers + edge tiles, not the corpus.

    Bucket ids use python floor division (``v // width``), matching SQL
    FLOOR(v / width) for positive ``width`` on any-sign coordinates.
    Buckets with no cells are absent (sparse GROUP BY semantics).

    Same sound-or-None trust rules as ``windowed_agg_native``; the same
    per-field availability rules decide stats-vs-decode, and a dim0
    whose MBRs are untrusted (var/string) degrades every tile to decode
    — still exact, just not metadata-accelerated.

    ``ranges`` (optional, dict dim name -> inclusive (lo, hi)) windows
    the rollup exactly as in ``windowed_agg_native``: only cells inside
    the window count, tiles outside it are skipped from metadata, and
    tiles straddling a window edge decode with per-cell masking — the
    dashboard shape "GROUP BY bucket WHERE dim BETWEEN a AND b".

    Returns ``{"buckets": {bucket_id: {"count": n, "fields": {f:
    {count, null_count, sum, min, max}}}}, "audit": {...}}`` or None.
    """
    if not isinstance(width, int) or width <= 0:
        raise ValueError(f"width must be a positive int, got {width!r}")
    schema = parse_array_schema(_schema_path(array_dir))
    if schema.array_type == "DENSE":
        # round 8: the dense twin (fills included, every slice present)
        return dense_bucketed_agg_native(
            array_dir, width, fields=fields, at=at, since=since,
            stats=stats, ranges=ranges,
        )
    dim0 = schema.dims[0]
    dim_names = [d.name for d in schema.dims]
    ranges = dict(ranges or {})
    for name in ranges:
        if name not in dim_names:
            raise ValueError(f"range on non-dimension {name!r}")
    rngs = [tuple(ranges.get(n, (None, None))) for n in dim_names]
    ranged = [
        (i, d, rngs[i]) for i, d in enumerate(schema.dims)
        if rngs[i] != (None, None)
    ]

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
        return None
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
        return None

    def _facc():
        return {"count": 0, "null_count": 0, "sum": 0,
                "minmax": [None, None], "minmax_ok": True,
                "saw_nonnull": False}

    btotal: dict = {}
    bacc: dict = {}

    def _acc(b, f):
        per = bacc.get(b)
        if per is None:
            per = bacc[b] = {}
        a = per.get(f)
        if a is None:
            a = per[f] = _facc()
        return a

    want_mm = "min" in stats or "max" in stats
    want_sum = "sum" in stats
    summable_of = {
        f: by_name[f][2].cell_val_num == 1
        and by_name[f][2].dtype_id in _SUMMABLE_DT
        and not getattr(by_name[f][2], "enumeration", None)
        for f in fields
    }

    def _decode_tile(frag, k, cap, n_cells, flds, bucket=None,
                     count_cells=True, masked=False):
        """Exact per-cell aggregation of tile ``k``.  ``bucket`` set =
        containment already proved (dim0 never decoded); None = edge
        tile, per-cell ``v // width`` assignment.  ``masked`` = the
        tile straddles a window edge: the ranged dims decode and only
        in-window cells count."""
        lo_c, hi_c = k * cap, min((k + 1) * cap, n_cells)
        mask = None
        dim_vals: dict = {}
        if masked and ranged:
            for i, d, (lo, hi) in ranged:
                vals = _read_field_span(
                    frag, schema, d, i, "d", lo_c, hi_c, n_cells
                )
                dim_vals[i] = vals
                m = [
                    (lo is None or v >= lo) and (hi is None or v <= hi)
                    for v in vals
                ]
                mask = m if mask is None else [
                    a and b for a, b in zip(mask, m)
                ]
                audit["cells_decoded"] += hi_c - lo_c
        bks = None
        if bucket is None:
            kv = dim_vals.get(0)
            if kv is None:
                kv = _read_field_span(
                    frag, schema, dim0, 0, "d", lo_c, hi_c, n_cells
                )
                audit["cells_decoded"] += hi_c - lo_c
            bks = [v // width for v in kv]
        if count_cells:
            if bks is None:
                btotal[bucket] = btotal.get(bucket, 0) + (hi_c - lo_c)
            else:
                for j, b in enumerate(bks):
                    if mask is None or mask[j]:
                        btotal[b] = btotal.get(b, 0) + 1
        for f in flds:
            kind, idx, fld = by_name[f]
            vals = _read_field_span(
                frag, schema, fld, idx, kind, lo_c, hi_c, n_cells
            )
            audit["cells_decoded"] += hi_c - lo_c
            can_sum = summable_of[f]
            for j, v in enumerate(vals):
                if mask is not None and not mask[j]:
                    continue
                acc = _acc(bucket if bks is None else bks[j], f)
                if v is None:
                    acc["null_count"] += 1
                    continue
                acc["count"] += 1
                acc["saw_nonnull"] = True
                if can_sum:
                    acc["sum"] += v
                if acc["minmax_ok"]:
                    try:
                        _fold_minmax(acc["minmax"], v, v)
                    except TypeError:
                        acc["minmax_ok"] = False

    for frag, ftr in zip(frags, footers):
        stn = ftr.sparse_tile_num
        if stn == 0:
            audit["fragments_skipped"] += 1
            continue
        cap = schema.capacity
        n_cells = (stn - 1) * cap + ftr.last_tile_cell_num
        audit["tiles_total"] += stn
        mbrs = parse_rtree_leaf_mbrs(frag, schema)
        if mbrs is None or len(mbrs) != stn:
            audit["tiles_partial"] += stn
            for k in range(stn):
                _decode_tile(frag, k, cap, n_cells, fields,
                             masked=bool(ranged))
            continue
        contained: dict = {}  # bucket -> [tile index]
        edge = []  # (tile index, needs window mask)
        for k, mbr in enumerate(mbrs):
            # window classification first: out-of-window tiles cost
            # nothing, straddlers decode with per-cell masking
            wcls = _classify_tile(mbr, rngs) if ranged else "contained"
            if wcls == "skip":
                audit["tiles_skipped"] += 1
                continue
            if wcls == "partial":
                edge.append((k, True))
                continue
            d0 = mbr[0]
            if d0 is None:  # untrusted (var dim0): decode to know
                edge.append((k, False))
                continue
            try:
                b_lo, b_hi = d0[0] // width, d0[1] // width
            except TypeError:  # string dim0: no bucket arithmetic
                edge.append((k, False))
                continue
            if b_lo == b_hi:
                contained.setdefault(b_lo, []).append(k)
            else:
                edge.append((k, False))
        audit["tiles_partial"] += len(edge)
        audit["tiles_contained"] += sum(len(v) for v in contained.values())
        for k, need_mask in edge:
            _decode_tile(frag, k, cap, n_cells, fields,
                         masked=need_mask)
        if not contained:
            continue

        def _cells_of(k, stn=stn, cap=cap, ltcn=ftr.last_tile_cell_num):
            return cap if k < stn - 1 else ltcn

        field_stats, need_decode = {}, []
        for f in fields:
            kind, idx, fld = by_name[f]
            nullable = bool(getattr(fld, "nullable", False))
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
            enum = getattr(fld, "enumeration", None)
            can_count = (nulls is not None) or not nullable
            can_mm = mins is not None and not enum
            can_sum = sums is not None and not enum
            ok = (
                can_count
                and (can_mm or not want_mm or not _mm_possible(fld))
                and (can_sum or not want_sum or not summable_of[f])
            )
            if not ok:
                need_decode.append(f)
                continue
            field_stats[f] = (mins, maxs, sums, nulls, can_mm, can_sum)
        for b, tiles in contained.items():
            btotal[b] = btotal.get(b, 0) + sum(_cells_of(k) for k in tiles)
            for f, (mins, maxs, sums, nulls, can_mm, can_sum) in (
                field_stats.items()
            ):
                acc = _acc(b, f)
                for k in tiles:
                    cells = _cells_of(k)
                    nc = nulls[k] if nulls is not None else 0
                    nn = cells - nc
                    acc["null_count"] += nc
                    acc["count"] += nn
                    if nn == 0:
                        continue
                    acc["saw_nonnull"] = True
                    if can_sum and summable_of[f]:
                        acc["sum"] += sums[k]
                    if want_mm:
                        if can_mm:
                            _fold_minmax(acc["minmax"], mins[k], maxs[k])
                        else:
                            acc["minmax_ok"] = False
            for f in need_decode:
                for k in tiles:
                    _decode_tile(
                        frag, k, cap, n_cells, [f],
                        bucket=b, count_cells=False,
                    )

    buckets = {}
    for b in sorted(btotal):
        fo = {}
        for f in fields:
            acc = bacc.get(b, {}).get(f) or _facc()
            kind, idx, fld = by_name[f]
            nullable = bool(getattr(fld, "nullable", False))
            fo[f] = {
                "count": acc["count"] if "count" in stats else None,
                "null_count": (
                    acc["null_count"]
                    if nullable and "null_count" in stats else None
                ),
                "sum": (
                    acc["sum"]
                    if want_sum and summable_of[f] and acc["saw_nonnull"]
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
        buckets[b] = {"count": btotal[b], "fields": fo}
    return {"buckets": buckets, "audit": audit}


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


def _facc_new():
    return {"count": 0, "null_count": 0, "sum": 0,
            "minmax": [None, None], "minmax_ok": True,
            "saw_nonnull": False}




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
            summable = (
                fld.cell_val_num == 1
                and fld.dtype_id in _SUMMABLE_DT
                and not enum
            )
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
                fld = by_name[f][2]
                summable = (
                    fld.cell_val_num == 1
                    and fld.dtype_id in _SUMMABLE_DT
                    and not getattr(fld, "enumeration", None)
                )
                acc = facc[f]
                # python values in cell order: float sums stay
                # bit-identical to a row-at-a-time fold
                for v in cols[f].tolist():
                    if v is None:
                        acc["null_count"] += 1
                        continue
                    acc["count"] += 1
                    acc["saw_nonnull"] = True
                    if want_sum and summable:
                        acc["sum"] += v
                    if want_mm and acc["minmax_ok"]:
                        try:
                            _fold_minmax(acc["minmax"], v, v)
                        except TypeError:
                            acc["minmax_ok"] = False
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
            summable = (
                fld.cell_val_num == 1
                and fld.dtype_id in _SUMMABLE_DT
                and not enum
            )
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


def _dense_assemble(schema, fields, facc, stats):
    by_name = {d.name: d for d in schema.dims}
    by_name.update({a.name: a for a in schema.attrs})
    want_sum = "sum" in stats
    out = {}
    for f in fields:
        fld = by_name[f]
        nullable = bool(getattr(fld, "nullable", False))
        summable = (
            fld.cell_val_num == 1
            and fld.dtype_id in _SUMMABLE_DT
            and not getattr(fld, "enumeration", None)
        )
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
        facc = {f: _facc_new() for f in fields}
        return {"count": 0,
                "fields": _dense_assemble(schema, fields, facc, stats),
                "audit": audit}
    ev = _dense_eval_overlap if overlap else _dense_eval
    vol, facc = ev(
        array_dir, schema, frags, boxes, R, fields, stats, at, audit
    )
    return {"count": vol,
            "fields": _dense_assemble(schema, fields, facc, stats),
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
    view.  Every bucket slice intersecting the window is present (dense
    reads materialize every cell).  Fragment-per-bucket ingest — the
    time-partitioned raster shape — answers wholly from fragment stats
    + fill arithmetic; straddling fragments decode only their clipped
    boxes."""
    if not isinstance(width, int) or width <= 0:
        raise ValueError(f"width must be a positive int, got {width!r}")
    prep = _dense_prep(array_dir, ranges, fields, at, since)
    if prep is None:
        return None
    schema, fields, frags, boxes, R, overlap = prep
    audit = _dense_audit()
    audit["fragments"] = len(frags)
    if R is None:
        return {"buckets": {}, "audit": audit}
    b0, b1 = R[0][0] // width, R[0][1] // width
    if b1 - b0 + 1 > _DENSE_MAX_BUCKETS:
        return None  # absurd materialization; let the caller scan
    buckets = {}
    cache: dict = {}  # footer parses once per fragment, not per bucket
    ev = _dense_eval_overlap if overlap else _dense_eval
    for b in range(b0, b1 + 1):
        slice_r = [
            (max(R[0][0], b * width), min(R[0][1], (b + 1) * width - 1))
        ] + list(R[1:])
        vol, facc = ev(
            array_dir, schema, frags, boxes, slice_r, fields, stats, at,
            audit, cache=cache,
        )
        buckets[b] = {
            "count": vol,
            "fields": _dense_assemble(schema, fields, facc, stats),
        }
    return {"buckets": buckets, "audit": audit}


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
    ``floor(coord/width)`` over the GRIDDED dims (schema dim order)."""
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
        key = combo[0] if len(combo) == 1 else tuple(combo)
        buckets[key] = {
            "count": vol,
            "fields": _dense_assemble(schema, fields, facc, stats),
        }
    return {"buckets": buckets, "audit": audit}
