"""Subprocess bridge for the unified JVM DataSource V2 shim.

``java/TileDBAggDataSource.java`` (the DataSource V2 provider behind
``spark.read.format("tiledb_agg")``) launches this module to reach the
repo's pure-Python native decoder from the JVM:

- ``schema --uri U``: the array's Spark DDL as one JSON object;
- ``agg --uri U --aggs count;min:c;sum:c [--conditions J]``:
  metadata-only aggregate values (count_native_array /
  attr_stats_native_array, or windowed_agg_native when pushed dim-range
  conditions window the scan — the group_by_handler trust rules,
  ha_mytile.cc:607-715 + the range-stealing composition of
  ha_mytile.cc:634-640: never a guessed value, ``ok=false`` whenever
  the merged view could differ from per-fragment stats) as one JSON
  object;
- ``gagg --uri U --aggs ... --group d1:w1[,d2:w2...] [--conditions J]``:
  GROUP BY floor(dim/width) rollup rows — bucketed_agg_native for the
  1-D dim0 case, grid_agg_native for N-D / non-dim0 grids (footer walk
  + edge-tile decode — the q340/q343 metadata rollups behind plain
  SQL); bucket keys in the requested group order;
- ``write --uri U`` (rows on stdin) / ``commitfrags --uri U --frags J``:
  the write path — one staged fragment per task, one atomic job-level
  visibility flip (.wrt marker or .con group);
- ``topk --uri U --topk col:dir:k``: the zone-map ORDER-BY-LIMIT bound
  for SupportsPushDownTopN;
- ``stats --uri U``: planning statistics (rows exact-or-upper-bound,
  on-disk/fixed-width sizeInBytes) for SupportsReportStatistics;
- ``splits --uri U [--conditions J]``: the split plan for the scan
  (dim0 cuts / R-tree weights / string boundary keys, intersected with
  pushed dim ranges and the condition-NED — read_array parity);
- ``rows --uri U [--ranges J] [--conditions J] [--columns J]
  [--limit N]``: the decoded table — pushed conditions applied EXACTLY
  (QueryCondition analog), projection pruned, and an advisory
  per-split LIMIT truncation, so the fallback scan is filter-, column-
  and limit-pushed like the Python datasource.

Everything prints to stdout; errors exit nonzero with the reason on
stderr (the Java side surfaces both).
"""

from __future__ import annotations

import argparse
import json
import sys

# FLOOR(k/width) in SQL is DOUBLE division: exact vs integer ``k//width``
# only while |k| < 2^52 (quotient*width below the 53-bit mantissa).
_FLOOR_SAFE = 1 << 52


def _json_cell(v):
    if hasattr(v, "item"):  # numpy scalar
        return v.item()
    raise TypeError(f"unsupported cell type {type(v).__name__}")


def _parse_conditions(s: str | None):
    """JSON ``[[col, op, value?], ...]`` -> backend condition tuples."""
    if not s or s == "null":
        return None
    out = []
    for c in json.loads(s):
        col, op = c[0], c[1]
        if op in ("is_null", "is_not_null"):
            out.append((col, op))
        elif op == "in":
            out.append((col, "in", tuple(c[2])))
        else:
            out.append((col, op, c[2]))
    return out or None


def _fold_dim_ranges(schema, conds):
    """Fold integer-dim range conjuncts into ``{dim: (lo, hi)}``.

    Returns ``(ranges, rest)`` where ``rest`` holds every conjunct not
    expressible as one inclusive per-dim range (attr conditions, IN,
    NULL tests, non-integer values).  The metadata aggregate path only
    fires when ``rest`` is empty — stats cannot prove anything under a
    residual filter."""
    dim_names = {d.name for d in schema.dims}
    non_nullable = dim_names | {
        a.name for a in schema.attrs if not a.nullable
    }
    ranges: dict = {}
    rest = []

    def _narrow(name, lo, hi):
        clo, chi = ranges.get(name, (None, None))
        nlo = lo if clo is None else (clo if lo is None else max(clo, lo))
        nhi = hi if chi is None else (chi if hi is None else min(chi, hi))
        ranges[name] = (nlo, nhi)

    for c in conds or []:
        col, op = c[0], c[1]
        v = c[2] if len(c) > 2 else None
        if op == "is_not_null" and col in non_nullable:
            # vacuous (Spark's inferred null-intolerance on a dim or a
            # non-nullable attr): coordinates are never NULL
            continue
        is_int = isinstance(v, int) and not isinstance(v, bool)
        if col in dim_names and is_int and op in ("=", "<", "<=", ">", ">="):
            if op == "=":
                _narrow(col, v, v)
            elif op == ">=":
                _narrow(col, v, None)
            elif op == ">":
                _narrow(col, v + 1, None)
            elif op == "<=":
                _narrow(col, None, v)
            else:
                _narrow(col, None, v - 1)
        else:
            rest.append(c)
    return ranges, rest


def _field_value(op: str, f: dict):
    """One aggregate value from a windowed/bucketed per-field stat dict
    (exact by construction).  Returns (ok, value)."""
    cnt = f.get("count")
    if op == "countcol":
        return (cnt is not None, cnt)
    if cnt == 0:
        return (True, None)  # SQL MIN/MAX/SUM/AVG over zero rows = NULL
    if op in ("min", "max"):
        v = f.get(op)
        return (v is not None, v)
    if op == "sum":
        v = f.get("sum")
        return (v is not None, v)
    if op == "avg":
        v = f.get("sum")
        if v is None or not cnt:
            return (False, None)
        return (True, float(v) / int(cnt))
    return (False, None)


def _extract(reqs, count, fields):
    """Aggregate request list -> values from a windowed/bucketed result
    (``count`` = row count, ``fields`` = per-field stat dicts).  None =
    some request is not provable."""
    vals = []
    for req in reqs:
        if req == "count":
            vals.append(int(count))
            continue
        op, _, col = req.partition(":")
        f = fields.get(col)
        if f is None:
            return None
        ok, v = _field_value(op, f)
        if not ok:
            return None
        vals.append(_json_cell(v) if hasattr(v, "item") else v)
    return vals


def _np_isna(np, arr):
    """Null mask mirroring pandas semantics on the decoder's column
    shapes: object columns use None, float columns NaN, integral/bool
    columns are never null."""
    if arr.dtype == object:
        return np.fromiter(
            (v is None for v in arr), bool, count=len(arr)
        )
    if arr.dtype.kind == "f":
        return np.isnan(arr)
    return np.zeros(len(arr), bool)


def _np_cond_mask(np, arr, op, val=None):
    """One pushed condition as a boolean mask — the vectorized twin of
    tiledb_array._apply_conditions (3VL: NULL never matches)."""
    if op == "is_null":
        return _np_isna(np, arr)
    if op == "is_not_null":
        return ~_np_isna(np, arr)
    if arr.dtype == object:
        if op == "in":
            vs = set(val)
            return np.fromiter(
                (v is not None and v in vs for v in arr),
                bool, count=len(arr),
            )
        import operator  # noqa: PLC0415

        f = {
            "=": operator.eq, "!=": operator.ne, "<": operator.lt,
            "<=": operator.le, ">": operator.gt, ">=": operator.ge,
        }[op]
        return np.fromiter(
            (v is not None and f(v, val) for v in arr),
            bool, count=len(arr),
        )
    notna = ~_np_isna(np, arr)
    if op == "in":
        cmp = np.isin(arr, np.asarray(list(val)))
    else:
        cmp = {
            "=": arr == val, "!=": arr != val, "<": arr < val,
            "<=": arr <= val, ">": arr > val, ">=": arr >= val,
        }[op]
    return notna & cmp


def _rows_numpy(a, info, want, rng, conds) -> bool:
    """Pandas-free rows emission: columnar numpy decode -> vectorized
    condition masks -> Arrow IPC with the EXPLICIT schema the JVM
    columnar reader wraps.  Returns False (emitted nothing) when the
    shape falls outside the numpy fast path or a column's declared type
    is exotic — the caller then runs the exact pandas path.

    pandas is actively BLOCKED for the duration: pyarrow's pandas shim
    imports it on the first ``pa.array`` call even for pure-numpy
    input, and that import costs ~0.3 s in a process that lives
    ~0.5 s (one spawn per partition).  The block is a meta_path hook
    removed on exit, so the pandas fallback path still works."""

    class _BlockPandas:  # noqa: D401 - import hook
        @staticmethod
        def find_spec(name, path=None, target=None):
            if name == "pandas" or name.startswith("pandas."):
                raise ImportError("pandas blocked in numpy rows path")
            return None

    block = "pandas" not in sys.modules
    if block:
        sys.meta_path.insert(0, _BlockPandas)
    try:
        return _rows_numpy_inner(a, info, want, rng, conds)
    finally:
        if block:
            sys.meta_path.remove(_BlockPandas)


def _arrow_types() -> dict:
    """Spark DDL type -> the Arrow type the JVM columnar reader wraps as
    that Spark type."""
    import pyarrow as pa  # noqa: PLC0415

    return {
        "bigint": pa.int64(), "int": pa.int32(),
        "smallint": pa.int16(), "tinyint": pa.int8(),
        "double": pa.float64(), "float": pa.float32(),
        "string": pa.string(), "boolean": pa.bool_(),
        "binary": pa.binary(),
    }


def _emit_arrow(tbl) -> None:
    """Stream ``tbl`` to stdout as Arrow IPC in bounded batches; the JVM
    columnar reader hands each batch to Spark as one ColumnarBatch."""
    import pyarrow as pa  # noqa: PLC0415

    sink = sys.stdout.buffer
    with pa.ipc.new_stream(sink, tbl.schema) as wr:
        wr.write_table(tbl, max_chunksize=1 << 15)
    sink.flush()


def _zero_column_table(n: int):
    """``n`` rows and no columns — a COUNT-style scan prunes to zero
    columns, and the batches' row counts carry its rows."""
    import pyarrow as pa  # noqa: PLC0415

    return pa.Table.from_batches([
        pa.RecordBatch.from_struct_array(
            pa.array([{}] * n, type=pa.struct([]))
        )
    ])


def _rows_numpy_inner(a, info, want, rng, conds) -> bool:
    import numpy as np  # noqa: PLC0415
    import pyarrow as pa  # noqa: PLC0415

    _PA = _arrow_types()
    ddl = {x.name: x.dtype for x in list(info.dims) + list(info.attrs)}
    if not all(ddl.get(c) in _PA for c in want):
        return False
    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        read_native_array_range_np,
    )

    need = set(want) | {c[0] for c in conds or []}
    fast = read_native_array_range_np(
        a.uri, ranges=list(rng), columns=list(need), at=a.at,
        prune_conditions=list(conds) if conds else None,
    )
    if fast is None:
        return False
    names, arrays = fast
    mask = None
    for c in conds or []:
        m = _np_cond_mask(np, arrays[c[0]], c[1], c[2] if len(c) > 2 else None)
        mask = m if mask is None else (mask & m)
    if mask is not None:
        arrays = {nm: arr[mask] for nm, arr in arrays.items()}
    if a.limit is not None and a.limit >= 0:
        # advisory per-split LIMIT (SupportsPushDownLimit): Spark
        # re-applies the global limit, so truncating survivors is safe
        arrays = {nm: arr[: a.limit] for nm, arr in arrays.items()}
    cols = [c for c in want if c in names]
    if cols:
        tbl = pa.table(
            {c: pa.array(arrays[c], type=_PA[ddl[c]]) for c in cols}
        )
    else:
        tbl = _zero_column_table(len(arrays[names[0]]) if names else 0)
    _emit_arrow(tbl)
    return True



def _stats_payload(a) -> dict | None:
    """{rows, exact, bytes} planning statistics, or None when no
    footer is parseable.  Shared by the standalone ``stats`` command
    and the ``splits`` command (which piggybacks it so the JVM scan
    needs ONE planning spawn, not two)."""
    import os as _os  # noqa: PLC0415

    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        _DT as _DT_TAB,
        _fragment_dirs,
        _schema_path,
        count_native_array,
        estimate_range_cells,
        parse_array_schema,
    )

    cnt = count_native_array(a.uri, at=a.at)
    exact = cnt is not None
    if cnt is None:
        cnt = estimate_range_cells(a.uri, None, at=a.at)
    if cnt is None:
        return None
    total = cnt
    conds = _parse_conditions(a.conditions)
    if conds:
        # pushed dim ranges tighten the estimate (records_in_range
        # shape); attr conditions stay conservative
        schema0 = parse_array_schema(_schema_path(a.uri))
        rngs, _rest = _fold_dim_ranges(schema0, conds)
        if rngs:
            rlist = [
                tuple(rngs.get(d.name, (None, None)))
                for d in schema0.dims
            ]
            est = estimate_range_cells(a.uri, rlist, at=a.at)
            if est is not None:
                cnt = min(cnt, est)
                exact = False
    disk = 0
    for frag in _fragment_dirs(a.uri, at=a.at):
        for f in _os.listdir(frag):
            fp = _os.path.join(frag, f)
            if _os.path.isfile(fp):
                disk += _os.path.getsize(fp)
    schema = parse_array_schema(_schema_path(a.uri))
    width = 0
    for x in (*schema.dims, *schema.attrs):
        _nm, _code, sz = _DT_TAB.get(x.dtype_id, ("?", "?", 8))
        cvn = getattr(x, "cell_val_num", 1)
        width += sz * (cvn if cvn not in (0, 0xFFFFFFFF) else 2)
    # bytes scale with the row estimate when ranges narrowed it
    frac = (cnt / total) if total else 1.0
    return {
        "rows": int(cnt), "exact": bool(exact),
        "bytes": int(max(disk * frac, cnt * max(width, 1))),
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="jvm_bridge")
    p.add_argument(
        "cmd",
        choices=["schema", "agg", "gagg", "rows", "splits", "stats",
                 "write", "commitfrags", "topk"],
    )
    p.add_argument("--uri", required=True)
    p.add_argument("--at", type=int, default=None)
    p.add_argument("--encryption-key", default=None)
    p.add_argument("--aggs", default="")
    p.add_argument("--ranges", default=None)  # JSON [[lo,hi],...] | null
    p.add_argument("--conditions", default=None)  # JSON [[col,op,val?],...]
    p.add_argument("--columns", default=None)  # JSON [name, ...]
    p.add_argument("--limit", type=int, default=None)  # advisory per-split cap
    p.add_argument("--frags", default=None)  # JSON [fragment_name, ...]
    p.add_argument("--topk", default=None)  # "col:asc|desc:k"
    p.add_argument("--group", default=None)  # "dim0:width"
    p.add_argument("--target-splits", type=int, default=16)
    a = p.parse_args(argv)

    from tiledb_mariadb_spark.sources.tiledb_array import (  # noqa: PLC0415
        NativeDecoderBackend,
    )
    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        _schema_path,
        attr_stats_native_array,
        count_native_array,
        open_encryption,
        parse_array_schema,
    )

    if a.encryption_key is not None:
        open_encryption(a.uri, a.encryption_key)

    if a.cmd == "schema":
        try:
            info = NativeDecoderBackend(
                encryption_key=a.encryption_key
            ).info(a.uri, at=a.at)
        except Exception as e:  # noqa: BLE001 - bridge boundary
            print(json.dumps({"ok": False, "reason": str(e)}))
            return 0
        ddl = ", ".join(
            f"{x.name} {x.dtype}" for x in list(info.dims) + list(info.attrs)
        )
        print(json.dumps({"ok": True, "ddl": ddl}))
        return 0

    if a.cmd == "agg":
        reqs = [r for r in a.aggs.split(";") if r]
        conds = _parse_conditions(a.conditions)
        if conds:
            # range-stealing composition (ha_mytile.cc:634-640): pushed
            # dim ranges window the metadata aggregate; anything else
            # residual makes stats unprovable -> honest scan fallback
            from tiledb_mariadb_spark.sources.tiledb_native_agg import (  # noqa: PLC0415
                windowed_agg_native,
            )

            try:
                schema = parse_array_schema(_schema_path(a.uri))
            except (OSError, ValueError) as e:
                print(json.dumps({"ok": False, "reason": str(e)}))
                return 0
            ranges, rest = _fold_dim_ranges(schema, conds)
            if rest:
                print(json.dumps(
                    {"ok": False, "reason": "non-range conditions"}
                ))
                return 0
            fcols = sorted({
                r.partition(":")[2] for r in reqs if ":" in r
            })
            w = windowed_agg_native(a.uri, ranges, fields=fcols, at=a.at)
            vals = None if w is None else _extract(
                reqs, w["count"], w["fields"]
            )
            if vals is None:
                print(json.dumps(
                    {"ok": False, "reason": "stats not provable"}
                ))
            else:
                print(json.dumps(
                    {"ok": True, "values": vals}, default=_json_cell
                ))
            return 0
        cnt = count_native_array(a.uri, at=a.at)
        st = attr_stats_native_array(a.uri, at=a.at)
        if cnt is None or st is None:
            print(json.dumps({"ok": False, "reason": "stats not provable"}))
            return 0
        vals = []
        for req in reqs:
            if req == "count":
                vals.append(int(cnt))
                continue
            op, _, col = req.partition(":")
            s = st.get(col) or {}
            if op in ("min", "max"):
                if "min" not in s:
                    print(json.dumps(
                        {"ok": False, "reason": f"no min/max stat for {col}"}
                    ))
                    return 0
                v = s["min"] if op == "min" else s["max"]
            elif op == "sum":
                if "sum" not in s:
                    print(json.dumps(
                        {"ok": False, "reason": f"no sum stat for {col}"}
                    ))
                    return 0
                v = s["sum"]
            elif op == "avg":
                # AVG excludes NULLs: the sum stat is withheld whenever
                # the fragment holds one, so sum-present => no NULLs and
                # the global count is the AVG denominator
                if "sum" not in s or cnt == 0:
                    print(json.dumps(
                        {"ok": False, "reason": f"no avg stat for {col}"}
                    ))
                    return 0
                v = float(s["sum"]) / int(cnt)
            elif op == "countcol":
                # COUNT(col) counts non-NULL cells: the row count for
                # non-nullable fields, cnt - null_count for nullable
                # ones (a nullable field without the stat — e.g. an
                # enumerated attr, whose stats describe ordinals — is
                # refused, never guessed)
                schema = parse_array_schema(_schema_path(a.uri))
                nullable = {x.name for x in schema.attrs if x.nullable}
                if col not in nullable and col in st:
                    v = int(cnt)
                elif "null_count" in s:
                    v = int(cnt) - int(s["null_count"])
                else:
                    print(json.dumps(
                        {"ok": False,
                         "reason": f"no null_count stat for {col}"}
                    ))
                    return 0
            else:
                print(json.dumps(
                    {"ok": False, "reason": f"unknown agg {op}"}
                ))
                return 0
            vals.append(_json_cell(v) if hasattr(v, "item") else v)
        print(json.dumps({"ok": True, "values": vals}, default=_json_cell))
        return 0

    if a.cmd == "gagg":
        # GROUP BY floor(dim/width) [, floor(dim2/width2), ...] from
        # fragment metadata — the q340 bucketed rollup (1-D on dim0)
        # and the q343 grid rollup (N-D, any dims) behind plain SQL.
        # Sound-or-refuse.
        from tiledb_mariadb_spark.sources.tiledb_native_agg import (  # noqa: PLC0415
            bucketed_agg_native,
            grid_agg_native,
        )

        reqs = [r for r in a.aggs.split(";") if r]
        try:
            gspecs = []
            for part in (a.group or "").split(","):
                col, _, wtxt = part.rpartition(":")
                gspecs.append((col, int(wtxt)))
            schema = parse_array_schema(_schema_path(a.uri))
        except (ValueError, OSError) as e:
            print(json.dumps({"ok": False, "reason": f"bad group: {e}"}))
            return 0
        dim_names = [d.name for d in schema.dims]
        if (
            not gspecs
            or any(w <= 0 or c not in dim_names for c, w in gspecs)
            or len({c for c, _w in gspecs}) != len(gspecs)
        ):
            print(json.dumps(
                {"ok": False, "reason": "group cols must be distinct dims"}
            ))
            return 0
        # dim0 1-D grouping keeps the bucketed fast path; anything else
        # (N-D, or 1-D on a non-dim0 dim) is the grid rollup's job
        one_d = len(gspecs) == 1 and gspecs[0][0] == dim_names[0]
        conds = _parse_conditions(a.conditions)
        ranges, rest = _fold_dim_ranges(schema, conds)
        if rest:
            print(json.dumps({"ok": False, "reason": "non-range conditions"}))
            return 0
        try:
            fcols = sorted({
                q.partition(":")[2] for q in reqs if ":" in q
            })
            if one_d:
                r = bucketed_agg_native(
                    a.uri, gspecs[0][1], fields=fcols, at=a.at,
                    ranges=ranges or None,
                )
            else:
                r = grid_agg_native(
                    a.uri, dict(gspecs), fields=fcols, at=a.at,
                    ranges=ranges or None,
                )
        except ValueError as e:
            print(json.dumps({"ok": False, "reason": str(e)}))
            return 0
        if r is None:
            print(json.dumps({"ok": False, "reason": "stats not provable"}))
            return 0
        # grid keys come in SCHEMA dim order; the caller wants them in
        # the REQUESTED group order
        schema_order = [c for c in dim_names if c in {g[0] for g in gspecs}]
        perm = [schema_order.index(c) for c, _w in gspecs]
        rows = []
        for b, acc in sorted(r["buckets"].items()):
            key = b if isinstance(b, tuple) else (b,)
            key = [int(key[i]) for i in perm]
            for kv, (c, w) in zip(key, gspecs):
                if w > 1 and abs(kv) * w >= _FLOOR_SAFE:
                    # SQL's FLOOR(k/width) is double division — beyond
                    # 2^52 it can misround vs exact integer bucketing
                    print(json.dumps(
                        {"ok": False,
                         "reason": "dim beyond float-exact range"}
                    ))
                    return 0
            vals = _extract(reqs, acc["count"], acc["fields"])
            if vals is None:
                print(json.dumps(
                    {"ok": False, "reason": "stats not provable"}
                ))
                return 0
            rows.append([*key, *vals])
        print(json.dumps({"ok": True, "rows": rows}, default=_json_cell))
        return 0

    if a.cmd == "topk":
        # ORDER BY col LIMIT k zone-map bound (topk_array's metadata
        # walk, exposed to the JVM provider's SupportsPushDownTopN):
        # returns a threshold t such that >= k surviving rows provably
        # satisfy col >= t (descending; <= t ascending) — pushed back
        # as an ordinary condition so fragment/tile skip and
        # condition-NED planning all fire.  thr null = not provable
        # (the scan runs unpruned; Spark's TakeOrdered is still exact).
        try:
            col, direction, k = a.topk.split(":")
            be = NativeDecoderBackend(encryption_key=a.encryption_key)
            thr = be.topk_threshold(
                a.uri, col, int(k), ascending=direction == "asc",
                at=a.at, conditions=_parse_conditions(a.conditions),
            )
            print(json.dumps({"ok": True, "thr": thr}, default=_json_cell))
        except Exception as e:  # noqa: BLE001 - bridge boundary
            print(json.dumps({"ok": False, "reason": str(e)}))
        return 0

    if a.cmd == "write":
        # one STAGED fragment per Spark write task (flush_write parity,
        # ha_mytile.cc:3273-3360): JSON lines on stdin, one array per
        # row in schema column order; binary columns ride base64.  The
        # fragment is written commit=False (invisible) — the driver's
        # commitfrags call flips the whole job's group atomically via
        # one .con file (the distributed-consolidation crash contract).
        # Legacy arrays without __commits/ commit per-fragment (that
        # era's visibility rule is directory presence).
        import base64  # noqa: PLC0415
        import os as _os  # noqa: PLC0415

        from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
            write_native_fragment,
        )

        try:
            schema = parse_array_schema(_schema_path(a.uri))
            if schema.array_type == "DENSE":
                raise ValueError(
                    "tiledb_agg write supports SPARSE arrays; dense "
                    "subarray writes go through format('tiledb_native') "
                    "or the catalog (full-box semantics)"
                )
            if any(
                getattr(x, "enumeration", None) in schema.enumerations
                for x in schema.attrs
            ):
                raise ValueError(
                    "tiledb_agg write does not map labels to enumeration "
                    "ordinals; write through the catalog"
                )
            names = [d.name for d in schema.dims] + [
                x.name for x in schema.attrs
            ]
            bin_cols = {
                x.name
                for x in (*schema.dims, *schema.attrs)
                if x.dtype_id in (39, 41)
            }
            cols: dict = {n: [] for n in names}
            for line in sys.stdin:
                line = line.strip()
                if not line:
                    continue
                vals = json.loads(line)
                if len(vals) != len(names):
                    raise ValueError(
                        f"row has {len(vals)} values, want {len(names)}"
                    )
                for n, v in zip(names, vals):
                    if n in bin_cols and v is not None:
                        v = base64.b64decode(v)
                    cols[n].append(v)
            n_rows = len(cols[names[0]]) if names else 0
            if n_rows == 0:
                # empty-write elision: no fragment directory at all
                print(json.dumps({"ok": True, "frag": None}))
                return 0
            staged = _os.path.isdir(_os.path.join(a.uri, "__commits"))
            frag = write_native_fragment(
                a.uri, cols, version=19,
                encryption_key=a.encryption_key,
                commit=not staged,
            )
            print(json.dumps(
                {"ok": True, "frag": _os.path.basename(frag),
                 "staged": staged}
            ))
        except Exception as e:  # noqa: BLE001 - bridge boundary
            print(f"tiledb_agg write bridge: {e}", file=sys.stderr)
            return 3
        return 0

    if a.cmd == "commitfrags":
        # the job-level visibility flip: one .wrt marker for a single
        # fragment, one atomic .con group file for many
        import os as _os  # noqa: PLC0415
        import uuid as _uuid  # noqa: PLC0415

        from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
            _frag_range,
        )
        from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
            _commit_fragment,
            _frag_root,
        )

        try:
            frags = [f for f in json.loads(a.frags or "[]") if f]
            commits = _os.path.join(a.uri, "__commits")
            if not frags or not _os.path.isdir(commits):
                print(json.dumps({"ok": True, "committed": 0}))
                return 0
            if len(frags) == 1:
                _commit_fragment(
                    a.uri, _os.path.join(_frag_root(a.uri), frags[0])
                )
            else:
                rngs = [_frag_range(f) for f in frags]
                t1 = min(r[0] for r in rngs)
                t2 = max(r[1] for r in rngs)
                con = f"__{t1}_{t2}_{_uuid.uuid4().hex}.con"
                # tmp must NOT end in .con: a concurrent reader listing
                # __commits mid-write must never parse a partial group
                tmp = _os.path.join(commits, "." + con + ".tmp")
                with open(tmp, "w") as f:
                    for n in frags:
                        f.write(f"__commits/{n}.wrt\n")
                _os.replace(tmp, _os.path.join(commits, con))
            print(json.dumps({"ok": True, "committed": len(frags)}))
        except Exception as e:  # noqa: BLE001 - bridge boundary
            print(f"tiledb_agg commit bridge: {e}", file=sys.stderr)
            return 3
        return 0

    if a.cmd == "stats":
        # planning statistics for the JVM provider's
        # SupportsReportStatistics (ha_mytile.cc:1424-1468 analog, the
        # records_in_range the server's join planner consumes): exact
        # metadata COUNT when provable, else the R-tree upper-bound
        # estimator; sizeInBytes = max(on-disk bytes of the visible
        # fragments, rows x fixed row width) — a metadata-only figure,
        # never invented, so Spark can choose broadcast joins for
        # genuinely small arrays
        try:
            st = _stats_payload(a)
            if st is None:
                print(json.dumps(
                    {"ok": False, "reason": "no parseable footers"}
                ))
            else:
                print(json.dumps({"ok": True, **st}))
        except Exception as e:  # noqa: BLE001 - bridge boundary
            print(json.dumps({"ok": False, "reason": str(e)}))
        return 0

    if a.cmd == "splits":
        # split plan for the scan (one JVM partition per range — dim0
        # cuts, R-tree weights, string boundary keys, same planner as
        # read_array), intersected with pushed dim ranges and the
        # condition-NED (needle queries launch tasks only where
        # candidate fragments live; [] = provably empty -> zero
        # partitions).  Single unbounded split when bounds aren't
        # JSON-expressible (bytes dims).
        from tiledb_mariadb_spark.sources.tiledb_array import (  # noqa: PLC0415
            plan_splits,
        )

        be = NativeDecoderBackend(encryption_key=a.encryption_key)
        try:
            info = be.info(a.uri, at=a.at)
            conds = _parse_conditions(a.conditions)
            dim_ranges: dict = {}
            if conds:
                schema = parse_array_schema(_schema_path(a.uri))
                dim_ranges, _rest = _fold_dim_ranges(schema, conds)
                cbox = be.condition_ned(a.uri, list(conds), at=a.at)
                if cbox == []:
                    print(json.dumps({"ok": True, "splits": [],
                                      "empty": True}))
                    return 0
                if cbox is not None:
                    for d, (clo, chi) in zip(info.dims, cbox):
                        lo, hi = dim_ranges.get(d.name, (None, None))
                        nlo = clo if lo is None else (
                            lo if clo is None else max(lo, clo))
                        nhi = chi if hi is None else (
                            hi if chi is None else min(hi, chi))
                        dim_ranges[d.name] = (nlo, nhi)
            weights = be.split_weights(a.uri, at=a.at)
            skeys = None
            if not any(
                isinstance(b, int)
                for d in info.dims for b in (d.domain or (None, None))
            ):
                skeys = be.string_split_keys(a.uri, at=a.at)
            # size the task count by the metadata UPPER BOUND on
            # matching cells (narrowed by pushed ranges + the
            # condition-NED): a needle/top-k query plans one task, a
            # full scan keeps target_splits — an upper bound can only
            # over-parallelize, never starve a real scan
            target = a.target_splits
            if dim_ranges:
                from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
                    estimate_range_cells,
                )

                try:
                    rlist = [
                        tuple(dim_ranges.get(d.name, (None, None)))
                        for d in info.dims
                    ]
                    est = estimate_range_cells(a.uri, rlist, at=a.at)
                    if est is not None:
                        target = max(
                            1, min(target, -(-est // 262144))
                        )
                except (OSError, ValueError):
                    pass
            splits = plan_splits(
                info, dim_ranges or None, target,
                weights=weights, string_keys=skeys,
            )
            out = [[list(r) for r in s] for s in splits]
            try:  # piggyback planning stats: one spawn serves both
                st = _stats_payload(a)
            except Exception:  # noqa: BLE001 - stats are optional here
                st = None
            print(json.dumps(
                {"ok": True, "splits": out, "stats": st},
                default=_json_cell,
            ))
        except (Exception, TypeError):  # noqa: BLE001 - bridge boundary
            print(json.dumps({"ok": True, "splits": [None]}))
        return 0

    # rows: the honest (split-parallel) scan fallback — pushed
    # conditions applied EXACTLY, projection pruned, emitted as Arrow
    # IPC (whole columns, not per-cell values).  The NUMPY-ONLY path
    # runs first: this process is spawned PER PARTITION, and importing
    # pandas costs ~0.5 s per spawn — more than decoding the split
    # itself.  Only shapes outside the columnar fast path pay the
    # pandas path.
    try:
        be = NativeDecoderBackend(encryption_key=a.encryption_key)
        info = be.info(a.uri, at=a.at)
        allcols = [x.name for x in list(info.dims) + list(info.attrs)]
        want = (
            json.loads(a.columns)
            if a.columns and a.columns != "null"
            else allcols
        )
        rng = None
        if a.ranges and a.ranges != "null":
            rng = [tuple(r) for r in json.loads(a.ranges)]
        else:
            rng = [(None, None)] * len(info.dims)
        conds = _parse_conditions(a.conditions)
        if _rows_numpy(a, info, want, rng, conds):
            return 0
        pdf = be.read_range(
            a.uri, rng, want, at=a.at,
            conditions=conds,
        )
        if a.limit is not None and a.limit >= 0:
            pdf = pdf.head(a.limit)
    except Exception as e:  # noqa: BLE001 - bridge boundary
        print(f"tiledb_agg rows bridge: {e}", file=sys.stderr)
        return 3
    import pyarrow as pa  # noqa: PLC0415

    _PA = _arrow_types()
    ddl = {x.name: x.dtype for x in list(info.dims) + list(info.attrs)}
    if not len(pdf.columns):
        tbl = _zero_column_table(len(pdf))
    elif all(ddl.get(c) in _PA for c in pdf.columns):
        # EXPLICIT Arrow schema from the array schema (never pandas
        # inference): the physical types must equal the declared Spark
        # types — and explicit int64 construction keeps nullable
        # bigints exact (no float64 detour)
        tbl = pa.Table.from_pandas(
            pdf,
            schema=pa.schema([pa.field(c, _PA[ddl[c]]) for c in pdf.columns]),
            preserve_index=False,
        )
    else:  # exotic column types: inference
        tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    _emit_arrow(tbl)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
