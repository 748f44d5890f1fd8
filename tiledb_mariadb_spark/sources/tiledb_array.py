"""TileDB array ⇄ DataFrame connector.

The reference exposes TileDB arrays to SQL through the MariaDB handler
(open → subarray build → columnar batched reads, ha_mytile.cc:804-925,
1470-1529, 1621-1699).  This module is the Spark-native counterpart:

- **Split planning on the driver** — the array's non-empty domain is cut
  into contiguous per-dimension coordinate ranges (the analog of TileDB
  tile/fragment boundaries); each split becomes one Spark task.  Caller
  dimension predicates (``dim_ranges``) are intersected with the splits
  *before* launch, so pruned splits never become tasks at all — the same
  effect as the reference's subarray pruning (mytile-range.cc:1189-1358),
  expressed as Spark partition planning.
- **Executor-side reads** — each task opens the array independently and
  reads only its subarray with only the requested attributes
  (``mapInPandas``: TileDB's columnar buffers land in Arrow batches with
  no row pivot — eliminating the reference's tileToFields row conversion,
  ha_mytile.cc:3122-3156).
- **Time travel** — ``at=<unix-millis>`` opens the array at a timestamp
  (open_at parity, ha_mytile.cc:3440-3455).
- **Writes** — each input partition writes an independent TileDB fragment
  (TileDB's concurrency model needs no coordination between writers),
  the distributed generalization of the reference's bulk write path
  (ha_mytile.cc:3260-3360).

The TileDB I/O sits behind :class:`ArrayBackend`.  The default,
:class:`NativeDecoderBackend`, reads and writes the on-disk format through
the package's own decoder and writer (no libtiledb);
:class:`FragmentDirBackend` serves parquet fragment directories, and
tests substitute their own backends through the same interface.
"""

from __future__ import annotations

from dataclasses import dataclass
from dataclasses import field as dc_field
from typing import Any, Iterator, Optional, Sequence

# NOTE: no module-level pyspark import — every DataFrame/SparkSession
# reference below is annotation-only (PEP 563 via the future import) or
# a method on a caller-passed session.  The jvm_bridge subprocess
# imports this module per partition; pyspark would tax each spawn.

@dataclass(frozen=True)
class DimInfo:
    name: str
    dtype: str  # Spark DDL type
    domain: tuple[Any, Any]  # inclusive non-empty domain


@dataclass(frozen=True)
class AttrInfo:
    name: str
    dtype: str
    nullable: bool = True


@dataclass(frozen=True)
class ArrayInfo:
    dims: list[DimInfo]
    attrs: list[AttrInfo]
    sparse: bool = True
    # optional CREATE options forwarded to the native schema writer:
    # per-field "filters.<col>" DDL CSVs, the coordinate/offset/
    # validity_filters table options, compressor, string_compressor
    options: dict = dc_field(default_factory=dict)


class ArrayBackend:
    """Minimal array I/O the connector needs; one method pair.

    ``read_range`` returns a pandas DataFrame of all cells whose
    coordinates fall inside the inclusive per-dimension ``ranges``
    (None bound = unbounded), restricted to ``columns``, further filtered
    by ``conditions`` — attribute predicates pushed into the backend (the
    QueryCondition analog, mytile/mytile.cc condition pushdown +
    t/query_conditions.test).  Each condition is ``(col, op, value)``
    with op in {'=', '!=', '<', '<=', '>', '>=', 'is_null',
    'is_not_null'}; conditions AND together.
    """

    def info(self, uri: str, at: Optional[int] = None) -> ArrayInfo:
        raise NotImplementedError

    def read_range(
        self,
        uri: str,
        ranges: Sequence[tuple[Any, Any]],
        columns: Sequence[str],
        at: Optional[int] = None,
        conditions: Optional[Sequence[tuple]] = None,
        since: Optional[int] = None,
    ):
        """``since``/``at`` bound the TIME WINDOW (TileDB
        timestamp_start/timestamp_end, both inclusive unix millis): the
        read sees only writes whose timestamps lie inside it.  Part of
        the interface so every backend accepts the kwarg — read_array
        forwards it from its own ``since=`` (CDC window reads), and a
        backend lacking real window support must raise, not TypeError
        inside executor tasks (round-7 advisor finding)."""
        raise NotImplementedError

    def write(self, uri: str, pdf, sparse: bool = True) -> None:
        raise NotImplementedError


def _apply_conditions(pdf, conditions: Optional[Sequence[tuple]]):
    """Shared pandas-side evaluator for pushed attribute conditions
    (NULL-safe 3VL: a comparison with NULL never matches, like the
    reference's QueryCondition)."""
    if not conditions:
        return pdf
    for col, op, *rest in conditions:
        s = pdf[col]
        if op == "is_null":
            mask = s.isna()
        elif op == "is_not_null":
            mask = s.notna()
        else:
            val = rest[0]
            if op == "in":  # pushed attr IN-list (MRR's attr twin)
                cmp = s.isin(list(val))
            else:
                cmp = {
                    "=": s == val,
                    "!=": s != val,
                    "<": s < val,
                    "<=": s <= val,
                    ">": s > val,
                    ">=": s >= val,
                }[op]
            mask = s.notna() & cmp
        pdf = pdf[mask]
    return pdf.reset_index(drop=True)


class NativeDecoderBackend(ArrayBackend):
    """Backend over real on-disk TileDB arrays via the pure-Python format
    decoder (sources/tiledb_native.py) — no libtiledb.  This is what
    makes the connector EXECUTE against the reference's own committed
    arrays in this container: schema comes from the on-disk blob
    (discovery), fragments decode byte-exact, ``at`` filters fragments by
    start timestamp (open_at parity).  Since round 4 it also WRITES:
    ``create`` emits a native schema blob and ``write`` appends a real
    native-format fragment (sources/tiledb_native_write.py), closing the
    reference's write path (ha_mytile.cc:3158-3360) without the wheel.

    Scale shape: instances are stateless and pickle into executor tasks.
    Since round 4 each task performs a true SUB-FRAGMENT read
    (read_native_array_range): the chunk-extent index is walked with
    header seeks only, and just the chunks covering the task's cell span
    are read + decompressed, with projection pushed into the decoder —
    per-task I/O and decode are O(split), not O(fragment).  Sparse
    fragments decode their coordinate columns first to locate the span
    (the same coords-first order libtiledb's sparse reader uses).

    ``encryption_key`` (AES-256-GCM, the reference's per-table
    encryption_key option, ha_mytile.cc:75,792-795) pickles with the
    instance into every task, which registers it process-locally before
    touching the array — the key rides the closure, never the disk."""

    def __init__(self, encryption_key=None) -> None:
        from tiledb_mariadb_spark.operators.encryption import (  # noqa: PLC0415
            normalize_key,
        )

        self._key = (
            normalize_key(encryption_key) if encryption_key is not None
            else None
        )

    def _reg(self, uri: str) -> None:
        """Register this backend's key for ``uri`` in THIS process (each
        executor task re-runs it; open_encryption then validates)."""
        if self._key is not None:
            from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
                open_encryption,
            )

            open_encryption(uri, self._key)

    def info(self, uri: str, at: Optional[int] = None) -> ArrayInfo:
        self._reg(uri)
        import os  # noqa: PLC0415

        from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
            _DT,
            _SPARK_TYPE,
            _fragment_dirs,
            parse_array_schema,
            parse_fragment_footer,
            _schema_path,
        )

        s = parse_array_schema(_schema_path(uri))
        # Narrow each dim's planning domain to the union of the committed
        # fragments' VALIDATED footer domains: splits then cover only
        # where data actually lives (non-empty-domain parity with the
        # reference's setup_range fill, mytile-range.h:108-192).  Any
        # fragment without a trusted footer vetoes the narrowing.
        footers = []
        for frag in _fragment_dirs(uri, at=at):
            fm = os.path.join(frag, "__fragment_metadata.tdb")
            footers.append(parse_fragment_footer(fm, s))
        narrowed: list = [None] * len(s.dims)
        if footers and all(f is not None for f in footers):
            for i in range(len(s.dims)):
                doms = [f.non_empty_domain[i] for f in footers]
                if all(d is not None for d in doms):
                    narrowed[i] = (
                        min(d[0] for d in doms), max(d[1] for d in doms)
                    )
        dims = []
        for i, d in enumerate(s.dims):
            dom = narrowed[i] or (tuple(d.domain) if d.domain else (None, None))
            # uint64 domains arrive as python ints; keep ints for planning
            dims.append(
                DimInfo(
                    name=d.name,
                    dtype=_SPARK_TYPE.get(d.dtype_id, "bigint"),
                    domain=dom,
                )
            )
        def _attr_ddl(a):
            # an enumerated attr READS as its labels (ENUM column parity,
            # t/enum.test) — its Spark type is string, and label
            # predicates push down unchanged since the decoder already
            # serves labels
            if getattr(a, "enumeration", None) in s.enumerations:
                return "string"
            base = _SPARK_TYPE.get(a.dtype_id, "bigint")
            # fixed multi-value cells (cell_val_num k, 1 < k < VAR) read
            # as arrays — except fixed-width char cells, which decode to
            # one string (schema.py multi-value parity)
            if (
                a.cell_val_num not in (1, 0xFFFFFFFF)
                and a.dtype_id not in (4, 11, 12)
            ):
                return f"array<{base}>"
            return base

        attrs = [
            AttrInfo(name=a.name, dtype=_attr_ddl(a), nullable=a.nullable)
            for a in s.attrs
        ]
        _ = _DT  # imported for typing parity; silence linters
        return ArrayInfo(dims=dims, attrs=attrs, sparse=s.array_type == "SPARSE")

    def read_range(self, uri, ranges, columns, at=None, conditions=None,
                   frags=None, since=None):
        import pandas as pd  # noqa: PLC0415

        from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
            read_native_array_range,
            read_native_array_range_np,
        )

        self._reg(uri)

        # range + projection push INTO the decoder: only the chunks
        # covering this split's cell span are read and decompressed
        # (read_byte_span), so per-task work is O(split) not O(fragment)
        need = set(columns) | {c[0] for c in conditions or []}
        # columnar fast path first: numeric single-dim sparse arrays come
        # back as whole numpy columns (no per-cell python work); None =
        # shape outside the fast path, identical row-path semantics
        fast = read_native_array_range_np(
            uri, ranges=list(ranges), columns=list(need), at=at,
            prune_conditions=list(conditions) if conditions else None,
            frags=frags, since=since,
        )
        if fast is not None:
            names, arrays = fast
            pdf = pd.DataFrame({nm: arrays[nm] for nm in names})
        else:
            names, rows = read_native_array_range(
                uri, ranges=list(ranges), columns=list(need), at=at,
                # conditions double as fragment-skip PROOFS: a v11+
                # fragment whose min/max stats refute a conjunct decodes
                # zero chunks (the filter below applies to whatever read)
                prune_conditions=list(conditions) if conditions else None,
                frags=frags, since=since,
            )
            pdf = pd.DataFrame(rows, columns=names)
            # Nullable-integral exactness: pandas infers float64 for an
            # int column containing None, silently corrupting int64
            # values >= 2^53 (2^53+1 -> 2^53).  Rebuild any such column
            # from the RAW row values as a pandas masked Int* array —
            # exact end-to-end (Arrow maps it to int64+validity, the
            # explicit-schema RecordBatch cast is then a no-op).
            _PD_INT = {
                "bigint": "Int64", "int": "Int32",
                "smallint": "Int16", "tinyint": "Int8",
            }
            if len(rows):
                idx = {nm: i for i, nm in enumerate(names)}
                try:
                    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
                        _SPARK_TYPE,
                        parse_array_schema,
                        _schema_path,
                    )

                    sch = parse_array_schema(_schema_path(uri))
                    for a in sch.attrs:
                        nm = a.name
                        pd_dt = _PD_INT.get(_SPARK_TYPE.get(a.dtype_id))
                        if (
                            a.nullable and pd_dt and nm in idx
                            and a.cell_val_num == 1
                            and pdf[nm].dtype == "float64"
                        ):
                            pdf[nm] = pd.array(
                                [r[idx[nm]] for r in rows], dtype=pd_dt
                            )
                except (OSError, ValueError, KeyError):
                    pass  # schema unreadable: keep the inferred frame
        out = _apply_conditions(pdf, conditions)
        cols = [c for c in columns if c in out.columns]
        if len(out) == 0:
            return pd.DataFrame({c: [] for c in cols})
        return out[cols].reset_index(drop=True)

    def create(self, uri: str, info: ArrayInfo) -> None:
        from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
            array_info_to_native,
            create_native_array,
        )

        dims, attrs = array_info_to_native(info.dims, info.attrs)
        opts = info.options or {}
        # per-field filters= DDL CSVs (the reference's column option)
        for f in (*dims, *attrs):
            csv = opts.get(f"filters.{f.name}")
            if csv:
                f.filters = csv  # create_native_array parses the CSV
        create_native_array(
            uri, dims, attrs,
            array_type="SPARSE" if info.sparse else "DENSE",
            # zstd = TileDB's real default pipeline; also the fast codec
            # here (pyarrow's C zstd beats zlib on both encode + decode)
            compressor=opts.get("compressor", "zstd"),
            string_compressor=opts.get("string_compressor"),
            coordinate_filters=opts.get("coordinate_filters"),
            offset_filters=opts.get("offset_filters"),
            validity_filters=opts.get("validity_filters"),
            bloom_attrs=[
                b for b in str(opts.get("bloom", "")).split(",") if b
            ] or None,
            encryption_key=self._key,
        )

    def split_weights(self, uri: str, at: Optional[int] = None):
        """Per-tile (dim0_lo, dim0_hi, cells) from footers + R-tree leaf
        MBRs — a metadata-only data-distribution sketch that lets
        plan_splits cut at cell-count quantiles (balanced tasks on
        skewed coordinates).  None = unavailable; planner falls back to
        uniform spans."""
        from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
            dim0_tile_weights,
        )

        try:
            self._reg(uri)
            return dim0_tile_weights(uri, at=at)
        except (OSError, ValueError):
            return None

    def window_ned(self, uri, since=None, at=None):
        """Union bounding box of the fragments visible in [since, at]
        — metadata only; None = not provable, [] = empty window."""
        from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
            window_ned,
        )

        try:
            self._reg(uri)
            return window_ned(uri, since=since, at=at)
        except (OSError, ValueError):
            return None

    def condition_ned(self, uri, conditions, at=None, since=None):
        """Union bounding box of the fragments the pushed conditions
        cannot skip — metadata only; None = not provable, [] = every
        fragment refuted (empty result)."""
        from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
            condition_ned,
        )

        try:
            self._reg(uri)
            return condition_ned(uri, conditions, at=at, since=since)
        except (OSError, ValueError):
            return None

    def topk_threshold(self, uri, col, k, ascending=False, at=None,
                       since=None, conditions=None):
        """Metadata-only ORDER-BY-LIMIT bound from fragment stats —
        None = not provable; the caller scans unpruned (always
        correct).  With ``conditions``, only fragments whose EVERY row
        provably passes them count toward the guarantee (stats-satisfy
        proof), so the bound stays valid under the residual filter."""
        from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
            topk_threshold,
        )

        try:
            self._reg(uri)
            return topk_threshold(
                uri, col, k, ascending=ascending, at=at, since=since,
                conditions=list(conditions) if conditions else None,
            )
        except (OSError, ValueError):
            return None

    def string_split_keys(self, uri, at=None, since=None):
        """Candidate split cut keys for a var-length dim0 (fragment
        var-NED boundaries, metadata only) — [] when unavailable; the
        planner then keeps the single-split fallback."""
        from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
            string_dim_split_keys,
        )

        try:
            self._reg(uri)
            return string_dim_split_keys(uri, at=at, since=since)
        except (OSError, ValueError):
            return []

    def write(self, uri, pdf, sparse=True, ts=None):
        import pandas as pd  # noqa: PLC0415

        from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
            parse_array_schema,
            _schema_path,
        )
        from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
            write_native_fragment,
        )

        def clean(v):
            if isinstance(v, (list, tuple)) or hasattr(v, "__len__") and not isinstance(v, (str, bytes)):
                return list(v)
            return None if pd.isna(v) else v

        def col_vals(s):
            # numeric null-free columns pass through as numpy arrays —
            # the writer is ndarray-native end-to-end (round 6), and the
            # per-cell clean() loop (pd.isna per value) dominated
            # distributed write tasks
            import numpy as np  # noqa: PLC0415

            arr = s.to_numpy()
            if arr.dtype.kind in "iub":
                return arr
            if arr.dtype.kind == "f" and not np.isnan(arr).any():
                return arr
            if arr.dtype.kind == "O":
                # all-string / all-bytes columns (clean() is the identity
                # there apart from NA→None): one vectorized isna mask
                # instead of a per-cell pd.isna + isinstance cascade.
                # infer_dtype returns "mixed" for list-like cells and
                # "empty" for all-NA columns — both keep the loop below.
                from pandas.api.types import infer_dtype  # noqa: PLC0415

                if infer_dtype(s, skipna=True) in ("string", "bytes"):
                    mask = s.isna().to_numpy()
                    if not mask.any():
                        return arr
                    out = arr.copy()
                    out[mask] = None
                    return out
                # LIST-valued cells (multi-value / vector attrs, round
                # 10): equal-length numeric lists stack into ONE 2-D
                # ndarray — the packer's vectorized 2-D path — instead
                # of a per-cell clean() copy.  np.asarray yields a 2-D
                # numeric array ONLY when every cell is a same-length
                # numeric sequence (ragged input → object array, a None
                # or string cell → object/str dtype), so anything the
                # stack cannot represent exactly falls through to the
                # exact loop, values untouched either way.
                if len(arr) and isinstance(
                    arr[0], (list, tuple)
                ) or (len(arr) and hasattr(arr[0], "__len__")
                      and not isinstance(arr[0], (str, bytes))):
                    try:
                        stacked = np.asarray(list(arr))
                        if (
                            stacked.ndim == 2
                            and stacked.dtype.kind in "iuf"
                        ):
                            return stacked
                    except (ValueError, TypeError):
                        pass
            return [clean(v) for v in s]

        self._reg(uri)
        schema = parse_array_schema(_schema_path(uri))
        names = [d.name for d in schema.dims] + [a.name for a in schema.attrs]
        cols = {
            n: col_vals(pdf[n]) for n in names if n in pdf.columns
        }  # dense writes carry attrs only; the writer validates the rest
        # every connector-written fragment emits the MODERN (v19)
        # layout — sparse AND (since round 6) dense — so it serves
        # metadata-only aggregates and attribute pruning
        write_native_fragment(uri, cols, ts=ts, version=19)

    def delete(self, uri, conditions, ts=None) -> str:
        """DELETE WHERE as a commit-level artifact: O(1) regardless of
        array size — no fragment rewritten, every subsequent read filters
        through the recorded predicate (``conditions`` is the same
        (col, op, value) AND-list ``read_range`` pushes down).  The
        physical purge happens at the next consolidate+vacuum."""
        from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
            write_delete_condition,
        )

        self._reg(uri)
        return write_delete_condition(uri, conditions, ts=ts)


class FragmentDirBackend(ArrayBackend):
    """Filesystem-fragment fake: each write lands as an independent parquet
    fragment file under ``uri/`` (literally TileDB's fragment model), the
    schema lives in ``_info.json``.  Stateless instances pickle into
    executor tasks and all I/O goes through the shared filesystem — the
    same topology as real TileDB on shared storage — so the connector's
    full read/write paths run (and are observable) without libtiledb."""

    INFO = "_info.json"

    def create(self, uri: str, info: ArrayInfo) -> None:
        import json  # noqa: PLC0415
        import os  # noqa: PLC0415

        os.makedirs(uri, exist_ok=True)
        with open(os.path.join(uri, self.INFO), "w") as f:
            json.dump(
                {
                    "dims": [[d.name, d.dtype, list(d.domain)] for d in info.dims],
                    "attrs": [[a.name, a.dtype, a.nullable] for a in info.attrs],
                    "sparse": info.sparse,
                },
                f,
            )

    def info(self, uri, at=None):
        import json  # noqa: PLC0415
        import os  # noqa: PLC0415

        with open(os.path.join(uri, self.INFO)) as f:
            raw = json.load(f)
        return ArrayInfo(
            dims=[DimInfo(n, t, (d[0], d[1])) for n, t, d in raw["dims"]],
            attrs=[AttrInfo(n, t, nu) for n, t, nu in raw["attrs"]],
            sparse=raw["sparse"],
        )

    def _fragments(self, uri, at, since=None):
        import glob  # noqa: PLC0415
        import os  # noqa: PLC0415

        out = []
        for p in sorted(glob.glob(os.path.join(uri, "frag_*.parquet"))):
            ts = int(os.path.basename(p).split("_")[1])
            if (at is None or ts <= at) and (since is None or ts >= since):
                out.append(p)
        return out

    def read_range(
        self, uri, ranges, columns, at=None, conditions=None, since=None
    ):
        import pandas as pd  # noqa: PLC0415

        info = self.info(uri)
        frags = self._fragments(uri, at, since=since)
        if not frags:
            return pd.DataFrame({c: [] for c in columns})
        pdf = pd.concat([pd.read_parquet(p) for p in frags], ignore_index=True)
        mask = None
        for d, (lo, hi) in zip(info.dims, ranges):
            m = pdf[d.name].notna()
            if lo is not None:
                m &= pdf[d.name] >= lo
            if hi is not None:
                m &= pdf[d.name] <= hi
            mask = m if mask is None else (mask & m)
        out = pdf if mask is None else pdf[mask]
        out = _apply_conditions(out, conditions)
        return out[list(columns)].reset_index(drop=True)

    def write(self, uri, pdf, sparse=True, ts: int = 0):
        import os  # noqa: PLC0415
        import uuid  # noqa: PLC0415

        pdf.to_parquet(os.path.join(uri, f"frag_{ts}_{uuid.uuid4().hex[:8]}.parquet"))


# --- split planning ---------------------------------------------------------


def _intersect(
    a: tuple[Any, Any], b: Optional[tuple[Any, Any]]
) -> Optional[tuple[Any, Any]]:
    """Inclusive intersection; None bound = unbounded; None result = empty."""
    if b is None:
        return a
    lo = a[0] if b[0] is None else (b[0] if a[0] is None else max(a[0], b[0]))
    hi = a[1] if b[1] is None else (b[1] if a[1] is None else min(a[1], b[1]))
    if lo is not None and hi is not None and lo > hi:
        return None
    return (lo, hi)


def merge_ranges(
    ranges: list[tuple[Any, Any]],
) -> list[tuple[Any, Any]]:
    """Sort + coalesce overlapping/adjacent inclusive ranges — the
    reference's multi-range dedupe/merge (mytile-range.cc:647-730,
    mytile-range.h:220-300).  Adjacent integer ranges (hi+1 == next lo)
    merge too."""
    norm = [r for r in ranges if r is not None]
    if not norm:
        return []
    norm.sort(key=lambda r: (r[0], r[1]))
    out = [norm[0]]
    for lo, hi in norm[1:]:
        plo, phi = out[-1]
        adjacent = (
            isinstance(hi, int) and isinstance(phi, int) and lo <= phi + 1
        )
        if lo <= phi or adjacent:
            out[-1] = (plo, max(phi, hi))
        else:
            out.append((lo, hi))
    return out


def _quantile_cuts(
    piece: tuple[int, int], weights: list, n: int
) -> list[int]:
    """Cut coordinates splitting ``piece`` into ``n`` sub-ranges of
    roughly EQUAL CELL COUNT, from per-tile (lo, hi, cells) weights —
    each tile's cells spread uniformly over its own range (exactly how
    libtiledb's est_result_size apportions partial tile overlap).
    Returns n-1 ascending cut coords c: sub-ranges are [lo,c1],
    [c1+1,c2], ..., [c_{n-1}+1,hi] — coverage of the piece is exact by
    construction regardless of weight quality."""
    lo, hi = piece
    segs = []  # (s, e, density) clipped to the piece
    for t_lo, t_hi, cells in weights:
        s, e = max(t_lo, lo), min(t_hi, hi)
        if s > e or cells <= 0:
            continue
        segs.append((s, e, cells * (e - s + 1) / (t_hi - t_lo + 1) / (e - s + 1)))
    if not segs:
        return []
    # elementary intervals between breakpoints, summed density per span
    points = sorted({lo, hi + 1} | {s for s, _e, _d in segs}
                    | {e + 1 for _s, e, _d in segs})
    spans = []  # (start, end_inclusive, weight_of_span)
    total = 0.0
    for a, b in zip(points, points[1:]):
        dens = sum(d for s, e, d in segs if s <= a and b - 1 <= e)
        w = dens * (b - a)
        spans.append((a, b - 1, w))
        total += w
    if total <= 0:
        return []
    cuts, acc, k = [], 0.0, 1
    for a, b, w in spans:
        while k < n and w > 0 and acc + w >= k * total / n:
            frac = (k * total / n - acc) / w
            c = min(b, max(a, a + int(frac * (b - a + 1)) - 1))
            if not cuts or c > cuts[-1]:
                if c < hi:  # the last sub-range must be non-empty
                    cuts.append(c)
            k += 1
        acc += w
    return cuts


def _seed_partitions(spark, n: int, colname: str = "split_id",
                     num_partitions: Optional[int] = None):
    """Task-seed DataFrame: ``n`` rows spread over ``num_partitions``
    (default ``n``) contiguous balanced partitions with NO shuffle.
    ``spark.range(n, numPartitions=n)`` assigns row ``i`` to partition
    ``i`` (contiguous unit slices), so every split becomes exactly one
    task.  The old ``createDataFrame(...).repartition(n, col)`` seed
    paid an Exchange per scan AND hash-partitioning collisions
    routinely stacked two splits on one task while leaving others
    empty — a built-in straggler on every distributed array
    read/write."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    return spark.range(n, numPartitions=num_partitions or n).select(
        F.col("id").cast("int").alias(colname)
    )


def plan_splits(
    info: ArrayInfo,
    dim_ranges: Optional[dict[str, Any]] = None,
    target_splits: int = 32,
    weights: Optional[list] = None,
    string_keys: Optional[list] = None,
) -> list[list[tuple[Any, Any]]]:
    """Cut the (predicate-narrowed) domain of the first integer-typed
    dimension into ≤ ``target_splits`` contiguous ranges; other dimensions
    ride along as whole (narrowed) ranges.  Splitting one axis is exactly
    how the reference parallelizes inside libtiledb (row-major tile order);
    here each range is an independent Spark task, so read parallelism
    scales with the cluster, not with one server thread.

    ``dim_ranges[dim]`` is an inclusive ``(lo, hi)`` — or a LIST of them
    (the multi-range/IN pushdown, MRR parity): ranges are merged
    (mytile-range.cc:647-730) and the split axis emits splits per merged
    range, so the holes between IN values are never scanned at all.

    Returns [] when a predicate empties the domain (nothing to scan).

    BOUNDARY: the split axis is the first INTEGER dim.  An array whose
    dims are all var-length (string/bytes) is cut on dim0 at the
    caller-supplied ``string_keys`` (round 7 — fragment var-NED
    boundaries from ``string_dim_split_keys``): inclusive ranges stay
    perfectly disjoint-and-covering because the successor of key ``k``
    in lexicographic order is ``k + "\\0"`` — nothing sorts strictly
    between them — so per-task newest-wins dedup over a key range is
    exactly as correct as on integer axes.  Without ``string_keys``
    (no parseable footers, mixed eras) such arrays yield ONE split, the
    pre-round-7 behavior.
    """
    dim_ranges = dim_ranges or {}

    def _pieces(d) -> list:
        req = dim_ranges.get(d.name)
        if req is None or isinstance(req, tuple):
            r = _intersect(d.domain, req)
            return [r] if r is not None else []
        merged = merge_ranges(list(req))
        out = []
        for sub in merged:
            r = _intersect(d.domain, sub)
            if r is not None:
                out.append(r)
        return out

    per_dim = [_pieces(d) for d in info.dims]
    if any(not p for p in per_dim):
        return []
    # multi-range applies on the split axis; other dims take the convex
    # hull of their pieces (cells between their IN values are filtered
    # by Spark's residual predicate)
    split_axis = None
    for i, d in enumerate(info.dims):
        lo, hi = per_dim[i][0]
        if isinstance(lo, int) and isinstance(hi, int):
            split_axis = i
            break
    narrowed: list[tuple[Any, Any]] = []
    for i, pieces in enumerate(per_dim):
        if i == split_axis:
            narrowed.append(pieces[0])  # placeholder, replaced below
        else:
            narrowed.append((pieces[0][0], pieces[-1][1]))
    if split_axis is None:
        if string_keys and len(per_dim[0]) == 1:
            lo0, hi0 = per_dim[0][0]
            cuts = sorted({
                k for k in string_keys
                if (lo0 is None or k >= lo0) and (hi0 is None or k < hi0)
            })
            if len(cuts) > max(1, target_splits) - 1:
                # thin evenly to ≤ target_splits-1 cut points
                step = -(-len(cuts) // (max(1, target_splits) - 1))
                cuts = cuts[step - 1::step]
            if cuts:
                succ = (
                    (lambda k: k + "\0") if isinstance(cuts[0], str)
                    else (lambda k: k + b"\0")
                )
                splits0 = []
                start = lo0
                for k in cuts:
                    s = list(narrowed)
                    s[0] = (start, k)
                    splits0.append(s)
                    start = succ(k)
                s = list(narrowed)
                s[0] = (start, hi0)
                splits0.append(s)
                return splits0
        return [list(narrowed)]

    axis_pieces = per_dim[split_axis]
    total_span = sum(hi - lo + 1 for lo, hi in axis_pieces)
    n = max(1, min(target_splits, total_span))
    splits = []

    def _emit(lo, hi, bounds):
        start = lo
        for c in bounds + [hi]:
            end = min(c, hi)
            if end < start:
                continue
            s = list(narrowed)
            s[split_axis] = (start, end)
            splits.append(s)
            start = end + 1

    use_weights = weights and split_axis == 0
    if use_weights:
        # R-tree-weighted planning: cuts at CELL-COUNT quantiles, so
        # skewed coordinate distributions still yield balanced tasks
        # (uniform-span cuts put 90% of a clustered table in one task).
        def _piece_weight(p):
            lo, hi = p
            return sum(
                c * (min(hi, e) - max(lo, s) + 1) / (e - s + 1)
                for s, e, c in weights
                if s <= hi and e >= lo
            )

        pw = [_piece_weight(p) for p in axis_pieces]
        total_w = sum(pw)
        if total_w <= 0:
            use_weights = False
        else:
            for (lo, hi), w in zip(axis_pieces, pw):
                n_p = max(1, min(round(n * w / total_w), hi - lo + 1))
                _emit(lo, hi, _quantile_cuts((lo, hi), weights, n_p))
    if not use_weights:
        step = -(-total_span // n)  # ceil
        for lo, hi in axis_pieces:
            start = lo
            while start <= hi:
                end = min(start + step - 1, hi)
                s = list(narrowed)
                s[split_axis] = (start, end)
                splits.append(s)
                start = end + 1
    return splits


# --- the connector ----------------------------------------------------------


def read_array(
    spark: SparkSession,
    uri: str,
    backend: Optional[ArrayBackend] = None,
    columns: Optional[list[str]] = None,
    dim_ranges: Optional[dict[str, tuple[Any, Any]]] = None,
    at: Optional[int] = None,
    target_splits: int = 32,
    conditions: Optional[Sequence[tuple]] = None,
    encryption_key: Optional[Any] = None,
    since: Optional[int] = None,
) -> DataFrame:
    """Distributed scan of a TileDB array as a DataFrame.

    ``dim_ranges``: inclusive per-dimension coordinate bounds pushed into
    the scan (splits outside them are pruned on the driver; inside each
    task the backend reads only its subarray).  ``columns``: projection
    pushdown (dims are always read, matching the reference's
    dims-always-materialized rule, ha_mytile.cc:3013-3022 — they are the
    coordinates).  ``at``: unix-millis time travel.  ``conditions``:
    attribute predicates pushed INTO the backend (QueryCondition analog,
    t/query_conditions.test) — each is ``(col, op[, value])``, ANDed;
    rows are filtered before they cross the backend→Arrow boundary.

    Default backend: libtiledb when the wheel exists, else the
    pure-Python format decoder (read-only) — so a bare on-disk array is
    scannable either way.  ``encryption_key`` opens AES-256-GCM arrays
    (the reference's per-table encryption_key option); it travels inside
    the pickled backend to every task, never to disk.
    """
    if encryption_key is not None and backend is not None:
        raise ValueError(
            "pass encryption_key to the backend constructor when "
            "supplying an explicit backend"
        )
    backend = backend or NativeDecoderBackend(encryption_key=encryption_key)
    if since is not None:
        # vacuum hazard (windowed sibling of the diff_arrays guard): a
        # consolidated fragment straddling the window start is excluded
        # by the since gate — if its in-window originals were vacuumed,
        # this read would silently LOSE their rows.  Fail loudly.
        from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
            window_destroyed,
        )

        try:
            destroyed = window_destroyed(uri, since)
        except OSError:
            destroyed = False  # non-native layout: backend semantics
        if destroyed:
            raise ValueError(
                f"read_array: the CDC window starting at since={since} "
                "was destroyed by consolidation + vacuum (a consolidated "
                "fragment straddles it and its in-window originals are "
                "gone); rows would be silently lost"
            )
    info = backend.info(uri, at=at)
    dim_names = [d.name for d in info.dims]
    attr_names = [a.name for a in info.attrs]
    if columns is None:
        cols = dim_names + attr_names
    else:
        unknown = [c for c in columns if c not in dim_names + attr_names]
        if unknown:
            raise ValueError(f"unknown columns: {unknown}")
        cols = dim_names + [c for c in attr_names if c in columns]
    _OPS = {"=", "!=", "<", "<=", ">", ">=", "in", "is_null",
            "is_not_null"}
    for cond in conditions or []:
        col, op = cond[0], cond[1]
        if col not in dim_names + attr_names:
            raise ValueError(f"unknown condition column: {col}")
        if op not in _OPS:
            raise ValueError(f"unknown condition op: {op}")

    if since is not None:
        # WINDOW-aware planning: a narrow CDC window's fragments cover
        # a sliver of the domain — intersect the scan with their union
        # bounding box (metadata-only) so tasks launch only there
        wfn = getattr(backend, "window_ned", None)
        wbox = wfn(uri, since=since, at=at) if wfn else None
        if wbox == []:
            ddl0 = ", ".join(
                f"{c} "
                f"{next(x.dtype for x in info.dims + info.attrs if x.name == c)}"
                for c in cols
            )
            return spark.createDataFrame([], schema=ddl0)
        if wbox is not None:
            merged = dict(dim_ranges or {})
            for d, (wlo, whi) in zip(info.dims, wbox):
                cur = merged.get(d.name)
                if cur is None:
                    merged[d.name] = (wlo, whi)
                elif isinstance(cur, tuple):
                    lo, hi = cur
                    merged[d.name] = (
                        wlo if lo is None else max(lo, wlo),
                        whi if hi is None else min(hi, whi),
                    )
                # list-of-point-ranges (IN pushdown): already narrow
            dim_ranges = merged
    if conditions:
        # CONDITION-aware planning (the needle twin of the CDC window
        # above): fragments the pushed conditions provably skip —
        # stats/bloom refuted AND shadow-safe — cannot contribute rows,
        # so intersect the scan with the SURVIVORS' union bounding box;
        # a bloom-indexed point lookup launches tasks only where
        # candidate fragments live.  ALL ops qualify: min/max stats
        # refute range conjuncts (<, >=, BETWEEN shapes) just as well
        # as needles (=/IN, which additionally get the bloom proof)
        cfn = getattr(backend, "condition_ned", None)
        cbox = cfn(uri, list(conditions), at=at, since=since)             if cfn else None
        if cbox == []:
            ddl0 = ", ".join(
                f"{c} "
                f"{next(x.dtype for x in info.dims + info.attrs if x.name == c)}"
                for c in cols
            )
            return spark.createDataFrame([], schema=ddl0)
        if cbox is not None:
            merged = dict(dim_ranges or {})
            for d, (clo, chi) in zip(info.dims, cbox):
                cur = merged.get(d.name)
                if cur is None:
                    merged[d.name] = (clo, chi)
                elif isinstance(cur, tuple):
                    lo, hi = cur
                    merged[d.name] = (
                        clo if lo is None else max(lo, clo),
                        chi if hi is None else min(hi, chi),
                    )
            dim_ranges = merged
    # R-tree tile weights (when the backend can produce them from
    # metadata) turn uniform-span splits into cell-count-quantile splits
    weights_fn = getattr(backend, "split_weights", None)
    weights = weights_fn(uri, at=at) if weights_fn else None
    # string-keyed arrays (no integer axis): cut dim0 at the fragments'
    # var-NED boundary keys so read parallelism tracks the fragment
    # count instead of collapsing to one task (round 7)
    skeys = None
    if not any(
        isinstance(b, int)
        for d in info.dims for b in (d.domain or (None, None))
    ):
        skeys_fn = getattr(backend, "string_split_keys", None)
        skeys = (
            skeys_fn(uri, at=at, since=since) if skeys_fn else None
        )
    splits = plan_splits(
        info, dim_ranges, target_splits,
        weights=weights, string_keys=skeys,
    )
    ddl = ", ".join(
        f"{c} {next(x.dtype for x in info.dims + info.attrs if x.name == c)}"
        for c in cols
    )
    if not splits:
        return spark.createDataFrame([], schema=ddl)

    split_df = _seed_partitions(spark, len(splits))

    def read_split(batches) -> Iterator:
        for pdf in batches:
            for sid in pdf["split_id"]:
                kw = {} if since is None else {"since": since}
                out = backend.read_range(
                    uri, splits[int(sid)], cols, at=at,
                    conditions=conditions, **kw,
                )
                if len(out):
                    yield out

    return split_df.mapInPandas(read_split, schema=ddl)


def topk_array(
    spark: SparkSession,
    uri: str,
    col: str,
    k: int,
    ascending: bool = False,
    backend: Optional[ArrayBackend] = None,
    columns: Optional[list[str]] = None,
    dim_ranges: Optional[dict[str, tuple[Any, Any]]] = None,
    at: Optional[int] = None,
    since: Optional[int] = None,
    conditions: Optional[Sequence[tuple]] = None,
    encryption_key: Optional[Any] = None,
    target_splits: int = 32,
) -> DataFrame:
    """ORDER BY ``col`` LIMIT ``k`` over a native array with ZONE-MAP
    pruning: a metadata-only walk of the v11+ fragment stats derives a
    bound ``t`` such that >= k surviving rows provably satisfy
    ``col >= t`` (descending; ``<= t`` ascending), and that bound is
    pushed as an ordinary attribute condition — so the existing
    fragment-skip (stats + shadow-safety, plan_condition_skips), tile
    skip, and condition-NED split planning all fire.  Rows the bound
    excludes sort strictly after the guaranteed k and cannot change
    the answer; when no bound is provable (dense arrays, float/enum
    columns, visible deletes, missing stats) the plan falls back to
    the plain full scan — identical result, no pruning.

    At 100 TB: "top 100 orders by price" over date-partitioned
    fragments decodes only the fragments whose stat range reaches the
    bound — an O(relevant-fragments) read instead of a full scan, then
    Spark's TakeOrdered (no global sort, no shuffle of the losers).
    Reference anchor: mytile surfaces fragment min/max to MariaDB's
    optimizer only as table stats (ha_mytile.cc:info); ORDER BY ...
    LIMIT there always full-scans — this operator is the engine-side
    completion of that metadata.

    The final ordering ties break by the dimension tuple (ascending),
    making the result deterministic under equal ``col`` values.
    """
    backend = backend or NativeDecoderBackend(encryption_key=encryption_key)
    thr_fn = getattr(backend, "topk_threshold", None)
    # dim_ranges restrict which rows compete, but the stats guarantee
    # counts whole fragments — a bound derived ignoring the ranges
    # could exclude in-range rows that belong in the top-k.  No
    # metadata proof relates per-fragment counts to an arbitrary
    # subrange, so ranged top-k runs unpruned (always correct).
    thr = (
        thr_fn(uri, col, k, ascending=ascending, at=at, since=since,
               conditions=conditions)
        if thr_fn and not dim_ranges
        else None
    )
    conds = list(conditions or [])
    if thr is not None:
        conds.append((col, "<=" if ascending else ">=", thr))
    conditions = conds or None
    cols = None
    if columns is not None and col not in columns:
        cols = [*columns, col]
    df = read_array(
        spark, uri, backend=backend, columns=cols or columns,
        dim_ranges=dim_ranges, at=at, since=since,
        conditions=conditions, target_splits=target_splits,
    )
    from pyspark.sql import functions as F  # noqa: PLC0415

    info = backend.info(uri, at=at)
    # NULLs must sort LAST in both directions: the pruned plan pushes a
    # (col, '<='/'>=', thr) condition, which NULL never satisfies, so a
    # plain asc() (Spark default: NULLS FIRST) would make the pruned and
    # fallback plans disagree on a nullable column.  asc_nulls_last()
    # matches the pruned plan, the pandas brute-force helper, and
    # DuckDB's default ordering.
    order = [
        F.col(col).asc_nulls_last() if ascending
        else F.col(col).desc_nulls_last()
    ]
    order += [F.col(d.name).asc() for d in info.dims if d.name != col]
    out = df.orderBy(*order).limit(k)
    if cols is not None:
        # the ordering column was widened into the projection only to
        # sort; the caller's requested schema excludes it
        out = out.drop(col)
    return out


def diff_arrays(
    spark: SparkSession,
    uri: str,
    at_old: int,
    at_new: Optional[int] = None,
    backend: Optional[ArrayBackend] = None,
    columns: Optional[list[str]] = None,
    include_unchanged: bool = False,
    encryption_key: Optional[Any] = None,
    target_splits: int = 32,
) -> DataFrame:
    """Keyed SNAPSHOT DIFF of one array between two timestamps:
    ``added`` / ``deleted`` / ``changed`` rows of the ``at_new``
    snapshot relative to ``at_old``, with both value versions side by
    side (``<attr>_old`` / ``<attr>_new``).  The CDC surface a 100 TB
    maintenance loop needs: "what did yesterday's ingest actually
    change", feeding incremental rollups, audit trails, and downstream
    invalidation.

    Execution is ZERO-SHUFFLE and (when provable) O(window), not
    O(array): one split plan is cut over the shared coordinate space,
    each task reads BOTH snapshots' cells for its subarray (the
    storage-partitioned self-join — both sides are the same array, so
    co-partitioning is free) and classifies locally.  When no delete
    commit falls inside ``(at_old, at_new]``, rows can only have
    changed where the window's fragments wrote, so the plan is
    confined to those fragments' union bounding box (``window_ned``,
    metadata-only) — an empty window returns an empty frame without
    launching a task.  Consolidation commits inside the window don't
    widen the box: a consolidated fragment keeps its ORIGINAL oldest
    timestamp, and its content is logically unchanged data.

    Timestamp semantics are TileDB's (both bounds inclusive unix
    millis; ``at_new=None`` = now).  Row identity is the dimension
    tuple; values compare NULL-safely (NULL→value and value→NULL are
    ``changed``).  Reference anchor: the reference reads any snapshot
    (`uri@ts`, ha_mytile.cc open_at) but diffing two of them requires
    two full MariaDB scans plus a server-side join — here it is one
    windowed map-only pass."""
    backend = backend or NativeDecoderBackend(encryption_key=encryption_key)
    info = backend.info(uri, at=at_new)
    try:  # row identity must be unique: dup-key arrays aren't diffable
        from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
            parse_array_schema,
            _schema_path,
        )

        if parse_array_schema(_schema_path(uri)).allows_dups:
            raise ValueError(
                "diff_arrays needs a unique row identity; this array "
                "allows duplicate coordinates"
            )
    except (OSError, FileNotFoundError):
        pass  # non-native layout: the backend defines identity
    dim_names = [d.name for d in info.dims]
    attr_names = [a.name for a in info.attrs]
    sel = (
        [a for a in attr_names if a in columns]
        if columns is not None
        else list(attr_names)
    )
    type_of = {x.name: x.dtype for x in info.dims + info.attrs}
    ddl = ", ".join(
        [f"{d} {type_of[d]}" for d in dim_names]
        + ["change string"]
        + [f"{a}_old {type_of[a]}" for a in sel]
        + [f"{a}_new {type_of[a]}" for a in sel]
    )
    out_cols = (
        dim_names + ["change"] + [f"{a}_old" for a in sel]
        + [f"{a}_new" for a in sel]
    )

    # window-box confinement: sound iff no .del inside the window (a
    # delete removes rows anywhere, outside any fragment's box)
    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        delete_commits_in_window,
        snapshot_destroyed,
    )

    # vacuum hazard: if consolidate-then-vacuum covered at_old, the old
    # snapshot no longer exists on disk and the at_old read would see
    # NOTHING — the diff would plausibly (and wrongly) report every row
    # as 'added'.  Raise instead of lying (round-7 advisor finding).
    try:
        if snapshot_destroyed(uri, at_old):
            raise ValueError(
                f"diff_arrays: the snapshot at at_old={at_old} was "
                "destroyed by consolidation + vacuum (a consolidated "
                "fragment straddles it and the originals are gone); "
                "the diff would misreport every row as 'added'"
            )
    except OSError:
        pass  # non-native layout: the backend defines visibility
    dim_ranges = None
    try:
        dels = delete_commits_in_window(uri, since=at_old + 1, at=at_new)
    except OSError:
        dels = True  # unknown commit state: stay full-domain
    # include_unchanged must SEE the untouched rows, so it scans the
    # full domain; the changed-only diff is what gets O(window) cost
    if not dels and not include_unchanged:
        wfn = getattr(backend, "window_ned", None)
        wbox = wfn(uri, since=at_old + 1, at=at_new) if wfn else None
        if wbox == []:
            return spark.createDataFrame([], schema=ddl)
        if wbox is not None:
            dim_ranges = {
                d.name: (lo, hi) for d, (lo, hi) in zip(info.dims, wbox)
            }
    weights_fn = getattr(backend, "split_weights", None)
    weights = weights_fn(uri, at=at_new) if weights_fn else None
    skeys = None
    if not any(
        isinstance(b, int)
        for d in info.dims for b in (d.domain or (None, None))
    ):
        skeys_fn = getattr(backend, "string_split_keys", None)
        skeys = skeys_fn(uri, at=at_new) if skeys_fn else None
    splits = plan_splits(
        info, dim_ranges, target_splits, weights=weights, string_keys=skeys
    )
    if not splits:
        return spark.createDataFrame([], schema=ddl)

    _NULLABLE = {
        "tinyint": "Int8", "smallint": "Int16", "int": "Int32",
        "integer": "Int32", "bigint": "Int64", "long": "Int64",
        "float": "Float32", "double": "Float64", "boolean": "boolean",
    }
    nullable_t = {a: _NULLABLE.get(type_of[a]) for a in sel}

    split_df = _seed_partitions(spark, len(splits))
    cols_read = dim_names + sel

    def diff_split(batches) -> Iterator:
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            for sid in pdf["split_id"]:
                rng = splits[int(sid)]
                po = backend.read_range(uri, rng, cols_read, at=at_old)
                pn = backend.read_range(uri, rng, cols_read, at=at_new)
                if not len(po) and not len(pn):
                    continue
                for p in (po, pn):
                    for a in sel:
                        t = nullable_t[a]
                        if t is not None:
                            p[a] = p[a].astype(t)
                m = po.merge(
                    pn, on=dim_names, how="outer",
                    suffixes=("_old", "_new"), indicator=True,
                )
                side = m.pop("_merge")
                changed = pd.Series(False, index=m.index)
                for a in sel:
                    o, n = m[f"{a}_old"], m[f"{a}_new"]
                    changed |= (o.isna() != n.isna()) | (
                        o.notna() & n.notna() & (o != n)
                    )
                m["change"] = "unchanged"
                m.loc[changed, "change"] = "changed"
                m.loc[side == "left_only", "change"] = "deleted"
                m.loc[side == "right_only", "change"] = "added"
                if not include_unchanged:
                    m = m[m["change"] != "unchanged"]
                if not len(m):
                    continue
                for a in sel:  # object cols: NaN -> None for Arrow
                    for c in (f"{a}_old", f"{a}_new"):
                        if m[c].dtype == object:
                            m[c] = m[c].where(m[c].notna(), None)
                yield m[out_cols]

    return split_df.mapInPandas(diff_split, schema=ddl)


def copartitioned_asof_join(
    spark: SparkSession,
    uri_a: str,
    uri_b: str,
    direction: str = "backward",
    tolerance: Optional[int] = None,
    by_cols: Optional[list[str]] = None,
    backend: Optional[ArrayBackend] = None,
    backend_b: Optional[ArrayBackend] = None,
    columns_a: Optional[list[str]] = None,
    columns_b: Optional[list[str]] = None,
    at_a: Optional[int] = None,
    at_b: Optional[int] = None,
    suffixes: tuple[str, str] = ("_a", "_b"),
    target_splits: int = 32,
) -> DataFrame:
    """AS-OF join of two arrays sharing ONE integer dimension (the time
    axis) — ZERO data shuffle, the kdb/TimescaleDB "latest quote before
    each trade" shape at array scale.

    Every A row is matched with the B row nearest it in time
    (``direction``: 'backward' = greatest B key <= a, 'forward' =
    smallest >= a, 'nearest'), LEFT-join semantics (unmatched A rows
    keep NULL B columns).  One split plan covers A's domain; each task
    reads BOTH arrays' cells for its subarray and runs a local sorted
    ``merge_asof`` (the decoder returns cells in dim order — no sort,
    no hash build).

    The boundary problem — a task's correct match may live BEFORE its
    split — is solved exactly and cheaply: ``dim0_neighbor`` bisects
    each B fragment's coordinate chunk index (O(log) decodes, no tile
    read) for the predecessor of the split's lower edge, and the task
    extends its B read to include it.  Tiered fallback: visible delete
    commits (the predecessor row may be deleted) or un-bisectable
    layouts widen to ``tolerance`` when given, else to the whole B
    domain — always correct, never silently wrong.  Reference anchor:
    the engine-surplus twin of `operators/asof.py` (q38's DataFrame
    as-of, which shuffles both sides); here co-location makes the join
    map-only.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"bad direction: {direction}")
    if by_cols and tolerance is None:
        # per-key boundary extension is unbounded (a symbol's previous
        # quote can be arbitrarily old) — the coordinate bisect only
        # bounds the GLOBAL predecessor.  A tolerance makes the
        # extension exact: matches beyond it are NULL by definition.
        raise ValueError("by_cols requires tolerance (bounded lookback)")
    backend_a = backend or NativeDecoderBackend()
    backend_b = backend_b or backend_a
    info_a = backend_a.info(uri_a, at=at_a)
    info_b = backend_b.info(uri_b, at=at_b)
    if len(info_a.dims) != 1 or len(info_b.dims) != 1:
        raise ValueError("as-of join needs single-dimension arrays")
    da, db = info_a.dims[0], info_b.dims[0]
    if (da.name, da.dtype) != (db.name, db.dtype):
        raise ValueError(
            f"arrays are not co-partitionable: {da.name} {da.dtype} != "
            f"{db.name} {db.dtype}"
        )
    dim = da.name
    by_cols = list(by_cols or [])
    for c in by_cols:
        if c not in [a.name for a in info_a.attrs] or c not in [
            a.name for a in info_b.attrs
        ]:
            raise ValueError(f"by column {c!r} must exist in both arrays")
    sel_a = [
        a.name for a in info_a.attrs
        if (columns_a is None or a.name in columns_a) or a.name in by_cols
    ]
    sel_b = [
        a.name for a in info_b.attrs
        if (columns_b is None or a.name in columns_b)
        and a.name not in by_cols
    ]
    collide = (set(sel_a) & set(sel_b)) - set(by_cols)
    out_a = [n + suffixes[0] if n in collide else n for n in sel_a]
    out_b = [n + suffixes[1] if n in collide else n for n in sel_b]

    weights_fn = getattr(backend_a, "split_weights", None)
    weights = weights_fn(uri_a, at=at_a) if weights_fn else None
    splits = plan_splits(info_a, None, target_splits, weights=weights)
    type_a = {x.name: x.dtype for x in info_a.dims + info_a.attrs}
    type_b = {x.name: x.dtype for x in info_b.attrs}
    ddl = ", ".join(
        [f"{dim} {type_a[dim]}"]
        + [f"{o} {type_a[n]}" for n, o in zip(sel_a, out_a)]
        + [f"{o} {type_b[n]}" for n, o in zip(sel_b, out_b)]
    )
    if not splits:
        return spark.createDataFrame([], schema=ddl)

    # per-split B extensions, driver-side and metadata-only: the
    # predecessor (and/or successor) of each split edge in B
    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        delete_commits_in_window,
        dim0_neighbor,
    )

    try:
        dels = delete_commits_in_window(uri_b, at=at_b)
    except OSError:
        dels = True
    # keyed joins skip the bisect (the GLOBAL predecessor says nothing
    # about a specific key's) — the tolerance bounds the lookback
    # exactly instead
    bisect_ok = not dels and not by_cols
    blo, bhi = info_b.dims[0].domain
    b_ranges = []
    for rng in splits:
        (s_lo, s_hi) = rng[0]
        e_lo, e_hi = s_lo, s_hi
        if direction in ("backward", "nearest"):
            ok, pred = dim0_neighbor(
                uri_b, s_lo, side="pred", at=at_b
            ) if bisect_ok else (False, None)
            if ok:
                e_lo = pred if pred is not None else s_lo
            elif tolerance is not None:
                e_lo = s_lo - tolerance
            else:
                e_lo = blo  # unprovable: whole-domain low edge
        if direction in ("forward", "nearest"):
            ok, succ = dim0_neighbor(
                uri_b, s_hi, side="succ", at=at_b
            ) if bisect_ok else (False, None)
            if ok:
                e_hi = succ if succ is not None else s_hi
            elif tolerance is not None:
                e_hi = s_hi + tolerance
            else:
                e_hi = bhi
        b_ranges.append([(e_lo, e_hi)])

    _NULLABLE = {
        "tinyint": "Int8", "smallint": "Int16", "int": "Int32",
        "integer": "Int32", "bigint": "Int64", "long": "Int64",
        "float": "Float32", "double": "Float64", "boolean": "boolean",
    }
    b_nullable = {
        o: _NULLABLE[type_b[n]]
        for n, o in zip(sel_b, out_b) if type_b[n] in _NULLABLE
    }
    out_cols = [dim] + out_a + out_b
    split_df = _seed_partitions(spark, len(splits))

    def asof_split(batches) -> Iterator:
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            for sid in pdf["split_id"]:
                i = int(sid)
                pa_ = backend_a.read_range(
                    uri_a, splits[i], [dim, *sel_a], at=at_a
                )
                if not len(pa_):
                    continue
                pb_ = backend_b.read_range(
                    uri_b, b_ranges[i], [dim, *sel_b, *by_cols], at=at_b
                )
                pa_ = pa_.rename(columns=dict(zip(sel_a, out_a)))
                pb_ = pb_.rename(columns=dict(zip(sel_b, out_b)))
                if not len(pb_):
                    # empty reads come back object-typed; merge_asof
                    # requires matching key dtypes
                    pb_[dim] = pb_[dim].astype(pa_[dim].dtype)
                    for c in by_cols:
                        pb_[c] = pb_[c].astype(pa_[c].dtype)
                for n, o in zip(sel_b, out_b):
                    t = b_nullable.get(o)
                    if t is not None:
                        pb_[o] = pb_[o].astype(t)
                m = pd.merge_asof(
                    pa_, pb_, on=dim, by=by_cols or None,
                    direction=direction, tolerance=tolerance,
                )
                for o in out_b:  # object cols: NaN -> None for Arrow
                    if m[o].dtype == object:
                        m[o] = m[o].where(m[o].notna(), None)
                yield m[out_cols]

    return split_df.mapInPandas(asof_split, schema=ddl)


def _merge_write_and_count(
    flagged: DataFrame,
    uri: str,
    backend: ArrayBackend,
    when_matched: str,
    when_not_matched: str,
    ts: Optional[int],
) -> tuple[int, int]:
    """One pass over the probe join: write the clause-kept rows of each
    partition as a fragment AND return ``(matched, total)`` summed from
    the per-task result rows.  Replaces the persist + counts-agg job +
    filtered-write job sequence with a single action (guide §1.2 —
    fewer passes; the counts travel in the action's result, so they are
    exactly-once under task retry, unlike accumulators).  Fragment
    layout matches the old filtered write: same join-output partitions,
    one fragment per partition with kept rows.

    The ``__oob`` column flags source rows outside a caller-supplied
    probe box; a partition holding one writes nothing, and the driver
    raises once the pass ends."""
    update = when_matched == "update"
    insert = when_not_matched == "insert"

    def write_and_count(batches) -> Iterator:
        import pandas as pd  # noqa: PLC0415

        parts = list(batches)
        m = n = x = 0
        if parts:
            pdf = pd.concat(parts, ignore_index=True)
            x = int(pdf.pop("__oob").sum())
            mask_m = pdf["__m"].notna()
            m, n = int(mask_m.sum()), len(pdf)
            if update and insert:
                out = pdf
            elif update:
                out = pdf[mask_m]
            elif insert:
                out = pdf[~mask_m]
            else:
                out = pdf.iloc[0:0]
            if len(out) and not x:
                kw = {} if ts is None else {"ts": ts}
                backend.write(
                    uri,
                    out.drop(columns=["__m"]).reset_index(drop=True),
                    sparse=True,
                    **kw,
                )
        yield pd.DataFrame({"m": [m], "n": [n], "x": [x]})

    rows = flagged.mapInPandas(
        write_and_count, schema="m long, n long, x long"
    ).collect()
    _raise_outside_bounds(sum(r.x for r in rows))
    return sum(r.m for r in rows), sum(r.n for r in rows)


def _raise_outside_bounds(n: int) -> None:
    if n:
        raise ValueError(
            f"source_bounds misses {n} source keys: a box narrower than "
            "the source would misclassify matched keys as new"
        )


def merge_into_array(
    spark: SparkSession,
    uri: str,
    source: DataFrame,
    when_matched: str = "update",
    when_not_matched: str = "insert",
    backend: Optional[ArrayBackend] = None,
    encryption_key: Optional[Any] = None,
    ts: Optional[int] = None,
    on_source_dups: str = "error",
    return_counts: bool = True,
    target_splits: int = 32,
    max_delete_keys: int = 100_000,
    source_bounds: Optional[dict] = None,
) -> dict:
    """MERGE INTO for native arrays: the row identity is the dimension
    tuple (the array key), ``source`` supplies dims + the attribute
    values to write.

    ``when_matched``: 'update' rewrites rows whose key already exists,
    'skip' leaves them untouched.  ``when_not_matched``: 'insert' adds
    new keys, 'skip' drops them.  The four combinations cover MERGE's
    core (and the reference host's INSERT .. ON DUPLICATE KEY UPDATE /
    REPLACE / INSERT IGNORE, which MariaDB lowers onto write_row — the
    handler itself only ever upserts, ha_mytile.cc:write_row); a
    MERGE ... DELETE clause is ``write_delete_condition`` (the
    reference cannot DELETE at all).

    Scale shape: 'update'+'insert' is TileDB's native upsert — ONE
    fragment write, ZERO reads of the target (newest-wins does the
    merge at read time).  The clauses that must distinguish matched
    from new keys probe the target's keys with a scan CONFINED to the
    source keys' bounding box (condition-NED/R-tree pruning applies),
    then anti/semi-join source-side — at 100 TB the probe reads the
    fragments the source box touches, never the corpus.

    ``on_source_dups``: duplicate source keys in one batch would land
    as duplicate coordinates in one fragment (undefined read order —
    libtiledb's dedup_coords hazard): 'error' raises, 'last_wins'
    keeps the last row per key (deterministic by the source's own
    order), 'allow' writes as-is (for allows_dups schemas).

    ``source_bounds`` ({dim: (lo, hi)}) replaces the probe box's own
    aggregation job.  A box that misses a source key raises ValueError
    from the pass that consumes the probe.  The counting shapes and the
    delete clause raise before anything is written; the fused
    write-and-count pass writes no partition holding a missed key, but
    other partitions may already have committed their (correctly
    classified) rows, so re-running with a true box converges to the
    same state.
    Returns ``{"matched": n, "not_matched": n, "written": n}``
    (counts -1 when ``return_counts=False`` skips the extra jobs).
    """
    if when_matched not in ("update", "skip", "delete"):
        raise ValueError(
            f"when_matched must be update|skip|delete: {when_matched}"
        )
    if when_not_matched not in ("insert", "skip"):
        raise ValueError(
            f"when_not_matched must be insert|skip: {when_not_matched}"
        )
    if on_source_dups not in ("error", "last_wins", "allow"):
        raise ValueError(
            f"on_source_dups must be error|last_wins|allow: {on_source_dups}"
        )
    backend = backend or NativeDecoderBackend(encryption_key=encryption_key)
    info = backend.info(uri)
    dim_names = [d.name for d in info.dims]
    missing = [d for d in dim_names if d not in source.columns]
    if missing:
        raise ValueError(f"source lacks dimension columns: {missing}")
    if when_matched == "delete" and len(dim_names) != 1:
        # a multi-dim key set is not expressible as per-dim IN lists
        # (the cross product over-deletes); use write_delete_condition
        # with a predicate instead
        raise ValueError("when_matched='delete' needs a single dimension")

    from pyspark.sql import Window, functions as F  # noqa: PLC0415

    if on_source_dups == "error":
        dup = (
            source.groupBy(*dim_names).count().filter(F.col("count") > 1)
        )
        if dup.limit(1).count():
            raise ValueError(
                "duplicate keys in source (set on_source_dups="
                "'last_wins' or 'allow')"
            )
    elif on_source_dups == "last_wins":
        w = Window.partitionBy(*dim_names).orderBy(
            F.monotonically_increasing_id().desc()
        )
        source = (
            source.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    counts = {"matched": -1, "not_matched": -1, "written": -1}
    flagged = None
    fused = None
    need_split = (when_matched, when_not_matched) != ("update", "insert")
    if need_split or return_counts:
        # probe the target keys only inside the source's bounding box.
        # ``source_bounds`` ({dim: (lo, hi)} or {dim: (None, None)} for
        # an empty source) lets a caller that already knows the box —
        # e.g. one that computed it CONCURRENTLY with a preceding
        # ingest job (guide §2.6) — skip this aggregation job.  The
        # box only CONFINES the probe read, but the caller's values
        # must cover the true min/max: a too-narrow box would misread
        # matched keys as new.  So the pass that consumes the probe
        # join also counts source rows outside a caller's box, and the
        # merge raises ValueError when there is any.
        if source_bounds is not None:
            missing_b = [d for d in dim_names if d not in source_bounds]
            if missing_b:
                raise ValueError(
                    f"source_bounds lacks dimensions: {missing_b}"
                )
            bounds = {}
            for d in dim_names:
                lo, hi = source_bounds[d]
                bounds[f"{d}_lo"], bounds[f"{d}_hi"] = lo, hi
        else:
            bounds = source.agg(
                *[F.min(d).alias(f"{d}_lo") for d in dim_names],
                *[F.max(d).alias(f"{d}_hi") for d in dim_names],
            ).collect()[0]
        if bounds[f"{dim_names[0]}_lo"] is None:
            if source_bounds is not None and not source.isEmpty():
                raise ValueError(
                    "source_bounds gives an empty box for a non-empty "
                    "source"
                )
            to_write = source.limit(0)
            matched = not_matched = 0
            counts["written"] = 0  # empty source: nothing to write
        else:
            box = {
                d: (bounds[f"{d}_lo"], bounds[f"{d}_hi"])
                for d in dim_names
            }
            # distinct: an allows_dups target may hold the same key
            # many times — "matched" means the key exists, and a dup
            # would fan the probe join out (wrong counts, dup writes)
            tgt_keys = read_array(
                spark, uri, backend=backend, columns=[],
                dim_ranges=box, target_splits=target_splits,
            ).select(*dim_names).distinct().withColumn("__m", F.lit(1))
            oob = F.lit(False)  # a computed box holds every key
            if source_bounds is not None:
                inside = F.lit(True)
                for d, (lo, hi) in box.items():
                    inside = inside & F.col(d).between(F.lit(lo), F.lit(hi))
                # null-safe: a None bound puts every row outside
                oob = ~F.coalesce(inside, F.lit(False))
            flagged = source.join(
                tgt_keys, on=dim_names, how="left"
            ).withColumn("__oob", oob)
            if need_split and when_matched != "delete":
                # FUSE the probe counts into the write (round 10): the
                # counts aggregation and the fragment write were two
                # actions over the same probe join (persist + agg job +
                # write job).  One mapInPandas pass now filters the
                # clause-kept rows, writes them, and returns per-task
                # (matched, total) rows with the action's result —
                # exactly-once by construction (the counts ride the
                # task results, not accumulators), identical fragment
                # layout (the write consumes the same join-output
                # partitions the old filtered write consumed).
                writes_any = (
                    when_matched == "update" or when_not_matched == "insert"
                )
                if writes_any or return_counts:
                    m_, n_ = _merge_write_and_count(
                        flagged, uri, backend,
                        when_matched, when_not_matched, ts,
                    )
                    matched, not_matched = m_, n_ - m_
                if not writes_any:
                    # no clause writes rows (skip + skip): nothing lands
                    counts["written"] = 0
                fused = True
            else:
                # delete clause (the driver-side key collection below
                # consumes the probe a second time) and the
                # counts-over-pure-upsert shape keep the persist + agg
                # + filtered-write structure
                if return_counts:
                    flagged = flagged.persist()
                keep = []
                if when_matched == "update":
                    keep.append(F.col("__m").isNotNull())
                if when_not_matched == "insert":
                    keep.append(F.col("__m").isNull())
                if keep:
                    to_write = flagged.filter(
                        keep[0] if len(keep) == 1 else (keep[0] | keep[1])
                    ).drop("__m", "__oob")
                else:
                    # statically empty, never launch the write job
                    to_write = flagged.limit(0).drop("__m", "__oob")
                    counts["written"] = 0
                if return_counts:
                    agg = flagged.agg(
                        F.count(F.col("__m")).alias("m"),
                        F.count(F.lit(1)).alias("n"),
                        F.count(F.when(F.col("__oob"), 1)).alias("x"),
                    ).collect()[0]
                    _raise_outside_bounds(agg["x"])
                    matched, not_matched = agg["m"], agg["n"] - agg["m"]
        if return_counts:
            counts["matched"], counts["not_matched"] = matched, not_matched
            counts["written"] = (
                (matched if when_matched == "update" else 0)
                + (not_matched if when_not_matched == "insert" else 0)
            )
            if when_matched == "delete":
                counts["deleted"] = matched
        if fused:
            return counts
        if need_split:
            if when_matched == "delete" and flagged is not None:
                from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
                    write_delete_condition,
                )

                # driver-side IN-list is bounded: take(N+1) caps the
                # collect, and over-limit merges are refused with a
                # pointer to the predicate form (which never collects).
                # Rows outside a caller's box ride along, so the same
                # job checks the box when no counts job ran.
                key_rows = (
                    flagged.filter(F.col("__m").isNotNull() | F.col("__oob"))
                    .select(dim_names[0], "__m")
                    .take(max_delete_keys + 1)
                )
                _raise_outside_bounds(
                    sum(r["__m"] is None for r in key_rows)
                )
                if len(key_rows) > max_delete_keys:
                    raise ValueError(
                        f"when_matched='delete' matched more than "
                        f"{max_delete_keys} keys; a driver-side IN-list "
                        "delete at that scale is unsafe — use "
                        "write_delete_condition with a range/predicate "
                        "form, or raise max_delete_keys explicitly"
                    )
                keys = [r[dim_names[0]] for r in key_rows]
                if keys:
                    # one O(|keys|) .del commit — no fragment rewritten;
                    # for corpus-scale purges use a PREDICATE delete
                    write_delete_condition(
                        uri, [(dim_names[0], "in", sorted(keys))], ts=ts
                    )
            if counts["written"] != 0:
                write_array(to_write, uri, backend=backend, ts=ts)
            if flagged is not None and return_counts:
                flagged.unpersist()
            return counts
        if flagged is not None and return_counts:
            flagged.unpersist()
    # pure upsert: one fragment write, zero target reads
    write_array(source, uri, backend=backend, ts=ts)
    return counts


def copartitioned_join_arrays(
    spark: SparkSession,
    uri_a: str,
    uri_b: str,
    backend: Optional[ArrayBackend] = None,
    backend_b: Optional[ArrayBackend] = None,
    columns_a: Optional[list[str]] = None,
    columns_b: Optional[list[str]] = None,
    dim_ranges: Optional[dict[str, Any]] = None,
    at_a: Optional[int] = None,
    at_b: Optional[int] = None,
    how: str = "inner",
    conditions_a: Optional[Sequence[tuple]] = None,
    conditions_b: Optional[Sequence[tuple]] = None,
    target_splits: int = 32,
    suffixes: tuple[str, str] = ("_a", "_b"),
) -> DataFrame:
    """Storage-partitioned equi-join of two arrays that share a dimension
    space — ZERO data shuffle.

    Both arrays must have identical dimensions (same names, types, order);
    the join key is that full dimension tuple.  One split plan is cut over
    the shared coordinate space (R-tree-weighted, exactly like
    ``read_array``); each task reads BOTH arrays' cells for its subarray
    and merges them locally.  Because splits are disjoint and covering,
    every matching coordinate pair meets in exactly one task — the only
    exchange in the whole plan is the byte-sized split-id round-robin.

    This is the connector-level analog of Spark's storage-partitioned
    join (SPARK-37375): the Python DataSource API cannot report
    KeyGroupedPartitioning to Catalyst, so two ``read_array`` frames
    joined in SQL shuffle both sides; this function removes those
    exchanges entirely.  At 100 TB a fact-to-fact join on the dimension
    key is a full-data double shuffle — here it is a map-only pass whose
    parallelism is ``target_splits``.  Reference parity: the dim-key
    joins of mysql-test/mytile/t/join.test and mrr_triple_join.test
    (there the MariaDB executor BKA-joins through the handler; the
    co-location insight is the same — dimension order IS the join order).

    ``how``: 'inner', 'left' (keeps A rows with no B match, B columns
    NULL) or 'full' (keeps both sides' unmatched rows; the split plan
    widens to the UNION of the two non-empty domains so B-only
    coordinates still get tasks — the reference's MariaDB host has no
    FULL JOIN, this is engine surplus).  For 'inner' the split plan is
    additionally narrowed to B's non-empty domain — coordinates outside
    it cannot match, so tasks never launch there.
    ``dim_ranges``/``conditions_*`` push down into each side's scan
    exactly as in ``read_array``.  Attribute names colliding across
    sides get ``suffixes``.
    """
    if how not in ("inner", "left", "full"):
        raise ValueError(
            f"how must be 'inner', 'left' or 'full', got {how!r}"
        )
    backend_a = backend or NativeDecoderBackend()
    backend_b = backend_b or backend_a
    info_a = backend_a.info(uri_a, at=at_a)
    info_b = backend_b.info(uri_b, at=at_b)
    sig_a = [(d.name, d.dtype) for d in info_a.dims]
    sig_b = [(d.name, d.dtype) for d in info_b.dims]
    if sig_a != sig_b:
        raise ValueError(
            f"arrays are not co-partitionable: dims {sig_a} != {sig_b}"
        )
    dim_names = [d.name for d in info_a.dims]

    def _select(info, want, side):
        names = [a.name for a in info.attrs]
        if want is None:
            return list(names)
        unknown = [c for c in want if c not in names]
        if unknown:
            raise ValueError(f"unknown columns_{side}: {unknown}")
        return [a for a in names if a in want]

    sel_a = _select(info_a, columns_a, "a")
    sel_b = _select(info_b, columns_b, "b")
    collide = set(sel_a) & set(sel_b)
    out_a = [n + suffixes[0] if n in collide else n for n in sel_a]
    out_b = [n + suffixes[1] if n in collide else n for n in sel_b]

    _OPS = {"=", "!=", "<", "<=", ">", ">=", "in", "is_null",
            "is_not_null"}
    for conds, info, side in (
        (conditions_a, info_a, "a"), (conditions_b, info_b, "b"),
    ):
        legal = dim_names + [a.name for a in info.attrs]
        for cond in conds or []:
            if cond[0] not in legal:
                raise ValueError(
                    f"unknown conditions_{side} column: {cond[0]}"
                )
            if cond[1] not in _OPS:
                raise ValueError(f"unknown condition op: {cond[1]}")

    # plan ONE split set over the shared coordinate space; inner joins
    # narrow it to B's non-empty domain (nothing outside can match);
    # full joins widen the PLANNING domain to the union of both NEDs
    # (B-only coordinates still need tasks)
    merged = dict(dim_ranges or {})
    plan_info = info_a
    if how == "inner":
        for d in info_b.dims:
            cur = merged.get(d.name)
            blo, bhi = d.domain
            if cur is None:
                merged[d.name] = (blo, bhi)
            elif isinstance(cur, tuple):
                lo, hi = cur
                merged[d.name] = (
                    blo if lo is None else (lo if blo is None else max(lo, blo)),
                    bhi if hi is None else (hi if bhi is None else min(hi, bhi)),
                )
            # list-of-point-ranges (IN pushdown): already narrow
    elif how == "full":
        union_dims = []
        for da, db in zip(info_a.dims, info_b.dims):
            (alo, ahi), (blo, bhi) = da.domain, db.domain
            lo = alo if blo is None else (blo if alo is None else min(alo, blo))
            hi = ahi if bhi is None else (bhi if ahi is None else max(ahi, bhi))
            union_dims.append(DimInfo(da.name, da.dtype, (lo, hi)))
        plan_info = ArrayInfo(
            dims=union_dims, attrs=info_a.attrs, sparse=info_a.sparse
        )
    # split weights from BOTH sides: per-task work is the sum of the
    # two subarray reads, so a B-heavy key region must attract cuts
    # even when A is uniform there (the weight lists just concatenate —
    # the planner sums overlapping tile spans)
    wa = getattr(backend_a, "split_weights", None)
    wb = getattr(backend_b, "split_weights", None)
    wa = wa(uri_a, at=at_a) if wa else None
    wb = wb(uri_b, at=at_b) if wb else None
    weights = (list(wa) + list(wb)) if (wa and wb) else (wa or wb)
    skeys = None
    if not any(
        isinstance(b, int)
        for d in info_a.dims for b in (d.domain or (None, None))
    ):
        skeys_fn = getattr(backend_a, "string_split_keys", None)
        skeys = skeys_fn(uri_a, at=at_a) if skeys_fn else None
    splits = plan_splits(
        plan_info, merged, target_splits, weights=weights,
        string_keys=skeys,
    )

    type_a = {x.name: x.dtype for x in info_a.dims + info_a.attrs}
    type_b = {x.name: x.dtype for x in info_b.attrs}
    ddl = ", ".join(
        [f"{d} {type_a[d]}" for d in dim_names]
        + [f"{o} {type_a[n]}" for n, o in zip(sel_a, out_a)]
        + [f"{o} {type_b[n]}" for n, o in zip(sel_b, out_b)]
    )
    if not splits:
        return spark.createDataFrame([], schema=ddl)

    # left-join NULL fidelity: B columns convert to pandas NULLABLE
    # dtypes BEFORE the merge, so an unmatched bigint never round-trips
    # through float64 (lossy past 2^53) and NULL stays distinct from NaN
    _NULLABLE = {
        "tinyint": "Int8", "smallint": "Int16", "int": "Int32",
        "integer": "Int32", "bigint": "Int64", "long": "Int64",
        "float": "Float32", "double": "Float64", "boolean": "boolean",
    }
    b_nullable = {
        o: _NULLABLE[type_b[n]]
        for n, o in zip(sel_b, out_b) if type_b[n] in _NULLABLE
    }
    a_nullable = {  # full joins NULL-fill the A side on B-only rows
        o: _NULLABLE[type_a[n]]
        for n, o in zip(sel_a, out_a) if type_a[n] in _NULLABLE
    }
    out_cols = dim_names + out_a + out_b

    split_df = _seed_partitions(spark, len(splits))

    def _sorted_merge(pa_, pb_):
        """Merge-join fast path: the decoder returns cells in global
        order, so a single-dim join key arrives SORTED on both sides —
        np.searchsorted beats a pandas hash merge ~10x.  Falls back to
        None (pandas merge) on multi-dim keys, non-integer keys, or
        duplicate coordinates (allows_dups arrays)."""
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        if len(dim_names) != 1:
            return None
        d = dim_names[0]
        ka = pa_[d].to_numpy()
        kb = pb_[d].to_numpy()
        if ka.dtype.kind not in "iu" or kb.dtype.kind not in "iu":
            return None
        if len(ka) > 1 and not (np.diff(ka) > 0).all():
            return None  # dups: hash merge handles the fan-out
        if len(kb) > 1 and not (np.diff(kb) > 0).all():
            return None
        if len(kb):
            pos = np.searchsorted(kb, ka)
            inb = pos < len(kb)
            hit = inb.copy()
            hit[inb] = kb[pos[inb]] == ka[inb]
        else:
            pos = np.zeros(len(ka), dtype=np.int64)
            hit = np.zeros(len(ka), dtype=bool)
        if how == "inner":
            ia = np.nonzero(hit)[0]
            if not len(ia):
                return pd.DataFrame()
            ib = pos[ia]
            data = {d: ka[ia]}
            for n, o in zip(sel_a, out_a):
                data[o] = pa_[n].to_numpy()[ia]
            for n, o in zip(sel_b, out_b):
                data[o] = pb_[n].to_numpy()[ib]
            return pd.DataFrame(data)
        # left: all A rows; unmatched B cells are NA (nullable dtypes)
        ib = np.where(hit, pos, 0)
        data = {d: ka}
        for n, o in zip(sel_a, out_a):
            data[o] = pa_[n].to_numpy()
        miss = ~hit
        for n, o in zip(sel_b, out_b):
            col = pb_[n]
            t = b_nullable.get(o)
            if len(pb_):
                picked = col.to_numpy()[ib]
            else:
                picked = np.zeros(len(ka), dtype=col.dtype if len(col)
                                  else np.float64)
            if t is not None:
                arr = pd.array(picked, dtype=t)
                arr[miss] = pd.NA
                data[o] = arr
            else:
                s = pd.Series(picked, dtype=object)
                s[miss] = None
                data[o] = s
        return pd.DataFrame(data)

    def join_split(batches) -> Iterator:
        for pdf in batches:
            for sid in pdf["split_id"]:
                rng = splits[int(sid)]
                pa_ = backend_a.read_range(
                    uri_a, rng, dim_names + sel_a, at=at_a,
                    conditions=conditions_a,
                )
                if not len(pa_) and how != "full":
                    continue  # no A rows -> no output for inner/left
                pb_ = backend_b.read_range(
                    uri_b, rng, dim_names + sel_b, at=at_b,
                    conditions=conditions_b,
                )
                m = None
                if how != "full":
                    m = _sorted_merge(pa_, pb_)
                if m is None:
                    if how in ("left", "full"):
                        for n, o in zip(sel_b, out_b):
                            t = b_nullable.get(o)
                            if t is not None:
                                pb_[n] = pb_[n].astype(t)
                    if how == "full":
                        for n, o in zip(sel_a, out_a):
                            t = a_nullable.get(o)
                            if t is not None:
                                pa_[n] = pa_[n].astype(t)
                    m = pa_.merge(
                        pb_,
                        on=dim_names,
                        how="outer" if how == "full" else how,
                        suffixes=suffixes,
                    )
                    if how in ("left", "full") and len(m):
                        pairs = list(zip(sel_b, out_b))
                        if how == "full":
                            pairs += list(zip(sel_a, out_a))
                        for n, o in pairs:
                            if (
                                o not in b_nullable
                                and o not in a_nullable
                                and m[o].dtype == object
                            ):
                                m[o] = m[o].where(m[o].notna(), None)
                if not len(m):
                    continue
                yield m[out_cols]

    return split_df.mapInPandas(join_split, schema=ddl)


def copartitioned_join_many(
    spark: SparkSession,
    uris: Sequence[str],
    backend: Optional[ArrayBackend] = None,
    columns: Optional[Sequence[Optional[list]]] = None,
    dim_ranges: Optional[dict[str, Any]] = None,
    at: Optional[Sequence[Optional[int]]] = None,
    how: str = "inner",
    conditions: Optional[Sequence[Optional[Sequence[tuple]]]] = None,
    target_splits: int = 32,
) -> DataFrame:
    """N-way storage-partitioned equi-join of co-dimensioned arrays —
    the triple-join shape of mysql-test/mytile/t/mrr_triple_join.test
    (three dim-keyed tables star-joined through the handler), with zero
    data shuffle at ANY width: one split plan over the shared
    coordinate space, each task reads every side's subarray and folds
    them with a sorted merge (the decoder returns cells in dim order,
    so each fold is O(n) searchsorted, never a hash build).

    ``how='inner'`` intersects every side's non-empty domain into the
    plan (a coordinate absent from any side cannot survive, so tasks
    never launch there); ``how='left'`` folds each later side onto the
    accumulated left side, NULL-filling misses.  ``columns`` /
    ``conditions`` / ``at`` are optional per-side lists.  Attr names
    colliding across sides get positional suffixes (``_1``, ``_2``, …
    by array order).  Two-array calls are the same plan
    ``copartitioned_join_arrays`` produces; this entry point exists for
    the 3+ star shape where chaining pairwise joins would re-read the
    accumulated side.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    n_arr = len(uris)
    if n_arr < 2:
        raise ValueError("copartitioned_join_many needs >= 2 arrays")
    backend = backend or NativeDecoderBackend()
    ats = list(at) if at is not None else [None] * n_arr
    colss = list(columns) if columns is not None else [None] * n_arr
    condss = list(conditions) if conditions is not None else [None] * n_arr
    if not (len(ats) == len(colss) == len(condss) == n_arr):
        raise ValueError("per-side option lists must match len(uris)")
    infos = [backend.info(u, at=a) for u, a in zip(uris, ats)]
    sig0 = [(d.name, d.dtype) for d in infos[0].dims]
    for i, inf in enumerate(infos[1:], 1):
        sig = [(d.name, d.dtype) for d in inf.dims]
        if sig != sig0:
            raise ValueError(
                f"array {i} is not co-partitionable: dims {sig} != {sig0}"
            )
    dim_names = [d.name for d in infos[0].dims]

    sels, outs = [], []
    seen: dict[str, int] = {}
    for inf, want in zip(infos, colss):
        names = [a.name for a in inf.attrs]
        if want is not None:
            unknown = [c for c in want if c not in names]
            if unknown:
                raise ValueError(f"unknown columns: {unknown}")
            names = [a for a in names if a in want]
        sels.append(names)
        for nm in names:
            seen[nm] = seen.get(nm, 0) + 1
    for i, (inf, sel) in enumerate(zip(infos, sels)):
        outs.append(
            [n if seen[n] == 1 else f"{n}_{i + 1}" for n in sel]
        )
    _OPS = {"=", "!=", "<", "<=", ">", ">=", "in", "is_null",
            "is_not_null"}
    for inf, conds in zip(infos, condss):
        legal = dim_names + [a.name for a in inf.attrs]
        for cond in conds or []:
            if cond[0] not in legal or cond[1] not in _OPS:
                raise ValueError(f"bad condition {cond!r}")

    merged = dict(dim_ranges or {})
    if how == "inner":
        for inf in infos[1:]:
            for d in inf.dims:
                cur = merged.get(d.name)
                blo, bhi = d.domain
                if cur is None:
                    merged[d.name] = (blo, bhi)
                elif isinstance(cur, tuple):
                    lo, hi = cur
                    merged[d.name] = (
                        blo if lo is None
                        else (lo if blo is None else max(lo, blo)),
                        bhi if hi is None
                        else (hi if bhi is None else min(hi, bhi)),
                    )
    # combined tile weights across every side (see the pairwise note)
    weights_fn = getattr(backend, "split_weights", None)
    weights = None
    if weights_fn:
        per_side = [weights_fn(u, at=a) for u, a in zip(uris, ats)]
        present = [w for w in per_side if w]
        weights = (
            [t for w in present for t in w] if present else None
        )
    splits = plan_splits(infos[0], merged, target_splits, weights=weights)

    type_of: list[dict] = []
    for inf in infos:
        t = {x.name: x.dtype for x in inf.dims + inf.attrs}
        type_of.append(t)
    ddl = ", ".join(
        [f"{d} {type_of[0][d]}" for d in dim_names]
        + [
            f"{o} {type_of[i][n]}"
            for i, (sel, out) in enumerate(zip(sels, outs))
            for n, o in zip(sel, out)
        ]
    )
    if not splits:
        return spark.createDataFrame([], schema=ddl)
    out_cols = dim_names + [o for out in outs for o in out]
    _NULLABLE = {
        "tinyint": "Int8", "smallint": "Int16", "int": "Int32",
        "integer": "Int32", "bigint": "Int64", "long": "Int64",
        "float": "Float32", "double": "Float64", "boolean": "boolean",
    }

    split_df = _seed_partitions(spark, len(splits))
    single_int_dim = len(dim_names) == 1

    def join_split(batches) -> Iterator:
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        d0 = dim_names[0]

        def fold(acc, pdf_i, i):
            """Merge side i (renamed) onto the accumulator."""
            ren = {
                n: o for n, o in zip(sels[i], outs[i]) if n != o
            }
            if ren:
                pdf_i = pdf_i.rename(columns=ren)
            # sorted fast path: both frames keyed by a strictly
            # increasing single int dim (decoder order) -> O(n)
            if single_int_dim:
                ka = acc[d0].to_numpy()
                kb = pdf_i[d0].to_numpy()
                if (
                    ka.dtype.kind in "iu" and kb.dtype.kind in "iu"
                    and (len(ka) < 2 or (np.diff(ka) > 0).all())
                    and (len(kb) < 2 or (np.diff(kb) > 0).all())
                ):
                    if len(kb):
                        pos = np.searchsorted(kb, ka)
                        inb = pos < len(kb)
                        hit = inb.copy()
                        hit[inb] = kb[pos[inb]] == ka[inb]
                    else:
                        pos = np.zeros(len(ka), dtype=np.int64)
                        hit = np.zeros(len(ka), dtype=bool)
                    if how == "inner":
                        ia = np.nonzero(hit)[0]
                        out = acc.iloc[ia].reset_index(drop=True)
                        ib = pos[ia]
                        for o in outs[i]:
                            out[o] = pdf_i[o].to_numpy()[ib]
                        return out
                    out = acc.reset_index(drop=True)
                    ib = np.where(hit, pos, 0)
                    miss = ~hit
                    for o in outs[i]:
                        col = pdf_i[o]
                        picked = (
                            col.to_numpy()[ib] if len(pdf_i)
                            else np.zeros(len(ka))
                        )
                        t = _NULLABLE.get(type_of[i][
                            sels[i][outs[i].index(o)]])
                        if t is not None:
                            arr = pd.array(picked, dtype=t)
                            arr[miss] = pd.NA
                            out[o] = arr
                        else:
                            s = pd.Series(picked, dtype=object)
                            s[miss] = None
                            out[o] = s
                    return out
            if how == "left":
                for n, o in zip(sels[i], outs[i]):
                    t = _NULLABLE.get(type_of[i][n])
                    if t is not None:
                        pdf_i[o] = pdf_i[o].astype(t)
            m = acc.merge(pdf_i, on=dim_names, how=how)
            if how == "left" and len(m):
                for n, o in zip(sels[i], outs[i]):
                    if type_of[i][n] not in _NULLABLE and (
                        m[o].dtype == object
                    ):
                        m[o] = m[o].where(m[o].notna(), None)
            return m

        for pdf in batches:
            for sid in pdf["split_id"]:
                rng = splits[int(sid)]
                acc = backend.read_range(
                    uris[0], rng, dim_names + sels[0], at=ats[0],
                    conditions=condss[0],
                )
                if len(acc):
                    acc = acc.rename(columns={
                        n: o for n, o in zip(sels[0], outs[0]) if n != o
                    })
                for i in range(1, n_arr):
                    if not len(acc):
                        break
                    pdf_i = backend.read_range(
                        uris[i], rng, dim_names + sels[i], at=ats[i],
                        conditions=condss[i],
                    )
                    acc = fold(acc, pdf_i, i)
                if len(acc):
                    yield acc[out_cols]

    return split_df.mapInPandas(join_split, schema=ddl)


def write_array(
    df: DataFrame,
    uri: str,
    backend: Optional[ArrayBackend] = None,
    sparse: bool = True,
    encryption_key: Optional[Any] = None,
    ts: Optional[int] = None,
) -> None:
    """Each partition writes an independent fragment — TileDB writers
    need no coordination, so write parallelism is the partition count.

    Default backend mirrors ``read_array``: libtiledb when the wheel
    exists, else the pure-Python native-format writer.
    ``encryption_key`` seals every written fragment with AES-256-GCM.
    ``ts``: explicit unix-millis write timestamp (TileDB's open-at-
    timestamp writes — the one logical write may land several fragments,
    all at ``ts``); None = each task stamps commit time.  Explicit
    timestamps make rapid successive writes deterministic under
    newest-wins (auto timestamps of two sub-millisecond writes could
    tie) and let backfills slot history at the right instant.  CAVEAT
    (libtiledb has the same one): never backfill a ``ts`` INSIDE a
    range another process is concurrently consolidating — the
    consolidated group's [t1, t2] span would cover the new fragment
    and the coverage rule would hide it."""
    if encryption_key is not None and backend is not None:
        raise ValueError(
            "pass encryption_key to the backend constructor when "
            "supplying an explicit backend"
        )
    backend = backend or NativeDecoderBackend(encryption_key=encryption_key)

    def write_part(batches) -> Iterator:
        import pandas as pd  # noqa: PLC0415

        parts = list(batches)
        if parts:
            kw = {} if ts is None else {"ts": ts}
            backend.write(
                uri, pd.concat(parts, ignore_index=True), sparse=sparse,
                **kw,
            )
        yield pd.DataFrame({"written": [len(parts)]})

    df.mapInPandas(write_part, schema="written int").collect()


def consolidate_array(
    spark: SparkSession,
    uri: str,
    target_splits: int = 16,
    encryption_key: Optional[Any] = None,
) -> int:
    """DISTRIBUTED fragment consolidation for native arrays — the
    100 TB twin of ``consolidate_native_array`` (which materializes the
    merged state on one node, fine for small arrays, a non-starter at
    scale).  Each task:

    - reads ONE disjoint dim0 split of the merged state (newest-wins +
      visible deletes applied by the range reader, stats/footer pruning
      intact) — no shuffle, no driver materialization;
    - stages a v19 fragment spanning the consolidated ``[t1, t2]``
      timestamp range WITHOUT a commit marker (invisible).

    The driver then writes ONE ``__commits/<name>.con`` file listing
    every staged fragment — the reader's consolidation-commit era — so
    the whole group becomes visible ATOMICALLY (a crash before the .con
    leaves only invisible staged dirs, never a half-consolidated view).
    Old fragments (strictly narrower ranges) are hidden by the coverage
    rule and listed in a ``.vac`` manifest for ``vacuum_native_array``;
    delete commits inside ``[t1, t2]`` are baked in and retired with
    them.  Returns the number of new fragments (0 = nothing to merge).

    DENSE arrays consolidate the same way over dim0 BANDS of the
    visible fragments' bounding box (the read-presence surface): each
    task reads its band of the merged state — newest-wins overwrite +
    fill materialization applied by the range reader — sorts it
    row-major, and stages a dense band fragment (the writer expands
    unaligned bands to space-tile boundaries and records the true NED,
    so read results are bit-identical pre/post).  Cost is bounded by
    the bbox volume, which IS the dense read surface — libtiledb's
    dense consolidation has the same bound.

    Parity: TileDB's consolidate-then-vacuum two-step with
    consolidation commit files (the v18/v19 fixture layout);
    ha_mytile.cc delegates to the same libtiledb machinery."""
    import os  # noqa: PLC0415
    import uuid as _uuid  # noqa: PLC0415

    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        _delete_conditions,
        _frag_range,
        _frag_ts,
        _fragment_dirs,
        _schema_path,
        open_encryption,
        parse_array_schema,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
        write_native_fragment,
    )

    open_encryption(uri, encryption_key)
    schema = parse_array_schema(_schema_path(uri))
    dense = schema.array_type == "DENSE"
    old = _fragment_dirs(uri)
    # cell-level delete conditions are sparse-only (a dense read
    # materializes fills for every cell — libtiledb has the same rule)
    dels = [] if dense else _delete_conditions(uri, None, old)
    if len(old) < 2 and not dels:
        return 0
    rngs = [_frag_range(os.path.basename(f)) for f in old]
    t1 = min(r[0] for r in rngs)
    t2 = max([r[1] for r in rngs] + [dts for dts, _c in dels])
    # the new fragments' range must be STRICTLY WIDER than every old
    # visible range or the coverage rule cannot retire it
    while any(r == (t1, t2) for r in rngs):
        t2 += 1
    backend = NativeDecoderBackend(encryption_key=encryption_key)
    info = backend.info(uri)
    weights_fn = getattr(backend, "split_weights", None)
    weights = weights_fn(uri) if weights_fn else None
    splits = plan_splits(info, None, target_splits, weights=weights)
    cols = [d.name for d in info.dims] + [a.name for a in info.attrs]
    split_df = _seed_partitions(spark, len(splits))
    key = encryption_key

    dim_names = [d.name for d in info.dims]
    attr_names = [a.name for a in info.attrs]

    def consolidate_part(batches) -> Iterator:
        import pandas as pd  # noqa: PLC0415

        names = []
        for pdf in batches:
            for sid in pdf["split_id"]:
                ranges = splits[int(sid)]
                part = backend.read_range(uri, ranges, cols)
                if not len(part):
                    continue
                if dense:
                    # the merged band is a full box (the range reader
                    # clips to the visible bounding box and materializes
                    # fills): its per-dim min/max IS the written
                    # subarray.  Cells go down in row-major box order;
                    # the writer tile-aligns and records the true NED.
                    part = part.sort_values(dim_names, kind="mergesort")
                    box = [
                        (int(part[d].min()), int(part[d].max()))
                        for d in dim_names
                    ]
                    vol = 1
                    for blo, bhi in box:
                        vol *= bhi - blo + 1
                    if vol != len(part):
                        raise ValueError(
                            f"dense consolidation band is not a full box:"
                            f" {len(part)} cells for {box}"
                        )
                    frag = write_native_fragment(
                        uri,
                        {a: part[a].to_numpy()
                         if part[a].dtype.kind in "iuf" else list(part[a])
                         for a in attr_names},
                        subarray=box,
                        ts_range=(t1, t2),
                        version=19,
                        encryption_key=key,
                        commit=False,
                    )
                else:
                    frag = write_native_fragment(
                        uri,
                        {c: part[c].to_numpy()
                         if part[c].dtype.kind in "iuf" else list(part[c])
                         for c in part.columns},
                        ts_range=(t1, t2),
                        version=19,
                        encryption_key=key,
                        commit=False,  # the driver's .con commits the group
                    )
                names.append(os.path.basename(frag))
        yield pd.DataFrame({"frag": names or [""]})

    staged = [
        r.frag
        for r in split_df.mapInPandas(
            consolidate_part, schema="frag string"
        ).collect()
        if r.frag
    ]
    if not staged:
        return 0
    commits = os.path.join(uri, "__commits")
    if not os.path.isdir(commits):
        raise ValueError(
            "distributed consolidation needs the __commits layout"
        )
    # ONE .con file = the atomic visibility flip for the whole group
    con_name = (
        f"__{t1}_{t2}_{_uuid.uuid4().hex}.con"
    )
    # tmp must NOT end in ".con": a concurrent reader listing
    # __commits mid-write would parse a PARTIAL group as committed
    tmp = os.path.join(commits, "." + con_name + ".tmp")
    with open(tmp, "w") as f:
        for n in staged:
            f.write(f"__commits/{n}.wrt\n")
    os.replace(tmp, os.path.join(commits, con_name))
    # vacuum manifest: everything the consolidated group supersedes
    with open(os.path.join(commits, con_name[:-4] + ".vac"), "w") as f:
        for o in old:
            name = os.path.basename(o)
            f.write(f"{os.path.relpath(o, uri)}\n")
            f.write(f"__commits/{name}.wrt\n")
        for e in os.listdir(commits):
            if e.endswith(".del") and t1 <= _frag_ts(e) <= t2:
                f.write(f"__commits/{e}\n")
    return len(staged)


def plan_consolidation(
    uri: str,
    ratio: float = 3.0,
    min_run: int = 2,
    max_run: int = 10,
) -> list[list[str]]:
    """Size-ratio consolidation PLAN (TileDB's incremental policy): pick
    contiguous timestamp RUNS of visible fragments whose on-disk sizes
    are within ``ratio`` of each other — merge many small recent
    fragments WITHOUT rewriting the big consolidated base, so repeated
    consolidation cost tracks the new data, not the array (the property
    that makes consolidation affordable at 100 TB; full
    ``consolidate_array`` rewrites everything every time).

    A run is admitted only when its widened timestamp span
    (a) contains NO non-run visible fragment's range — the coverage
        rule would wrongly hide it; and
    (b) contains NO visible delete-condition commit — incremental
        merges never bake deletes (a .del survives until a FULL
        consolidation retires it, mirroring libtiledb's
        processed-conditions contract).
    Returns fragment-directory runs, oldest->newest, non-overlapping."""
    import os  # noqa: PLC0415

    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        _frag_range,
        _frag_ts,
        _fragment_dirs,
    )

    frags = _fragment_dirs(uri)
    if len(frags) < min_run:
        return []
    rngs = [_frag_range(os.path.basename(f)) for f in frags]

    def _dir_size(d):
        total = 0
        for root, _dirs, files in os.walk(d):
            for fl in files:
                total += os.path.getsize(os.path.join(root, fl))
        return total

    sizes = [_dir_size(f) for f in frags]
    commits = os.path.join(uri, "__commits")
    del_ts = [
        _frag_ts(e)
        for e in (os.listdir(commits) if os.path.isdir(commits) else [])
        if e.endswith(".del")
    ]

    def _span_ok(i, j):
        t1 = min(r[0] for r in rngs[i:j])
        t2 = max(r[1] for r in rngs[i:j])
        while any(r == (t1, t2) for r in rngs):
            t2 += 1
        others = rngs[:i] + rngs[j:]
        if any(t1 <= a and b <= t2 for a, b in others):
            return None  # would cover a non-run fragment
        if any(t1 <= d <= t2 for d in del_ts):
            return None  # deletes only bake in FULL consolidation
        return (t1, t2)

    runs = []
    i = 0
    while i < len(frags):
        j = i + 1
        while (
            j < len(frags)
            and j - i < max_run
            and max(sizes[i:j + 1]) <= ratio * max(1, min(sizes[i:j + 1]))
        ):
            j += 1
        while j - i >= min_run and _span_ok(i, j) is None:
            j -= 1  # shrink from the right until the span is admissible
        if j - i >= min_run:
            runs.append(frags[i:j])
            i = j
        else:
            i += 1
    return runs


def consolidate_array_incremental(
    spark: SparkSession,
    uri: str,
    ratio: float = 3.0,
    min_run: int = 2,
    max_run: int = 10,
    target_splits: int = 8,
    encryption_key: Optional[Any] = None,
) -> int:
    """Distributed INCREMENTAL consolidation for SPARSE native arrays:
    execute :func:`plan_consolidation`'s size-ratio runs.  Per run, each
    task reads one dim0 split of the run-SUBSET merged state (the
    ``frags=`` reader — newest-wins WITHIN the run only; deletes are
    era-bounded and, by plan construction, never baked) and stages an
    invisible v19 fragment spanning the run's widened [t1, t2]; one
    ``.con`` per run flips it visible atomically and a ``.vac`` lists
    the run's members (never ``.del`` commits — those outlive
    incremental merges).  Cells in non-run fragments are untouched:
    a run cell's newest in-run value lands in the new fragment, which
    sorts exactly where the run sorted, so the global newest-wins order
    is unchanged.  Returns the number of new fragments (0 = no
    admissible runs — e.g. sizes too skewed, nothing to merge).

    DENSE arrays (round 7): a dense subset-merge materializes FILLS for
    gap cells inside the run's union bounding box, which would shadow
    an OLDER non-run fragment's real data at those coordinates — so a
    dense run is admitted only when that bounding box is provably
    DISJOINT from every older visible fragment's written box (footer
    NEDs; no provable footer => the run is refused).  That subset
    covers the 100 TB append workload — daily band writes never overlap
    history — while overwrite-into-history patterns still require the
    full ``consolidate_array`` (libtiledb documents the same dense
    fill-shadowing caveat).  Newer non-run fragments need no box check:
    they merge after the run and overwrite it wherever they overlap."""
    import os  # noqa: PLC0415
    import uuid as _uuid  # noqa: PLC0415

    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        _frag_range,
        _fragment_dirs,
        _schema_path,
        open_encryption,
        parse_array_schema,
        parse_fragment_footer,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
        write_native_fragment,
    )

    open_encryption(uri, encryption_key)
    schema = parse_array_schema(_schema_path(uri))
    dense = schema.array_type == "DENSE"
    runs = plan_consolidation(
        uri, ratio=ratio, min_run=min_run, max_run=max_run
    )

    def _ned_box(frag):
        fm = os.path.join(frag, "__fragment_metadata.tdb")
        footer = parse_fragment_footer(fm, schema)
        if footer is None:
            return None
        box = []
        for ned in footer.non_empty_domain:
            if ned is None:
                return None  # untrusted dim: no provable box
            box.append(ned)
        return box

    def _run_bbox(run):
        boxes = [_ned_box(f) for f in run]
        if any(b is None for b in boxes):
            return None
        return [
            (min(b[i][0] for b in boxes), max(b[i][1] for b in boxes))
            for i in range(len(schema.dims))
        ]

    def _dense_run_safe(run, frag_listing):
        """True iff the run's union bounding box cannot shadow an older
        non-run fragment: every strictly-older fragment has a provable
        written box disjoint from the run's bbox."""
        bbox = _run_bbox(run)
        if bbox is None:
            return False
        run_names = {os.path.basename(f) for f in run}
        run_t1 = min(_frag_range(os.path.basename(f))[0] for f in run)
        for f in frag_listing:
            nm = os.path.basename(f)
            if nm in run_names or _frag_range(nm)[1] >= run_t1:
                continue  # in-run, or newer: merges after the run
            ob = _ned_box(f)
            if ob is None or all(
                alo <= bhi and blo <= ahi
                for (alo, ahi), (blo, bhi) in zip(bbox, ob)
            ):
                return False  # unprovable or overlapping: refuse
        return True

    if dense and runs:
        listing = _fragment_dirs(uri)
        runs = [r for r in runs if _dense_run_safe(r, listing)]
    if not runs:
        return 0
    all_rngs = {
        os.path.basename(f): _frag_range(os.path.basename(f))
        for run in runs for f in run
    }

    def _span(run):
        t1 = min(all_rngs[os.path.basename(f)][0] for f in run)
        t2 = max(all_rngs[os.path.basename(f)][1] for f in run)
        from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
            _fragment_dirs,
        )
        taken = [
            _frag_range(os.path.basename(f)) for f in _fragment_dirs(uri)
        ]
        while (t1, t2) in taken:
            t2 += 1
        return t1, t2

    backend = NativeDecoderBackend(encryption_key=encryption_key)
    info = backend.info(uri)
    weights_fn = getattr(backend, "split_weights", None)
    weights = weights_fn(uri) if weights_fn else None
    splits = plan_splits(info, None, target_splits, weights=weights)
    dim_names = [d.name for d in info.dims]
    attr_names = [a.name for a in info.attrs]
    cols = dim_names + attr_names
    spans = [_span(run) for run in runs]
    tasks = [
        (ri, si) for ri in range(len(runs)) for si in range(len(splits))
    ]
    # (run_id, split_id) was enumerated run-major, so both components
    # derive from the seed row id arithmetically — one task per pair,
    # no shuffle (see _seed_partitions)
    from pyspark.sql import functions as F  # noqa: PLC0415

    task_df = _seed_partitions(spark, len(tasks), colname="task_id").select(
        "task_id",
        (F.col("task_id") / len(splits)).cast("int").alias("run_id"),
        (F.col("task_id") % len(splits)).cast("int").alias("split_id"),
    )
    key = encryption_key

    def consolidate_part(batches) -> Iterator:
        import pandas as pd  # noqa: PLC0415

        out = []
        for pdf in batches:
            for ri, si in zip(pdf["run_id"], pdf["split_id"]):
                run, (t1, t2) = runs[int(ri)], spans[int(ri)]
                part = backend.read_range(
                    uri, splits[int(si)], cols, frags=run
                )
                if not len(part):
                    continue
                if dense:
                    # the run-subset merged band is a full box (the
                    # reader clips to the run bbox and materializes
                    # fills) — same shape as consolidate_array's dense
                    # branch; admissibility proved the bbox disjoint
                    # from every older fragment, so those fills shadow
                    # nothing
                    part = part.sort_values(dim_names, kind="mergesort")
                    box = [
                        (int(part[d].min()), int(part[d].max()))
                        for d in dim_names
                    ]
                    vol = 1
                    for blo, bhi in box:
                        vol *= bhi - blo + 1
                    if vol != len(part):
                        raise ValueError(
                            "dense incremental band is not a full box:"
                            f" {len(part)} cells for {box}"
                        )
                    frag = write_native_fragment(
                        uri,
                        {a: part[a].to_numpy()
                         if part[a].dtype.kind in "iuf" else list(part[a])
                         for a in attr_names},
                        subarray=box,
                        ts_range=(t1, t2),
                        version=19,
                        encryption_key=key,
                        commit=False,
                    )
                else:
                    frag = write_native_fragment(
                        uri,
                        {c: part[c].to_numpy()
                         if part[c].dtype.kind in "iuf" else list(part[c])
                         for c in part.columns},
                        ts_range=(t1, t2),
                        version=19,
                        encryption_key=key,
                        commit=False,
                    )
                out.append((int(ri), os.path.basename(frag)))
        yield pd.DataFrame(
            out or [(-1, "")], columns=["run_id", "frag"]
        )

    staged = [
        (r.run_id, r.frag)
        for r in task_df.mapInPandas(
            consolidate_part, schema="run_id int, frag string"
        ).collect()
        if r.frag
    ]
    commits = os.path.join(uri, "__commits")
    if staged and not os.path.isdir(commits):
        raise ValueError(
            "incremental consolidation needs the __commits layout"
        )
    frag_root = os.path.join(uri, "__fragments")
    if not os.path.isdir(frag_root):
        frag_root = uri

    def _still_admissible(run, t1, t2):
        """Re-check plan_consolidation's _span_ok against a FRESH
        listing at commit time (round-7 advisor finding): a fragment or
        .del committed while the run's tasks were staging can make the
        widened span cover a non-run fragment (the coverage rule would
        hide it) or bracket a new delete commit (which incremental
        merges must never bake).  The .con flip is what makes the new
        fragment visible, so checking here closes the plan->commit race."""
        from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
            _frag_ts,
            _fragment_dirs,
        )

        run_names = {os.path.basename(f) for f in run}
        for f in _fragment_dirs(uri):
            nm = os.path.basename(f)
            if nm in run_names:
                continue
            a, b = _frag_range(nm)
            if t1 <= a and b <= t2:
                return False
        return not any(
            e.endswith(".del") and t1 <= _frag_ts(e) <= t2
            for e in os.listdir(commits)
        )

    n_total = 0
    for ri, run in enumerate(runs):
        names = [nm for r, nm in staged if r == ri]
        if not names:
            continue
        t1, t2 = spans[ri]
        if not _still_admissible(run, t1, t2) or (
            dense and not _dense_run_safe(run, _fragment_dirs(uri))
        ):
            # Abort this run: its staged fragments never got a commit
            # marker (invisible by the crash-atomicity contract); drop
            # them from disk instead of leaving orphan directories.
            import shutil  # noqa: PLC0415

            for nm in names:
                shutil.rmtree(
                    os.path.join(frag_root, nm), ignore_errors=True
                )
            continue
        con_name = f"__{t1}_{t2}_{_uuid.uuid4().hex}.con"
        tmp = os.path.join(commits, "." + con_name + ".tmp")
        with open(tmp, "w") as f:
            for nm in names:
                f.write(f"__commits/{nm}.wrt\n")
        os.replace(tmp, os.path.join(commits, con_name))
        with open(os.path.join(commits, con_name[:-4] + ".vac"), "w") as f:
            for o in run:
                nm = os.path.basename(o)
                f.write(f"{os.path.relpath(o, uri)}\n")
                f.write(f"__commits/{nm}.wrt\n")
        n_total += len(names)
    return n_total


def maintain_array(
    spark: SparkSession,
    uri: str,
    modes: Sequence[str] = (
        "fragments", "commits", "array_meta", "fragment_meta",
    ),
    vacuum: bool = True,
    incremental: bool = True,
    encryption_key: Optional[Any] = None,
    target_splits: int = 16,
    expire_before: Optional[int] = None,
) -> dict:
    """One-call maintenance loop — the mode-dispatch surface of
    libtiledb's ``Array.consolidate(config)`` where
    ``sm.consolidation.mode`` picks ``fragments`` / ``commits`` /
    ``array_meta`` / ``fragment_meta`` and a separate vacuum pass
    retires superseded artifacts.  Runs the requested modes in the
    safe order (data fragments first so the metadata fold covers the
    merged layout), then one vacuum:

    * ``fragments``: ``incremental=True`` (default) runs size-ratio
      incremental consolidation (cost tracks appended data — the
      100 TB default); False runs full distributed consolidation.
    * ``commits``: fold per-fragment commit markers into one .con.
    * ``array_meta``: fold the __meta entry history.
    * ``fragment_meta``: fold footers/stats/tile-weights into one
      __fragment_meta object (planning opens O(1) files; built
      distributed over ``spark``).
    * ``expire_before=<unix_ms>`` (optional, runs FIRST): TTL
      retention — physically drop fragments wholly older than the
      cutoff and any `.del` that can no longer match
      (``expire_native_fragments``); the daily keep-N-days pass.

    Returns per-mode results: fragments merged / paths written /
    entries vacuumed.  Unknown modes raise (libtiledb rejects unknown
    consolidation modes the same way)."""
    from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
        consolidate_array_metadata,
        consolidate_commits,
        consolidate_fragment_meta,
        vacuum_native_array,
    )

    known = {"fragments", "commits", "array_meta", "fragment_meta"}
    unknown = [m for m in modes if m not in known]
    if unknown:
        raise ValueError(f"unknown consolidation mode(s): {unknown}")
    if expire_before is not None:
        from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
            expire_native_fragments,
        )
    if encryption_key is not None:
        # register up front: array_meta/commits folds read+write sealed
        # generic tiles through the process key registry even when the
        # fragments mode (which would also register it) is not selected
        from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
            open_encryption,
        )

        open_encryption(uri, encryption_key)
    out: dict = {}
    if expire_before is not None:
        out["expired"] = expire_native_fragments(uri, expire_before)
    if "fragments" in modes:
        if incremental:
            out["fragments"] = consolidate_array_incremental(
                spark, uri, target_splits=target_splits,
                encryption_key=encryption_key,
            )
        else:
            out["fragments"] = consolidate_array(
                spark, uri, target_splits=target_splits,
                encryption_key=encryption_key,
            )
    if "commits" in modes:
        out["commits"] = consolidate_commits(uri)
    if "array_meta" in modes:
        out["array_meta"] = consolidate_array_metadata(uri)
    if "fragment_meta" in modes:
        # last: the fold then covers the post-consolidation layout
        out["fragment_meta"] = consolidate_fragment_meta(
            uri, encryption_key=encryption_key, spark=spark,
            target_splits=target_splits,
        )
    if vacuum:
        out["vacuumed"] = vacuum_native_array(uri)
    return out
