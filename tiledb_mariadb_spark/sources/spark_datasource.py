"""Spark Python Data Source for native TileDB arrays (Spark 4
Python Data Source API): ``spark.read.format("tiledb_native")`` /
``df.write.format("tiledb_native")`` over bare on-disk arrays — schema
from the array's own blob, one Spark InputPartition per domain split,
REAL filter pushdown through Catalyst's pushFilters hook (dim ranges
prune partitions before launch; attribute predicates evaluate inside the
backend before rows cross the Arrow boundary), Arrow-batch reads, and
writes that land one native fragment per task.

This is the idiomatic-Spark face of the connector: what
``tiledb_array.read_array``/``write_array`` express as function calls,
this module surfaces through the planner itself — the same integration
point the reference occupies inside MariaDB (the handler +
cond_push hooks, ha_mytile.cc:2783-2882), re-expressed as Spark's
official extension API.

SQL table names are not served from here: :func:`sql_table_from_array`
registers a view over the JVM ``tiledb_agg`` format
(``sources/jvm_agg.py``), whose scans plan and read through the resident
bridge with no Python planner worker per query.  Its read options are
the ones listed below, with the same meaning.

Options:
- ``path``   array directory (required)
- ``at``     unix-millis time travel (open_at parity)
- ``since``  unix-millis CDC window start: only writes in [since, at]
- ``target_splits``  max partitions (default 16)
- ``encryption_key``  the array's AES-256-GCM key
- ``bbox`` / ``spatial_wkb`` + ``spatial_dims`` + ``spatial_pad``
  box and polygon-MBR windows on the dims
  (``tiledb_array.spatial_dim_ranges``)
- write: ``dims`` comma-separated dim column names +
  ``domain.<dim>`` "lo:hi" bounds — auto-creates the array on first
  write when it does not exist.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterable, Iterator, List

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType


def _backend(encryption_key=None):
    from tiledb_mariadb_spark.sources.tiledb_array import (  # noqa: PLC0415
        NativeDecoderBackend,
    )

    return NativeDecoderBackend(encryption_key=encryption_key)


@dataclass
class _SplitPartition(InputPartition):
    ranges: list  # inclusive per-dim (lo, hi)


class TileDBNativeDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "tiledb_native"

    def _uri(self) -> str:
        uri = self.options.get("path") or self.options.get("location")
        if not uri:
            raise ValueError("tiledb_native requires the 'path' option")
        # SQL `CREATE TABLE ... USING tiledb_native` URI-ifies the path
        # ('file:/x' or 'file:///x'); the backend wants a plain fs path
        if uri.startswith("file:"):
            uri = uri[5:]
            while uri.startswith("//"):
                uri = uri[1:]
        if "://" in uri:
            # remote schemes (tiledb:// REST, object stores) refuse
            # loudly AT OPEN — never a downstream path failure
            from tiledb_mariadb_spark.sources.storage import (  # noqa: PLC0415
                require_local,
            )

            uri = require_local(uri)
        return uri

    def _at(self):
        at = self.options.get("at")
        return int(at) if at is not None else None

    def _since(self):
        # inclusive LOWER time bound (TileDB timestamp_start): with
        # 'at' this reads the WINDOW of fragments written in
        # [since, at] — the CDC-export shape (only the delta, newest-
        # wins within it)
        since = self.options.get("since")
        return int(since) if since is not None else None

    def _key(self):
        # AES-256-GCM table key (the reference's encryption_key table
        # option).  Lives only in options/closures, never on disk.
        return self.options.get("encryption_key")

    def schema(self) -> str:
        info = _backend(self._key()).info(self._uri(), at=self._at())
        return ", ".join(
            f"`{f.name}` {f.dtype}" for f in info.dims + info.attrs
        )

    def reader(self, schema: StructType) -> "TileDBNativeReader":
        return TileDBNativeReader(
            self._uri(), self._at(),
            int(self.options.get("target_splits", 16)),
            [f.name for f in schema.fields],
            encryption_key=self._key(),
            since=self._since(),
            bbox=self.options.get("bbox"),
            spatial_wkb=self.options.get("spatial_wkb"),
            spatial_dims=self.options.get("spatial_dims"),
            spatial_pad=self.options.get("spatial_pad"),
        )

    def writer(self, schema: StructType, overwrite: bool) -> "TileDBNativeWriter":
        if overwrite:
            raise ValueError(
                "tiledb_native writes are append-only fragments "
                "(TileDB model); use mode('append')"
            )
        return TileDBNativeWriter(self._uri(), dict(self.options), schema)


_COND_OPS = {
    EqualTo: "=",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
}


class TileDBNativeReader(DataSourceReader):
    def __init__(self, uri, at, target_splits, columns, encryption_key=None,
                 bbox=None, spatial_wkb=None, spatial_dims=None,
                 spatial_pad=None, since=None):
        self.uri, self.at = uri, at
        self.since = since
        self.target_splits = target_splits
        self.columns = columns
        self.encryption_key = encryption_key
        self.conditions: list = []
        info = _backend(encryption_key).info(uri, at=at)
        self._dim_names = [d.name for d in info.dims]
        self._attr_names = [a.name for a in info.attrs]
        self._info = info
        from tiledb_mariadb_spark.sources.tiledb_array import (  # noqa: PLC0415
            spatial_dim_ranges,
        )

        # bbox / spatial options seed the pushed dim ranges
        self.dim_ranges: dict = spatial_dim_ranges(
            self._dim_names, bbox, spatial_wkb, spatial_dims, spatial_pad
        )

    def _narrow(self, name, lo, hi):
        from tiledb_mariadb_spark.sources.tiledb_array import (  # noqa: PLC0415
            narrow_range,
        )

        self.dim_ranges[name] = narrow_range(self.dim_ranges.get(name), lo, hi)

    def pushFilters(self, filters: List[Filter]) -> Iterable[Filter]:
        """Catalyst hands every eligible predicate here; we absorb what
        the storage layer can evaluate (the reference's cond_push) and
        return the rest as residuals for Spark to re-apply."""

        def _add_points(name, pts):
            cur = self.dim_ranges.get(name)
            if cur is None:
                self.dim_ranges[name] = [(v, v) for v in pts]
            elif isinstance(cur, tuple):
                lo, hi = cur
                self.dim_ranges[name] = [
                    (v, v)
                    for v in pts
                    if (lo is None or v >= lo) and (hi is None or v <= hi)
                ]
            else:
                keep = {v for v, _ in cur}
                self.dim_ranges[name] = [(v, v) for v in pts if v in keep]

        residual = []
        for f in filters:
            attr = getattr(f, "attribute", None)
            col = attr[0] if attr and len(attr) == 1 else None
            known = col in self._dim_names or col in self._attr_names
            ftype = type(f)
            if not known:
                residual.append(f)
                continue
            if col in self._dim_names and ftype in _COND_OPS:
                v = f.value
                if ftype is EqualTo:
                    self._narrow(col, v, v)
                elif ftype is GreaterThanOrEqual:
                    self._narrow(col, v, None)
                elif ftype is LessThanOrEqual:
                    self._narrow(col, None, v)
                elif ftype is GreaterThan and isinstance(v, int):
                    self._narrow(col, v + 1, None)
                elif ftype is LessThan and isinstance(v, int):
                    self._narrow(col, None, v - 1)
                else:
                    residual.append(f)
                    continue
                # dims are exactly enforced by the range scan: absorbed
                continue
            if ftype in _COND_OPS:
                self.conditions.append((col, _COND_OPS[ftype], f.value))
            elif ftype is IsNull:
                self.conditions.append((col, "is_null"))
            elif ftype is IsNotNull:
                self.conditions.append((col, "is_not_null"))
            elif ftype is In and col in self._dim_names and all(
                isinstance(v, int) for v in f.value
            ):
                # EXACT multi-range absorption (MRR parity): one point
                # range per IN value, merged/split by plan_splits — the
                # holes between values are never scanned and no residual
                # re-check is needed
                _add_points(col, sorted(set(f.value)))
            elif ftype is In and col in self._attr_names and all(
                v is None or isinstance(v, (int, float, str, bool))
                for v in f.value
            ):
                # attr IN-list: pushed as one backend condition — exact
                # isin evaluation inside the task, and fragments whose
                # stats/bloom prove EVERY member absent skip entirely.
                # NULL members drop (IN's NULL never matches, 3VL).
                self.conditions.append((
                    col, "in",
                    tuple(v for v in f.value if v is not None),
                ))
            else:
                residual.append(f)
        return residual

    def partitions(self):
        """One partition per split of the shared scan plan
        (``scan_ranges`` then ``scan_splits``); [] when the plan is
        provably empty, which Spark runs as one ``None`` partition."""
        from tiledb_mariadb_spark.sources.tiledb_array import (  # noqa: PLC0415
            scan_ranges,
            scan_splits,
        )

        be = _backend(self.encryption_key)
        ranges = scan_ranges(be, self.uri, self._info, self.dim_ranges,
                             self.conditions, self.at, self.since)
        if ranges is None:
            return []
        splits = scan_splits(be, self.uri, self._info, ranges,
                             self.target_splits, self.at, self.since)
        return [_SplitPartition(s) for s in splits]

    _PA_TYPES = {
        "bigint": "int64", "int": "int32", "smallint": "int16",
        "tinyint": "int8", "double": "float64", "float": "float32",
        "string": "string", "boolean": "bool", "binary": "binary",
    }

    def read(self, partition: _SplitPartition) -> Iterator:
        import pyarrow as pa  # noqa: PLC0415

        if partition is None:
            return  # provably empty plan
        kw = {} if self.since is None else {"since": self.since}
        pdf = _backend(self.encryption_key).read_range(
            self.uri,
            partition.ranges,
            self.columns,
            at=self.at,
            conditions=self.conditions,
            **kw,
        )
        if not len(pdf):
            return
        # explicit Arrow schema: a split whose nullable column is
        # all-None must not drift to the null type (schema mismatch
        # across partitions)
        ddl = {f.name: f.dtype for f in self._info.dims + self._info.attrs}

        def _pa_type(d: str):
            if d.startswith("array<") and d.endswith(">"):
                inner = d[6:-1]
                return pa.list_(
                    getattr(pa, self._PA_TYPES.get(inner, "string"))()
                )
            return getattr(pa, self._PA_TYPES.get(d, "string"))()

        fields = [
            pa.field(c, _pa_type(ddl.get(c, "string")))
            for c in self.columns
        ]
        yield pa.RecordBatch.from_pandas(
            pdf, schema=pa.schema(fields), preserve_index=False
        )


@dataclass
class _WroteFragment(WriterCommitMessage):
    n_rows: int


class TileDBNativeWriter(DataSourceWriter):
    def __init__(self, uri, options, schema):
        self.uri = uri
        self.options = options
        self.schema = schema
        self._ensure_array()

    def _ensure_array(self) -> None:
        import os  # noqa: PLC0415

        from tiledb_mariadb_spark.sources.tiledb_array import (  # noqa: PLC0415
            ArrayInfo,
            AttrInfo,
            DimInfo,
        )

        if os.path.isfile(os.path.join(self.uri, "__array_schema.tdb")):
            return
        dims_opt = self.options.get("dims")
        if not dims_opt:
            raise ValueError(
                "array does not exist; pass option('dims', 'col,...') "
                "(+ optional 'domain.<dim>' = 'lo:hi') to auto-create"
            )
        dim_names = [d.strip() for d in dims_opt.split(",")]
        field_types = {f.name: f.dataType.simpleString() for f in self.schema.fields}
        dims = []
        for dn in dim_names:
            dom = self.options.get(f"domain.{dn}", "0:9223372036854775806")
            lo, hi = (int(x) for x in dom.split(":"))
            dims.append(DimInfo(dn, field_types[dn], (lo, hi)))
        attrs = [
            AttrInfo(f.name, f.dataType.simpleString(), f.nullable)
            for f in self.schema.fields
            if f.name not in dim_names
        ]
        # filter DDL passthrough (the reference's CREATE TABLE options):
        # option("filters.<col>", "GZIP=6,BYTESHUFFLE"), plus
        # coordinate/offset/validity_filters, compressor,
        # string_compressor — parsed and honored by the schema writer
        create_opts = {
            k: v
            for k, v in self.options.items()
            if k.startswith("filters.")
            or k in (
                "compressor", "string_compressor", "coordinate_filters",
                "offset_filters", "validity_filters", "bloom",
            )
        }
        _backend(self.options.get("encryption_key")).create(
            self.uri, ArrayInfo(dims=dims, attrs=attrs, options=create_opts)
        )

    def write(self, iterator: Iterator) -> _WroteFragment:
        import pandas as pd  # noqa: PLC0415

        rows = list(iterator)
        if not rows:
            return _WroteFragment(0)
        pdf = pd.DataFrame(rows, columns=[f.name for f in self.schema.fields])
        _backend(self.options.get("encryption_key")).write(self.uri, pdf)
        return _WroteFragment(len(rows))

    def commit(self, messages) -> None:
        # fragments are independently durable once written (TileDB's
        # commit model): nothing to finalize
        pass

    def abort(self, messages) -> None:
        # written fragments from failed tasks would need fragment GC in a
        # full implementation; newest-wins reads stay correct regardless
        pass


class TileDBNativeStreamReader(SimpleDataSourceStreamReader):
    """Streaming SOURCE over a native array: the offset is the set of
    committed fragment directories; each micro-batch emits exactly the
    rows of fragments that appeared since the last offset (TileDB's
    append-only fragment model makes the change feed exact and
    replayable — readBetweenOffsets re-decodes the same immutable
    fragments)."""

    def __init__(self, uri: str, columns: list, encryption_key=None):
        self.uri = uri
        self.columns = columns
        self.encryption_key = encryption_key

    def _frags(self) -> list:
        import os  # noqa: PLC0415

        from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
            _fragment_dirs,
        )

        return [os.path.basename(f) for f in _fragment_dirs(self.uri)]

    def _rows_of(self, frag_names: list) -> Iterator:
        """Rows of exactly the named fragments (each decoded in
        isolation — fragments are immutable, so a batch's content never
        changes on replay).  Only the requested columns decode; an attr
        evolved in after a fragment was written reads as its fill, as
        in the batch read."""
        import os  # noqa: PLC0415

        from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
            _field_cells,
            _field_file,
            _fragment_dirs,
            _np_field,
            _schema_path,
            parse_array_schema,
        )

        if not frag_names:
            return
        if self.encryption_key is not None:
            from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
                open_encryption,
            )

            open_encryption(self.uri, self.encryption_key)
        wanted = set(frag_names)
        schema = parse_array_schema(_schema_path(self.uri))
        by_name = {d.name: ("d", i, d) for i, d in enumerate(schema.dims)}
        by_name.update(
            {a.name: ("a", i, a) for i, a in enumerate(schema.attrs)}
        )
        d0 = schema.dims[0]
        for f in _fragment_dirs(self.uri):
            if os.path.basename(f) not in wanted:
                continue
            n = _field_cells(_field_file(f, d0.name, 0, "d"), d0)
            cols = [
                _np_field(f, schema, fld, i, kind, 0, n).tolist()
                for kind, i, fld in (by_name[c] for c in self.columns)
            ]
            yield from zip(*cols)

    def initialOffset(self) -> dict:
        return {"frags": []}

    def read(self, start: dict):
        seen = set(start.get("frags", []))
        now = self._frags()
        new = [f for f in now if f not in seen]
        # materialized list: the runner copies/pickles the batch payload
        return list(self._rows_of(new)), {"frags": now}

    def readBetweenOffsets(self, start: dict, end: dict):
        seen = set(start.get("frags", []))
        return list(
            self._rows_of(
                [f for f in end.get("frags", []) if f not in seen]
            )
        )

    def commit(self, end: dict) -> None:
        pass  # fragments are immutable; nothing to clean up


class TileDBNativeStreamWriter(DataSourceStreamWriter):
    """Streaming SINK: every epoch's partitions land as independent
    native fragments — micro-batch commit IS TileDB's fragment-commit
    model, so there is nothing extra to finalize."""

    def __init__(self, uri, options, schema):
        self._w = TileDBNativeWriter(uri, options, schema)

    def write(self, iterator: Iterator) -> _WroteFragment:
        return self._w.write(iterator)

    def commit(self, messages, batchId) -> None:
        pass

    def abort(self, messages, batchId) -> None:
        pass


def _ds_simple_stream_reader(self, schema: StructType):
    return TileDBNativeStreamReader(
        self._uri(), [f.name for f in schema.fields],
        encryption_key=self._key(),
    )


def _ds_stream_writer(self, schema: StructType, overwrite: bool):
    return TileDBNativeStreamWriter(self._uri(), dict(self.options), schema)


TileDBNativeDataSource.simpleStreamReader = _ds_simple_stream_reader
TileDBNativeDataSource.streamWriter = _ds_stream_writer


def register_tiledb_native(spark) -> None:
    """Register the data source on a session:
    ``spark.read.format('tiledb_native').option('path', uri).load()``;
    streaming: ``spark.readStream.format('tiledb_native')`` emits new
    fragments per micro-batch, ``df.writeStream.format('tiledb_native')``
    lands fragments per epoch."""
    spark.dataSource.register(TileDBNativeDataSource)


# the read options of format("tiledb_native"), which a SQL table view
# carries to tiledb_agg
_VIEW_OPTIONS = frozenset({
    "at", "since", "target_splits", "encryption_key", "bbox",
    "spatial_wkb", "spatial_dims", "spatial_pad",
})


def sql_table_from_array(spark, table_name: str, uri: str, **options) -> None:
    """SQL-surface registration — the ``CREATE TABLE ... ENGINE=mytile
    uri='...'`` analog: the bare array becomes a plain SQL table name, a
    temp view over the JVM ``tiledb_agg`` format (``jvm_agg.agg_reader``).
    Each query plans through the resident bridge's ``splits`` command and
    reads Arrow batches from its ``rows`` command, with filters, columns,
    aggregates and top-k pushed through DataSource V2; no Python
    DataSource planner runs, so ``TileDBNativeReader`` options and hooks
    no longer apply to the view.  The read options of
    ``format("tiledb_native")`` (``at``, ``since``, ``target_splits``,
    ``encryption_key``, ``bbox``, ``spatial_*``) keep their meaning; any
    other option raises ValueError instead of being dropped.  A view is
    used because Spark's catalog ``CREATE TABLE ... USING`` does not
    forward OPTIONS to a Python data source's reads (verified on 4.1)."""
    unknown = sorted(set(options) - _VIEW_OPTIONS)
    if unknown:
        raise ValueError(
            f"sql_table_from_array: unknown read option(s) {unknown}; "
            f"known: {sorted(_VIEW_OPTIONS)}"
        )
    from tiledb_mariadb_spark.sources.jvm_agg import agg_reader  # noqa: PLC0415

    agg_reader(spark, uri, **options).load().createOrReplaceTempView(
        table_name
    )
