"""Spark Python Data Source for native TileDB arrays (Spark 4 Python
Data Source API): the WRITE and STREAMING face of the connector.
``df.write.format("tiledb_native")`` lands one native fragment per task
and auto-creates the array on first write; ``readStream`` emits the
rows of newly committed fragments per micro-batch and ``writeStream``
lands fragments per epoch.  The schema comes from the array's own blob.

Batch reads are not served here.  Every batch read of an array goes
through the JVM ``tiledb_agg`` format (``sources/jvm_agg.py``): call
``jvm_agg.agg_reader(spark, uri, **options).load()``, or name the array
in SQL with :func:`sql_table_from_array`.  That format pushes dim
ranges, attribute comparisons, ``IN`` and ``IS [NOT] NULL`` into the
resident bridge's scan planner (the handler + cond_push hooks of the
reference, ha_mytile.cc:2783-2882), so there is one read path into an
array.  ``spark.read.format("tiledb_native")`` raises and names it.

Options:
- ``path``   array directory (required)
- ``at``     unix-millis snapshot the schema is read at
- ``encryption_key``  the array's AES-256-GCM key
- write: ``dims`` comma-separated dim column names +
  ``domain.<dim>`` "lo:hi" bounds — auto-creates the array on first
  write when it does not exist.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    DataSourceWriter,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType


def _backend(encryption_key=None):
    from tiledb_mariadb_spark.sources.tiledb_array import (  # noqa: PLC0415
        NativeDecoderBackend,
    )

    return NativeDecoderBackend(encryption_key=encryption_key)


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

    def _key(self):
        # AES-256-GCM table key (the reference's encryption_key table
        # option).  Lives only in options/closures, never on disk.
        return self.options.get("encryption_key")

    def schema(self) -> str:
        info = _backend(self._key()).info(self._uri(), at=self._at())
        return ", ".join(
            f"`{f.name}` {f.dtype}" for f in info.dims + info.attrs
        )

    def reader(self, schema: StructType):
        raise NotImplementedError(
            "format('tiledb_native') has no batch read: read an array "
            "with jvm_agg.agg_reader(spark, uri, **options).load() or "
            "name it in SQL with sql_table_from_array(spark, name, uri, "
            "**options) (both format('tiledb_agg'))"
        )

    def writer(self, schema: StructType, overwrite: bool) -> "TileDBNativeWriter":
        if overwrite:
            raise ValueError(
                "tiledb_native writes are append-only fragments "
                "(TileDB model); use mode('append')"
            )
        return TileDBNativeWriter(self._uri(), dict(self.options), schema)


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
    visible fragment names; each micro-batch emits exactly the rows of
    fragments that appeared since the last offset (TileDB's append-only
    fragment model makes the change feed exact and replayable —
    readBetweenOffsets re-decodes the same immutable fragments).

    Consolidation adds a fragment whose name spans the timestamps of
    everything it merged.  It carries no new rows, so it emits only the
    originals it merged that the stream never emitted, decoded from disk
    while they are still there (until vacuum).  When vacuum removed
    them, a merged fragment whose span reaches past the fragments the
    stream emitted raises ValueError naming it, as a ``since`` window
    destroyed by consolidation does, instead of re-emitting or dropping
    rows.  Names are all a vacuumed history leaves, so two cases are
    judged by span alone: an unseen fragment pinned to a timestamp
    between two emitted ones is not detected, and a merged delete newer
    than every emitted fragment raises."""

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

    def _new_frags(self, seen: set, now: list) -> list:
        """The fragments whose rows a batch from the offset ``seen`` to
        the visible fragments ``now`` emits: new plain writes, and the
        unseen originals of new merged fragments."""
        import os  # noqa: PLC0415

        from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
            _committed_fragments,
            _frag_range,
            _frag_ts,
        )

        def inside(r, s):
            return s[0] <= r[0] and r[1] <= s[1] and r != s

        seen_spans = [_frag_range(n) for n in seen]

        def done(name):  # emitted, or merged into an emitted fragment
            r = _frag_range(name)
            return name in seen or any(inside(r, s) for s in seen_spans)

        on_disk = _committed_fragments(self.uri)[1]
        commits = os.path.join(self.uri, "__commits")
        dels = [
            _frag_ts(e) for e in (
                os.listdir(commits) if os.path.isdir(commits) else []
            ) if e.endswith(".del")
        ]
        out: list = []

        def resolve(name):
            span = _frag_range(name)
            if span[0] == span[1]:
                out.append(name)  # a plain write
                return
            inner = [o for o in on_disk if inside(_frag_range(o), span)]
            children = [
                o for o in inner
                if not any(
                    inside(_frag_range(o), _frag_range(p)) for p in inner
                )
            ]
            for c in children:
                if not done(c):
                    resolve(c)
            # a merged span runs from its oldest original's start to its
            # newest original's (or baked delete's) end: an end that no
            # emitted or on-disk original reaches was a fragment this
            # stream never emitted, and vacuum removed it
            ends = [_frag_range(c) for c in children]
            ends += [r for r in seen_spans if inside(r, span)]
            ends += [(t, t) for t in dels if span[0] <= t <= span[1]]
            if not (
                any(lo == span[0] for lo, _hi in ends)
                and any(hi == span[1] for _lo, hi in ends)
            ):
                raise ValueError(
                    f"stream source: consolidated fragment {name} merged "
                    "fragments this stream never emitted, and vacuum "
                    "removed them; their rows would be silently lost"
                )

        for f in now:
            if not done(f):
                resolve(f)
        return out

    def _rows_of(self, frag_names: list) -> Iterator:
        """Rows of exactly the named fragments, oldest first (each
        decoded in isolation — fragments are immutable, so a batch's
        content never changes on replay; a named fragment that is gone
        raises).  Only the requested columns decode; an attr evolved in
        after a fragment was written reads as its fill, as in the batch
        read."""
        import os  # noqa: PLC0415

        from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
            _committed_fragments,
            _field_cells,
            _field_file,
            _frag_ts,
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
        root, on_disk = _committed_fragments(self.uri)
        gone = sorted(set(frag_names) - set(on_disk))
        if gone:
            raise ValueError(
                f"stream source: fragment(s) {gone} were vacuumed before "
                "their rows were read"
            )
        schema = parse_array_schema(_schema_path(self.uri))
        by_name = {d.name: ("d", i, d) for i, d in enumerate(schema.dims)}
        by_name.update(
            {a.name: ("a", i, a) for i, a in enumerate(schema.attrs)}
        )
        d0 = schema.dims[0]
        for name in sorted(frag_names, key=lambda d: (_frag_ts(d), d)):
            f = os.path.join(root, name)
            n = _field_cells(_field_file(f, d0.name, 0, "d"), d0)
            cols = [
                _np_field(f, schema, fld, i, kind, 0, n).tolist()
                for kind, i, fld in (by_name[c] for c in self.columns)
            ]
            yield from zip(*cols)

    def initialOffset(self) -> dict:
        return {"frags": []}

    def read(self, start: dict):
        now = self._frags()
        new = self._new_frags(set(start.get("frags", [])), now)
        # materialized list: the runner copies/pickles the batch payload
        return list(self._rows_of(new)), {"frags": now}

    def readBetweenOffsets(self, start: dict, end: dict):
        return list(self._rows_of(self._new_frags(
            set(start.get("frags", [])), end.get("frags", [])
        )))

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
    """Register the data source on a session: batch writes
    ``df.write.format('tiledb_native')``; streaming:
    ``spark.readStream.format('tiledb_native')`` emits new fragments per
    micro-batch, ``df.writeStream.format('tiledb_native')`` lands
    fragments per epoch."""
    spark.dataSource.register(TileDBNativeDataSource)


# the read options of format("tiledb_agg") a SQL table view takes
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
    aggregates and top-k pushed through DataSource V2.  The read options
    are ``at`` (unix-millis time travel), ``since`` (CDC window start:
    only writes in [since, at]), ``target_splits`` (max partitions,
    default 16), ``encryption_key``, and the ``bbox`` / ``spatial_wkb`` +
    ``spatial_dims`` + ``spatial_pad`` windows on the dims
    (``tiledb_array.spatial_dim_ranges``); any other option raises
    ValueError instead of being dropped."""
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
