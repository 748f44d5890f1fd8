"""Pure-Python decoder for (a subset of) the TileDB 1.6 on-disk fragment
format — enough to read the reference repo's own committed fixture
arrays (mysql-test/mytile/test_data/tiledb_arrays/1.6/quickstart_dense,
quickstart_sparse) without libtiledb, and validate our engine against
the exact bytes the reference's mtr suite reads.

Format subset implemented (public TileDB format spec, v1.6 era):

- **filtered/chunked tile** — ``[num_chunks u64]`` then per chunk
  ``[orig_len u32][filtered_len u32][metadata_len u32][metadata]
  [filtered bytes]``; chunk payloads may be raw, zlib (attribute GZIP
  filter) or zstd (the 1.6 default coordinate filter);
- **zstd / LZ4 payloads** — decoded by pyarrow's ``zstd`` and
  ``lz4_raw`` codecs (pyarrow and numpy are required dependencies);
- **dense fragments** — the attribute tile holds cells in row-major
  global order over the declared domain;
- **sparse fragments** — ``__coords.tdb`` holds per-dimension
  coordinate chunks (dim-major), attribute tiles align cell-for-cell.

The top section (read_dense_array / read_sparse_array*) is the original
caller-supplied-schema tier.  The round-3 extension below it parses the
ON-DISK binary schema blob itself (``parse_array_schema`` —
storage versions 3..21, including v20+ enumeration links), so a bare
array directory opens with no caller schema at all, and handles generic
tiles, array metadata, validity, var-length offsets pipelines
(DD+BWR+ZSTD), multi-fragment newest-wins merge, v11+ fragment
attribute stats (metadata-only MIN/MAX/SUM/NULL_COUNT + refutation
pruning) and enumeration label mapping.  Every field of a bare array
decodes through ONE columnar field decoder, ``_np_field`` (cells
[lo, hi) of one dim/attr, touching only the covering chunks — MyTile's
per-field buffers of data, offsets and validity): the range reader
``read_native_array_range_np`` (of which ``read_native_array`` is a row
view), the metadata aggregates' boundary-tile decode
(``tiledb_native_agg``) and the streaming source all use it.  Write
support lives in the sibling
module ``tiledb_native_write`` (round 4): it emits fragments + schema
blobs this decoder reads back byte-exact.
"""

from __future__ import annotations

import functools
import itertools
import os
import struct
import zlib

ZSTD_MAGIC = b"\x28\xb5\x2f\xfd"


def _decode_chunk(filtered: bytes, orig_len: int) -> bytes:
    if filtered[:4] == ZSTD_MAGIC:
        out = _zstd_decode(filtered, orig_len)
    elif filtered[:2] in (b"\x78\x01", b"\x78\x9c", b"\x78\xda"):
        out = zlib.decompress(filtered)
    else:
        out = filtered
    if len(out) != orig_len:
        raise ValueError(f"chunk decoded to {len(out)}, expected {orig_len}")
    return out


def read_chunked_tile(buf: bytes, key: bytes | None = None) -> list[bytes]:
    """Parse a filtered tile buffer into its decoded chunks.  With
    ``key`` each chunk's payload is AES-256-GCM ciphertext and its
    metadata carries a 28-byte nonce+tag trailer (tiledb_native_crypto
    scheme); decryption precedes codec sniffing."""
    (num_chunks,) = struct.unpack_from("<Q", buf, 0)
    pos = 8
    chunks = []
    for _ in range(num_chunks):
        orig, filt, meta = struct.unpack_from("<III", buf, pos)
        pos += 12
        payload = buf[pos + meta : pos + meta + filt]
        if key is not None:
            from tiledb_mariadb_spark.sources.tiledb_native_crypto import (  # noqa: PLC0415
                decrypt_chunk,
            )

            _, payload = decrypt_chunk(key, payload, buf[pos : pos + meta])
        pos += meta
        chunks.append(_decode_chunk(payload, orig))
        pos += filt
    return chunks


def _fragment_dir(array_dir: str) -> str:
    frags = sorted(
        d
        for d in os.listdir(array_dir)
        if d.startswith("__") and os.path.isdir(os.path.join(array_dir, d))
    )
    if not frags:
        raise FileNotFoundError(f"no fragment in {array_dir}")
    return os.path.join(array_dir, frags[-1])


_STRUCT_CODE = {"int32": "i", "int64": "q", "float32": "f", "float64": "d"}


def _cells(raw: bytes, dtype: str) -> list:
    code = _STRUCT_CODE[dtype]
    size = struct.calcsize(code)
    return list(struct.unpack(f"<{len(raw) // size}{code}", raw))


def read_dense_array(
    array_dir: str,
    dim_domains: list[tuple[int, int]],
    attrs: dict[str, str],
) -> list[tuple]:
    """Rows of (dim1..dimN, attr1..attrM) for a single-fragment dense
    1.6 array whose tile extent covers the whole domain (the fixture
    layout): cells are row-major over the domain."""
    frag = _fragment_dir(array_dir)
    coords = list(
        itertools.product(*[range(lo, hi + 1) for lo, hi in dim_domains])
    )
    cols = []
    for attr, dtype in attrs.items():
        buf = open(os.path.join(frag, f"{attr}.tdb"), "rb").read()
        vals = _cells(b"".join(read_chunked_tile(buf)), dtype)
        if len(vals) != len(coords):
            raise ValueError(f"{attr}: {len(vals)} cells for {len(coords)}")
        cols.append(vals)
    return [c + tuple(v[i] for v in cols) for i, c in enumerate(coords)]


def read_sparse_array_v2(
    array_dir: str,
    dim_names: list[str],
    dim_dtype: str,
    attrs: dict[str, str],
) -> list[tuple]:
    """Sparse 2.x-layout array (one coordinate FILE per dimension —
    ``<dim>.tdb`` — instead of 1.6's zipped ``__coords.tdb``); the tile
    payload format is unchanged, so this covers the reference's 2.3
    Hilbert fixture too (cell order affects on-disk cell sequence only,
    not decoding)."""
    frag = _fragment_dir(array_dir)
    dims = []
    for d in dim_names:
        buf = open(os.path.join(frag, f"{d}.tdb"), "rb").read()
        dims.append(_cells(b"".join(read_chunked_tile(buf)), dim_dtype))
    n = len(dims[0])
    out_attrs = []
    for attr, dtype in attrs.items():
        buf = open(os.path.join(frag, f"{attr}.tdb"), "rb").read()
        vals = _cells(b"".join(read_chunked_tile(buf)), dtype)
        if len(vals) != n:
            raise ValueError(f"{attr}: {len(vals)} values for {n} cells")
        out_attrs.append(vals)
    return [
        tuple(d[i] for d in dims) + tuple(v[i] for v in out_attrs)
        for i in range(n)
    ]


def dense_to_dataframe(
    spark,
    array_dir: str,
    dim_names: list[str],
    dim_domains: list[tuple[int, int]],
    attrs: dict[str, str],
):
    """Dense 1.6 array → Spark DataFrame (dims then attrs)."""
    rows = read_dense_array(array_dir, dim_domains, attrs)
    ddl = ", ".join(
        [f"`{d}` int" for d in dim_names]
        + [f"`{a}` {'int' if t == 'int32' else t}" for a, t in attrs.items()]
    )
    return spark.createDataFrame(rows, ddl)


def read_sparse_array(
    array_dir: str,
    n_dims: int,
    dim_dtype: str,
    attrs: dict[str, str],
) -> list[tuple]:
    """Rows of (dim1..dimN, attr1..attrM) for a single-fragment sparse
    1.6 array: ``__coords.tdb`` chunks are per-dimension coordinate
    vectors (dim-major)."""
    frag = _fragment_dir(array_dir)
    cbuf = open(os.path.join(frag, "__coords.tdb"), "rb").read()
    chunks = read_chunked_tile(cbuf)
    if len(chunks) == n_dims:
        dims = [_cells(c, dim_dtype) for c in chunks]
    else:
        # single zipped chunk: (d1, d2, ..., dn) per cell
        flat = _cells(b"".join(chunks), dim_dtype)
        dims = [flat[i::n_dims] for i in range(n_dims)]
    n = len(dims[0])
    out_attrs = []
    for attr, dtype in attrs.items():
        buf = open(os.path.join(frag, f"{attr}.tdb"), "rb").read()
        vals = _cells(b"".join(read_chunked_tile(buf)), dtype)
        if len(vals) != n:
            raise ValueError(f"{attr}: {len(vals)} values for {n} cells")
        out_attrs.append(vals)
    return [
        tuple(d[i] for d in dims) + tuple(v[i] for v in out_attrs)
        for i in range(n)
    ]


# ===========================================================================
# Round-3 extension: generic-tile container, on-disk array-schema blob,
# array metadata, validity (RLE) tiles, var-length (offsets) tiles, and
# multi-fragment merge — enough to open EVERY committed fixture array in
# the reference repo (mysql-test/mytile/test_data/tiledb_arrays/*) from a
# bare directory, no caller-supplied schema (the discover_array analog,
# mytile/mytile-discovery.cc:54-473).  Public TileDB storage format.
# ===========================================================================

@functools.cache
def _codec(name: str):
    """The pyarrow codec ``name``, built once per process."""
    import pyarrow as pa  # noqa: PLC0415

    return pa.Codec(name)


def _zstd_decode(buf: bytes, orig_len: int) -> bytes:
    """Full zstd frame decode (pyarrow's codec)."""
    return _codec("zstd").decompress(buf, orig_len)


def read_generic_tile(path: str, key: bytes | None = None) -> bytes:
    """TileDB 'generic tile' container (schema blobs, fragment metadata,
    array metadata): [version u32][persisted u64][tile_size u64]
    [datatype u8][cell_size u64][encryption u8][pipeline_len u32]
    [pipeline][chunked tile].  A nonzero encryption byte
    (TILEDB_AES_256_GCM, ha_mytile.cc:792-795) requires the array key —
    from ``key`` or the process registry — and decrypts per chunk."""
    buf = open(path, "rb").read()
    enc = struct.unpack_from("<B", buf, 29)[0]
    (plen,) = struct.unpack_from("<I", buf, 30)
    if enc:
        if key is None:
            from tiledb_mariadb_spark.sources.tiledb_native_crypto import (  # noqa: PLC0415
                key_for_path,
            )

            key = key_for_path(path)
        if key is None:
            raise ValueError(
                f"array is encrypted (AES_256_GCM): {path} requires "
                "encryption_key (t/encryption.test: open without key fails)"
            )
    else:
        key = None  # plaintext tile: never decrypt, even with a registered key
    return b"".join(read_chunked_tile(buf[34 + plen :], key=key))


# tiledb_datatype_t (tiledb.h, public API)
_DT = {
    0: ("int32", "i", 4), 1: ("int64", "q", 8), 2: ("float32", "f", 4),
    3: ("float64", "d", 8), 4: ("char", "c", 1), 5: ("int8", "b", 1),
    6: ("uint8", "B", 1), 7: ("int16", "h", 2), 8: ("uint16", "H", 2),
    9: ("uint32", "I", 4), 10: ("uint64", "Q", 8),
    11: ("string_ascii", "c", 1), 12: ("string_utf8", "c", 1),
    # STRING_UTF16/UTF32/UCS2/UCS4 (tiledb.h 13-16): the reference maps
    # all four to VARCHAR (mytile/mytile.cc:63-68); element sizes are
    # the code-unit widths.  The "c" code keeps every numeric unpack
    # path away from them — text decode goes through _TEXT_CODEC.
    13: ("string_utf16", "c", 2), 14: ("string_utf32", "c", 4),
    15: ("string_ucs2", "c", 2), 16: ("string_ucs4", "c", 4),
}

# dtype -> python codec for TEXT cells.  UCS-2/4 are strict subsets of
# UTF-16/32 (no surrogate pairs), so the LE UTF codecs decode both;
# write-side encoding with the same codec round-trips exactly.
_TEXT_CODEC = {
    4: "utf-8", 11: "utf-8", 12: "utf-8", 42: "utf-8",
    13: "utf-16-le", 14: "utf-32-le", 15: "utf-16-le", 16: "utf-32-le",
}
for _i in range(18, 31):  # DATETIME_YEAR .. DATETIME_AS: int64 ticks
    _DT[_i] = (f"datetime_{_i}", "q", 8)
_DT[39] = ("blob", "B", 1)
_DT[40] = ("bool", "B", 1)
# 2.21+ geometry types (tiledb.h): WKB rides as binary, WKT as text —
# the reference maps both to MariaDB GEOMETRY (mytile/mytile.cc:192-193,
# 773-774; mytile.h:130-132 sizes them like BLOB)
_DT[41] = ("geom_wkb", "B", 1)
_DT[42] = ("geom_wkt", "c", 1)


class NativeDim:
    def __init__(self, name, dtype_id, cell_val_num, domain, extent,
                 filters=None):
        self.name, self.dtype_id = name, dtype_id
        self.cell_val_num, self.domain, self.extent = cell_val_num, domain, extent
        self.filters = filters or []

    @property
    def is_var(self):
        return self.cell_val_num == 0xFFFFFFFF


class NativeAttr:
    def __init__(self, name, dtype_id, cell_val_num, nullable, fill,
                 filters=None, enumeration=None):
        self.name, self.dtype_id = name, dtype_id
        self.cell_val_num, self.nullable, self.fill = cell_val_num, nullable, fill
        self.filters = filters or []
        # v20+ enumeration link: the attr stores INDEXES, the named
        # enumeration holds the labels (t/enum.test surface)
        self.enumeration = enumeration

    @property
    def is_var(self):
        return self.cell_val_num == 0xFFFFFFFF


class NativeSchema:
    def __init__(self, version, array_type, capacity, dims, attrs,
                 coords_filters=None, offsets_filters=None,
                 validity_filters=None, tile_order=0, cell_order=0,
                 allows_dups=False, enumeration_paths=None):
        self.version, self.array_type, self.capacity = version, array_type, capacity
        self.dims, self.attrs = dims, attrs
        self.coords_filters = coords_filters or []
        self.offsets_filters = offsets_filters or []
        self.validity_filters = validity_filters or []
        # tiledb_layout_t: 0 ROW_MAJOR, 1 COL_MAJOR, 2 GLOBAL_ORDER,
        # 3 UNORDERED, 4 HILBERT (quickstart_sparse_hilbert fixture = 4)
        self.tile_order, self.cell_order = tile_order, cell_order
        # allows_dups=true: duplicate coordinates are KEPT, not
        # overwritten (t/duplicates.test semantics)
        self.allows_dups = allows_dups
        # v20+: enumeration name -> __schema/__enumerations/<path> file
        self.enumeration_paths = enumeration_paths or {}
        # enumeration name -> label list, resolved by parse_array_schema
        # for VAR (string-label) enumerations only: those are the ones the
        # reference maps to MariaDB ENUM columns; a fixed-width
        # enumeration is NOT applied on read (the enum.test golden shows
        # the int-labelled a3 reading back its raw stored values)
        self.enumerations: dict = {}
        # tiledb_encryption_type_t from the schema blob's generic-tile
        # header: 0 NO_ENCRYPTION, 1 AES_256_GCM (set by parse_array_schema)
        self.encryption: int = 0


class _Cursor:
    def __init__(self, buf):
        self.buf, self.pos = buf, 0

    def u(self, fmt):
        v = struct.unpack_from("<" + fmt, self.buf, self.pos)[0]
        self.pos += struct.calcsize(fmt)
        return v

    def raw(self, n):
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out


def _skip_pipeline(c: "_Cursor") -> list:
    """Filter pipeline: [max_chunk u32][num u32] then per filter
    [type u8][meta_len u32][meta].  Returns [(type, meta), ...]."""
    c.u("I")
    filters = []
    for _ in range(c.u("I")):
        ftype = c.u("B")
        filters.append((ftype, c.raw(c.u("I"))))
    return filters


def parse_array_schema(path: str) -> NativeSchema:
    """Deserialize an on-disk array-schema blob (__array_schema.tdb or a
    __schema/ entry) — storage format versions 3..19 as committed by the
    reference's fixtures (1.6 → 2.x eras, versions 3..21).  v20+
    attrs carry enumeration links and the trailing enumeration path map
    is resolved to label lists (t/enum.test); dimension labels (v18+)
    are skipped — no committed fixture carries one.  The generic-tile
    header's encryption byte is surfaced as ``schema.encryption``
    (AES_256_GCM arrays require a registered key to open —
    ha_mytile.cc:792-795)."""
    with open(path, "rb") as _f:
        _f.seek(29)
        _enc = _f.read(1)[0]
    c = _Cursor(read_generic_tile(path))
    ver = c.u("I")
    allows_dups = False
    if ver >= 5:
        allows_dups = bool(c.u("B"))
    array_type = "DENSE" if c.u("B") == 0 else "SPARSE"
    tile_order, cell_order = c.u("B"), c.u("B")
    capacity = c.u("Q")
    coords_f = _skip_pipeline(c)
    offsets_f = _skip_pipeline(c)
    validity_f = _skip_pipeline(c) if ver >= 7 else []
    dims = []
    if ver < 5:
        dom_type = c.u("B")
        _, code, size = _DT[dom_type]
        for _ in range(c.u("I")):
            name = c.raw(c.u("I")).decode()
            lo, hi = struct.unpack("<2" + code, c.raw(2 * size))
            extent = None
            if c.u("B") == 0:
                extent = struct.unpack("<" + code, c.raw(size))[0]
            dims.append(NativeDim(name, dom_type, 1, (lo, hi), extent))
    else:
        for _ in range(c.u("I")):
            name = c.raw(c.u("I")).decode()
            dtype_id = c.u("B")
            cvn = c.u("I")
            dim_f = _skip_pipeline(c)
            dom_raw = c.raw(c.u("Q"))
            _, code, size = _DT[dtype_id]
            domain = (
                struct.unpack("<2" + code, dom_raw) if dom_raw else None
            )
            extent = None
            if c.u("B") == 0:
                extent = struct.unpack("<" + code, c.raw(size))[0]
            dims.append(
                NativeDim(name, dtype_id, cvn, domain, extent, dim_f or coords_f)
            )
    attrs = []
    for _ in range(c.u("I")):
        name = c.raw(c.u("I")).decode()
        dtype_id = c.u("B")
        cvn = c.u("I")
        attr_f = _skip_pipeline(c)
        fill, nullable = None, False
        if ver >= 6:
            fill = c.raw(c.u("Q"))
        if ver >= 7:
            nullable = bool(c.u("B"))
            c.u("B")  # fill validity
        if ver >= 17:
            c.u("B")  # data order (2.17+)
        enum_name = None
        if ver >= 20:
            # enumeration link (2.17+): the attr stores indexes into the
            # named enumeration's label list
            enl = c.u("I")
            if enl:
                enum_name = c.raw(enl).decode()
        attrs.append(
            NativeAttr(name, dtype_id, cvn, nullable, fill, attr_f,
                       enumeration=enum_name)
        )
    enum_paths = {}
    if ver >= 18 and c.pos < len(c.buf):
        c.u("I")  # dimension-label count (none in any committed fixture)
    if ver >= 20 and c.pos < len(c.buf):
        # enumeration path map: name -> __enumerations/<path> file
        for _ in range(c.u("I")):
            en = c.raw(c.u("I")).decode()
            ep = c.raw(c.u("I")).decode()
            enum_paths[en] = ep
    schema = NativeSchema(
        ver, array_type, capacity, dims, attrs,
        coords_filters=coords_f, offsets_filters=offsets_f,
        validity_filters=validity_f,
        tile_order=tile_order, cell_order=cell_order,
        allows_dups=allows_dups, enumeration_paths=enum_paths,
    )
    schema.encryption = _enc
    if enum_paths:
        schema.enumerations = _load_enumerations(
            path, enum_paths, max(1, len(attrs))
        )
    return schema


def _load_enumerations(
    schema_path: str, enum_paths: dict, n_attrs: int = 1
) -> dict:
    """Resolve v20 enumeration files (__schema/__enumerations/<path>) to
    label lists — VAR (string-label) enumerations only, see
    NativeSchema.enumerations.  Layout per file (validated byte-exact on
    the enum_array fixture): [u32 version][u32+name][u32+path]
    [u8 datatype][u32 cell_val_num][u8 ordered][u64 data_size][data]
    [u64 offsets_size][u64 offsets...] (offsets only when var).
    Evolution-extended enumerations (_1+ suffix files) are out of scope —
    no committed fixture carries one; absent files are skipped so decode
    falls back to raw indexes rather than failing the whole open."""
    out = {}
    base = os.path.join(os.path.dirname(schema_path), "__enumerations")
    for name, rel in enum_paths.items():
        p = os.path.join(base, rel)
        if not os.path.isfile(p):
            continue
        try:
            c = _Cursor(read_generic_tile(p))
            c.u("I")  # enumerations format version (0)
            c.raw(c.u("I"))  # name (matches the map key)
            c.raw(c.u("I"))  # path name
            c.u("B")  # stored datatype (the INDEX width rides the attr)
            cvn = c.u("I")
            c.u("B")  # ordered
            data = c.raw(c.u("Q"))
            if cvn != 0xFFFFFFFF:
                continue  # fixed-width labels: not applied on read
            offs = struct.unpack(f"<{c.u('Q') // 8}Q", c.raw(len(c.buf) - c.pos))
            # the reference's OVERSIZE rule (mytile-discovery.cc:364):
            # when the rendered ENUM('l1', 'l2', …) DDL exceeds MariaDB's
            # 65536-byte row-format budget split across the attributes,
            # the column reverts to its base type — gene_symbol (57k
            # labels) reads back its raw stored ints in r/enum.result.
            # Empty enumerations revert too (empty_enum branch).  Sized
            # from the raw byte/offset counts BEFORE materializing any
            # label string (a 57k-label reject costs no decode).
            ddl_len = 6 + len(data) + 2 * len(offs) + 2 * max(
                0, len(offs) - 1
            )
            if not offs or ddl_len > 65536 // n_attrs:
                continue
            bounds = [int(o) for o in offs] + [len(data)]
            out[name] = [
                data[bounds[i] : bounds[i + 1]].decode("utf-8", "replace")
                for i in range(len(offs))
            ]
        except (ValueError, struct.error, IndexError):
            continue
    return out


def read_array_metadata(array_dir: str, at: int | None = None) -> dict:
    """Array metadata (__meta/ entries, t/metadata.test parity): each
    entry is [key_len u32][key][del u8][type u8][num u32][values];
    later files override earlier; del=1 removes the key.  Values render
    to the reference's string form (ints/floats joined with ',').

    ``at``: inclusive unix-millis open bound (the open_at rule,
    identical to fragments): an entry file is visible iff its WHOLE
    timestamp range is <= ``at`` — a consolidated metadata file
    spanning [t1, t2] is skipped when opening mid-range, falling back
    to the original entries (kept until vacuum).

    Raises FileNotFoundError when ``array_dir`` does not exist; an
    array without ``__meta/`` has no metadata and reads as ``{}``."""
    if not os.path.isdir(array_dir):
        raise FileNotFoundError(f"no array at {array_dir}")
    meta_dir = os.path.join(array_dir, "__meta")
    out: dict = {}
    if not os.path.isdir(meta_dir):
        return out
    for fn in sorted(os.listdir(meta_dir)):
        p = os.path.join(meta_dir, fn)
        if (
            not os.path.isfile(p)
            or fn.endswith(".vac")  # consolidation vacuum manifest
            or fn.startswith(".")  # in-flight staging artifact
        ):
            continue
        if at is not None and _frag_range(fn)[1] > at:
            continue
        c = _Cursor(read_generic_tile(p))
        while c.pos < len(c.buf):
            key = c.raw(c.u("I")).decode()
            deleted = c.u("B")
            if deleted:
                out.pop(key, None)
                continue
            dtype_id = c.u("B")
            num = c.u("I")
            _, code, size = _DT[dtype_id]
            raw = c.raw(num * size)
            if code == "c" or dtype_id in _TEXT_CODEC:
                out[key] = raw.decode(
                    _TEXT_CODEC.get(dtype_id, "utf-8"), errors="replace"
                )
            else:
                vals = struct.unpack(f"<{num}{code}", raw)
                out[key] = ",".join(_fmt_meta(v) for v in vals)
    return out


def _fmt_meta(v) -> str:
    if isinstance(v, float):
        return f"{v:g}"
    return str(v)


def _rle_decode(filtered: bytes, value_size: int, orig_len: int) -> bytes:
    """TileDB RLE filter, fixed-width values: runs of
    [value (value_size)][run_len u16 BE] (layout pinned on the fixtures'
    validity tiles; run length is big-endian per the TileDB format
    spec).  Generalized to any value_size — the record layout is the
    same, only the value width changes.  A zero run length contributes
    no cells (the writer uses one zero-run record to break accidental
    len(encoded) == len(orig) collisions with the raw-part shortcut)."""
    rec = value_size + 2
    if len(filtered) % rec:
        raise ValueError(
            f"RLE part {len(filtered)} not a multiple of record {rec}"
        )
    import numpy as np  # noqa: PLC0415

    a = np.frombuffer(filtered, dtype=np.uint8).reshape(-1, rec)
    runs = (a[:, -2].astype(np.int64) << 8) | a[:, -1]
    out = np.repeat(a[:, :value_size], runs, axis=0).tobytes()
    if len(out) != orig_len:
        raise ValueError(f"RLE decoded {len(out)}, expected {orig_len}")
    return out


def _rle_var_decode(part: bytes, orig_len: int) -> bytes:
    """RLE over whole VAR-LENGTH string cells (the 2.9+ default
    compression for var string dimensions — semantics per TileDB
    sm/filter/rle_filter.cc).  Engine part layout, self-contained per
    chunk: [run_width u8][len_width u8][num_runs u32] then runs of
    [run_len (run_width LE)][str_len (len_width LE)][string bytes];
    decode concatenates each string run_len times (cell boundaries are
    re-derived from the offsets tile, as for any var data tile).
    Byte-level differential vs real libtiledb is pending the standing
    no-wheel item — a real string-RLE part fails the length check
    loudly rather than mis-decoding."""
    run_w, len_w = part[0], part[1]
    (n_runs,) = struct.unpack_from("<I", part, 2)
    pos = 6
    out = bytearray()
    for _ in range(n_runs):
        run = int.from_bytes(part[pos : pos + run_w], "little")
        pos += run_w
        slen = int.from_bytes(part[pos : pos + len_w], "little")
        pos += len_w
        out += part[pos : pos + slen] * run
        pos += slen
    if pos != len(part) or len(out) != orig_len:
        raise ValueError(
            f"var-RLE decoded {len(out)} (consumed {pos}/{len(part)}), "
            f"expected {orig_len}"
        )
    return bytes(out)


def _dict_decode(part: bytes, orig_len: int) -> bytes:
    """DICTIONARY_ENCODING over var-length string cells (semantics per
    TileDB sm/filter/dictionary_encoding.cc).  Engine part layout,
    self-contained per chunk: [idx_width u8][len_width u8]
    [num_entries u32][num_cells u32], then the dictionary entries in
    first-occurrence order as [len (len_width LE)][bytes], then
    num_cells indices (idx_width LE).  Decode concatenates dict[index]
    per cell.  Same differential caveat as var-RLE."""
    idx_w, len_w = part[0], part[1]
    n_entries, n_cells = struct.unpack_from("<II", part, 2)
    pos = 10
    entries = []
    for _ in range(n_entries):
        slen = int.from_bytes(part[pos : pos + len_w], "little")
        pos += len_w
        entries.append(part[pos : pos + slen])
        pos += slen
    idx_bytes = part[pos:]
    if len(idx_bytes) != n_cells * idx_w:
        raise ValueError(
            f"dictionary part: {len(idx_bytes)} index bytes for "
            f"{n_cells} cells of width {idx_w}"
        )
    if not n_cells:
        out = b""
    elif idx_w in (1, 2, 4, 8):
        # vectorized gather: dictionary take in Arrow C code — the
        # result's data buffer IS the concatenated cell bytes
        import numpy as np  # noqa: PLC0415
        import pyarrow as pa  # noqa: PLC0415

        idx_np = np.frombuffer(idx_bytes, dtype=f"<u{idx_w}")
        ent = pa.array(entries, type=pa.large_binary())
        taken = ent.take(pa.array(idx_np.astype(np.int64)))
        bufs = taken.buffers()  # [validity, offsets, data]
        offs = np.frombuffer(bufs[1], dtype=np.int64)[
            taken.offset : taken.offset + len(taken) + 1
        ]
        out = bufs[2].to_pybytes()[offs[0] : offs[-1]]
    else:
        idx = [
            int.from_bytes(idx_bytes[i : i + idx_w], "little")
            for i in range(0, len(idx_bytes), idx_w)
        ]
        out = b"".join(entries[i] for i in idx)
    if len(out) != orig_len:
        raise ValueError(f"dictionary decoded {len(out)}, expected {orig_len}")
    return out


def _lz4_decode(part: bytes, orig_len: int) -> bytes:
    """LZ4 block decode: pyarrow's lz4_raw codec (the real LZ4 block
    format, byte-compatible with libtiledb's filter)."""
    return _codec("lz4_raw").decompress(part, orig_len)


def _delta_decode(part: bytes, orig_len: int, elem: int) -> bytes:
    """TileDB DELTA filter (2.16+, sm/filter/delta_filter.cc semantics):
    first element verbatim, then per-element differences at full element
    width, two's-complement modular — decode is one modular cumsum."""
    if elem not in (1, 2, 4, 8) or len(part) % elem:
        raise ValueError(f"delta: bad element width {elem}/{len(part)}")
    import numpy as np  # noqa: PLC0415

    a = np.frombuffer(part, dtype=f"<u{elem}")
    out = np.cumsum(a, dtype=np.uint64).astype(f"<u{elem}").tobytes()
    if len(out) != orig_len:
        raise ValueError(f"delta decoded {len(out)}, expected {orig_len}")
    return out


# tiledb_filter_type_t (tiledb.h): compressor-style filters carry
# [num_metadata_parts u32][num_data_parts u32][(orig u32, stored u32)…]
# chunk metadata; the metadata PARTS are the upstream filters' own
# metadata (stacked nearest-upstream first), which is how a
# DOUBLE_DELTA → BIT_WIDTH_REDUCTION → ZSTD offsets pipeline round-trips.
_F_GZIP, _F_ZSTD, _F_LZ4, _F_RLE, _F_BZIP2, _F_DD, _F_BWR = 1, 2, 3, 4, 5, 6, 7
_F_BITSHUFFLE, _F_BYTESHUFFLE, _F_POSDELTA = 8, 9, 10
_F_MD5, _F_SHA256 = 12, 13  # checksum filters (verify-on-read)
_F_DICT = 14  # dictionary encoding (var-string cells)
_F_SCALE_FLOAT, _F_XOR = 15, 16
_F_WEBP, _F_DELTA = 18, 19
_COMPRESSORS = {
    _F_GZIP, _F_ZSTD, _F_LZ4, _F_RLE, _F_BZIP2, _F_DD, _F_DICT, _F_DELTA,
    _F_WEBP,  # compressor-shaped (chunked orig/stored); Pillow-gated
}


def _byteshuffle(data: bytes, elem: int, forward: bool) -> bytes:
    """(Un)shuffle: group byte-position planes across elements — the
    classic compression-friendly transpose (Blosc/TileDB BYTESHUFFLE)."""
    if elem <= 1 or len(data) % elem:
        return data  # undefined on misaligned payloads; identity is safe
    import numpy as np  # noqa: PLC0415

    n = len(data) // elem
    a = np.frombuffer(data, dtype=np.uint8).reshape(
        (n, elem) if forward else (elem, n)
    )
    return a.T.tobytes()


def _bitshuffle(data: bytes, elem: int, forward: bool) -> bytes:
    """(Un)bitshuffle: transpose the n×(elem*8) BIT matrix so bit-plane
    j of every element is contiguous (TileDB BITSHUFFLE, semantics per
    sm/filter/bitshuffle_filter.cc / the vendored bitshuffle kernel).
    Layout here: the largest multiple-of-8 element prefix is transposed
    (per byte-plane, 8 packed bit-rows of n/8 bytes each, MSB-first);
    trailing elements ride verbatim.  Symmetric forward/backward —
    engine round-trips are exact; bit-order differential vs the real
    kernel is pending the standing no-wheel item."""
    if elem < 1 or len(data) % elem:
        return data  # undefined on misaligned payloads; identity is safe
    import numpy as np  # noqa: PLC0415

    n = len(data) // elem
    nb = (n // 8) * 8
    if nb == 0:
        return data
    head, tail = data[: nb * elem], data[nb * elem :]
    if forward:
        a = np.frombuffer(head, dtype=np.uint8).reshape(nb, elem)
        planes = np.ascontiguousarray(a.T)  # (elem, nb) byte planes
        bits = np.unpackbits(planes, axis=1)  # (elem, nb*8) MSB-first
        rows = bits.reshape(elem, nb, 8).transpose(0, 2, 1)  # (elem,8,nb)
        packed = np.packbits(rows.reshape(elem * 8, nb), axis=1)
        return packed.tobytes() + tail
    rows = np.unpackbits(
        np.frombuffer(head, dtype=np.uint8).reshape(elem * 8, nb // 8),
        axis=1,
    ).reshape(elem, 8, nb)
    bits = rows.transpose(0, 2, 1).reshape(elem, nb * 8)
    planes = np.packbits(bits, axis=1)  # (elem, nb)
    return planes.T.tobytes() + tail


def _xor_filter(data: bytes, elem: int, forward: bool) -> bytes:
    """TileDB XOR filter: each element stored XORed with its
    predecessor (first element verbatim)."""
    if elem <= 1 or len(data) % elem:
        return data
    import numpy as np  # noqa: PLC0415

    dt = {2: "<u2", 4: "<u4", 8: "<u8"}.get(elem)
    if dt is None:
        return data
    a = np.frombuffer(data, dtype=dt)
    if forward:
        out = a.copy()
        out[1:] = a[1:] ^ a[:-1]
        return out.tobytes()
    return np.bitwise_xor.accumulate(a).astype(dt).tobytes()


def _scale_float_params(meta: bytes) -> tuple[float, float, int]:
    """SCALE_FLOAT filter options from the schema pipeline:
    [f64 factor][f64 offset][u64 byte_width]."""
    factor, offset = struct.unpack_from("<dd", meta, 0)
    (bw,) = struct.unpack_from("<Q", meta, 16)
    return factor, offset, int(bw)


def _dd_unpack_numpy(stream: bytes, n: int, bitsize: int):
    """Vectorized [sign|magnitude] bit-unpack: the MSB-first-within-LE-u64
    packing is exactly the bit sequence of the byteswapped words, so one
    unpackbits + reshape recovers all entries at once."""
    import numpy as np  # noqa: PLC0415

    width = bitsize + 1
    n_words = -(-(n * width) // 64)
    words = np.frombuffer(stream[: n_words * 8], dtype="<u8")
    bits = np.unpackbits(words.byteswap().view(np.uint8))[: n * width]
    ent = bits.reshape(n, width).astype(np.int64)
    mag = np.zeros(n, dtype=np.int64)
    for j in range(1, width):
        mag = (mag << 1) | ent[:, j]
    return np.where(ent[:, 0] == 1, -mag, mag)


def _dd_decode(buf: bytes, orig_len: int, elem: int) -> bytes:
    """TileDB DOUBLE_DELTA decompressor: [bitsize u8][num u64]
    [v0 int][v1 int] then (num-2) entries of [sign(1)][magnitude(bitsize)]
    bits, packed MSB-first into little-endian u64 words; sign=1 means the
    double delta is negative.  (Bit convention pinned empirically against
    the reference's var/ fixture — offsets reproduce its committed gene
    strings exactly.)  Reconstruction is two vectorized cumsums
    (d = d1 + Σdd; v = v1 + Σd)."""
    import numpy as np  # noqa: PLC0415

    bitsize = buf[0]
    (num,) = struct.unpack_from("<Q", buf, 1)
    code = {1: "b", 2: "h", 4: "i", 8: "q"}[elem]
    if bitsize >= elem * 8 - 1 or num <= 2:  # stored raw / too short
        vals = np.frombuffer(buf, f"<i{elem}", num, 9).astype(np.int64)
    else:
        v0, v1 = struct.unpack_from(f"<2{code}", buf, 9)
        dd = _dd_unpack_numpy(buf[9 + 2 * elem :], num - 2, bitsize)
        d = (v1 - v0) + np.cumsum(dd)
        vals = np.empty(num, dtype=np.int64)
        vals[0], vals[1], vals[2:] = v0, v1, v1 + np.cumsum(d)
    # the int64 -> int{elem} cast wraps, i.e. keeps the low elem bytes
    out = vals.astype(f"<i{elem}").tobytes()
    if len(out) != orig_len:
        raise ValueError(f"double-delta decoded {len(out)}, expected {orig_len}")
    return out


def _webp_decode(part: bytes, orig: int, opts: bytes) -> bytes:
    """TILEDB_FILTER_WEBP tile decode, PILLOW-GATED (the reference
    configures this filter for dense RGB rasters, mytile.cc:1369-1386).
    Options layout per the filter's serialization: quality float32,
    input format uint8 (1 RGB, 2 RGBA, 3 BGR, 4 BGRA), lossless uint8,
    tile extents.  No Pillow and no reference WEBP fixture exist in
    this build environment, so the decode body is size-validated
    best-effort (a mismatch refuses loudly — never a silently
    mis-shaped tile) and the TESTED behavior is the ImportError
    refusal."""
    try:
        from PIL import Image  # noqa: PLC0415
    except ImportError:
        raise NotImplementedError(
            "WEBP filter needs Pillow — refusing loudly rather than "
            "mis-decoding (install Pillow to read WEBP-filtered dense "
            "rasters)"
        ) from None
    import io  # noqa: PLC0415
    import os as _os  # noqa: PLC0415

    # OPT-IN even with Pillow present (r8 ADVICE): no reference-written
    # WEBP fixture exists here to pin the options byte layout or the
    # BGR/BGRA plane order, and the decoded-length check cannot catch a
    # channel swap (same byte count).  Refuse until a fixture pins it
    # or the operator explicitly accepts best-effort decode.
    if _os.environ.get("TILEDB_SPARK_WEBP_UNVERIFIED", "") != "1":
        raise NotImplementedError(
            "WEBP tile decode layout is unverified against a "
            "reference-written fixture (channel order / options "
            "offsets); set TILEDB_SPARK_WEBP_UNVERIFIED=1 to opt in "
            "to best-effort decode"
        )

    fmt = opts[4] if len(opts) >= 5 else 0
    img = Image.open(io.BytesIO(part))
    img = img.convert("RGBA" if fmt in (2, 4) else "RGB")
    raw = bytearray(img.tobytes())
    if fmt in (3, 4):  # BGR(A): swap the R and B planes
        step = 4 if fmt == 4 else 3
        raw[0::step], raw[2::step] = raw[2::step], raw[0::step]
    out = bytes(raw)
    if len(out) != orig:
        raise ValueError(
            f"webp decoded {len(out)} bytes, expected {orig} — "
            "unverified layout, refusing"
        )
    return out


def _decompress_part(
    ftype: int, part: bytes, orig: int, elem: int, var: bool = False,
    opts: bytes = b"",
) -> bytes:
    if ftype == _F_ZSTD:
        return _zstd_decode(part, orig) if part[:4] == ZSTD_MAGIC else part
    if ftype == _F_GZIP:
        return zlib.decompress(part)
    if ftype == _F_RLE:
        if len(part) == orig:
            return part  # stored raw (pinned fixture behavior)
        if var:
            return _rle_var_decode(part, orig)
        return _rle_decode(part, elem, orig)
    if ftype == _F_DD:
        return _dd_decode(part, orig, elem)
    if ftype == _F_LZ4:
        return part if len(part) == orig else _lz4_decode(part, orig)
    if ftype == _F_BZIP2:
        import bz2  # noqa: PLC0415

        return bz2.decompress(part)
    if ftype == _F_DICT:
        if not var:
            raise NotImplementedError(
                "DICTIONARY filter applies to var-length string cells only"
            )
        return _dict_decode(part, orig)
    if ftype == _F_DELTA:
        return _delta_decode(part, orig, elem)
    if ftype == _F_WEBP:
        return _webp_decode(part, orig, opts)
    raise NotImplementedError(f"filter type {ftype} decode unsupported")


def _stage_width(filters: list, elem: int) -> int:
    """Element width seen by the LAST filter in ``filters``: the field's
    width unless an upstream SCALE_FLOAT narrowed it to byte_width."""
    w = elem
    for f in filters[:-1]:
        if f[0] == _F_SCALE_FLOAT:
            w = _scale_float_params(f[1])[2]
    return w


def _reverse_pipeline(
    filters: list, meta_stack: list, data: bytes, elem: int,
    var: bool = False,
) -> bytes:
    """Undo a filter pipeline: last filter first.  ``meta_stack[0]`` is
    the current filter's chunk metadata; a compressor's decoded metadata
    PARTS are pushed for the upstream filters.  ``var`` marks the tile
    as a var-length DATA tile (string/binary cells) — it selects the
    var-cell layouts of the RLE and DICTIONARY filters."""
    if not filters:
        return data
    ftype, _ = filters[-1]
    stage_elem = _stage_width(filters, elem)
    meta = meta_stack[0] if meta_stack else b""
    rest = meta_stack[1:]
    if ftype in _COMPRESSORS:
        nm, nd = struct.unpack_from("<II", meta, 0)
        blobs, dpos = [], 0
        for i in range(nm + nd):
            orig, stored = struct.unpack_from("<II", meta, 8 + 8 * i)
            blobs.append(
                _decompress_part(ftype, data[dpos : dpos + stored], orig,
                                 stage_elem, var=var and i >= nm,
                                 opts=filters[-1][1] or b"")
            )
            dpos += stored
        return _reverse_pipeline(
            filters[:-1], blobs[:nm] + rest, b"".join(blobs[nm:]), elem,
            var=var,
        )
    if ftype == _F_BWR:
        # [input_size u32][num_windows u32] then per-window
        # [value_offset u64][bit width u8][window input bytes u32].  The
        # input byte stream is viewed as LE uint64 words in 256-byte
        # windows; each word is stored as (word - offset) in width/8
        # bytes LE.  width=64 and length-unaligned (partial) windows are
        # verbatim copies.  (Semantics pinned against the reference's
        # var/ fixture — reconstructed offsets reproduce its committed
        # var-length strings exactly.)
        in_size, n_win = struct.unpack_from("<II", meta, 0)
        out = bytearray()
        mpos, dpos = 8, 0
        for _ in range(n_win):
            (w_off,) = struct.unpack_from("<Q", meta, mpos)
            width = meta[mpos + 8]
            (nb,) = struct.unpack_from("<I", meta, mpos + 9)
            mpos += 13
            if width >= 64 or nb % 8 != 0:
                out += data[dpos : dpos + nb]
                dpos += nb
            else:
                step = width // 8
                for _w in range(nb // 8):
                    red = int.from_bytes(data[dpos : dpos + step], "little")
                    out += ((w_off + red) & 0xFFFFFFFFFFFFFFFF).to_bytes(
                        8, "little"
                    )
                    dpos += step
        if len(out) != in_size:
            raise ValueError(
                f"bit-width-reduction decoded {len(out)}, expected {in_size}"
            )
        return _reverse_pipeline(filters[:-1], rest, bytes(out), elem,
                                 var=var)
    if ftype == _F_POSDELTA:
        # POSITIVE_DELTA (sm/filter/positive_delta_filter.cc semantics,
        # windowed like BWR): metadata = [input_size u32][num_windows
        # u32] then per-window [base u64 (first element, zero-extended)]
        # [window input bytes u32]; data = the window's remaining
        # elements as NON-NEGATIVE deltas from their predecessor at
        # element width.  Reconstruction is one cumsum per window.
        import numpy as np  # noqa: PLC0415

        w = stage_elem
        if w not in (1, 2, 4, 8):
            raise ValueError(f"positive-delta: bad element width {w}")
        in_size, n_win = struct.unpack_from("<II", meta, 0)
        out = bytearray()
        mpos, dpos = 8, 0
        for _ in range(n_win):
            (base,) = struct.unpack_from("<Q", meta, mpos)
            (nb,) = struct.unpack_from("<I", meta, mpos + 8)
            mpos += 12
            if nb % w:
                raise ValueError("positive-delta: window not element-aligned")
            cnt = nb // w
            deltas = np.frombuffer(
                data[dpos : dpos + (cnt - 1) * w], dtype=f"<u{w}"
            )
            dpos += (cnt - 1) * w
            vals = np.empty(cnt, dtype=np.uint64)
            vals[0] = base
            if cnt > 1:
                np.cumsum(deltas, dtype=np.uint64, out=vals[1:])
                vals[1:] += np.uint64(base)
            out += vals.astype(f"<u{w}").tobytes()
        if len(out) != in_size:
            raise ValueError(
                f"positive-delta decoded {len(out)}, expected {in_size}"
            )
        return _reverse_pipeline(filters[:-1], rest, bytes(out), elem,
                                 var=var)
    if ftype in (_F_MD5, _F_SHA256):
        # checksum filter: metadata part = the digest of the chunk data;
        # VERIFY on read (fails loudly on corruption), pass data through
        import hashlib  # noqa: PLC0415

        algo = hashlib.md5 if ftype == _F_MD5 else hashlib.sha256
        want = algo(data).digest()
        if meta[: len(want)] != want:
            raise ValueError(
                f"checksum filter mismatch ({'md5' if ftype == _F_MD5 else 'sha256'})"
            )
        return _reverse_pipeline(filters[:-1], rest, data, elem, var=var)
    if ftype == _F_BITSHUFFLE:
        return _reverse_pipeline(
            filters[:-1], rest,
            _bitshuffle(data, stage_elem, forward=False), elem, var=var
        )
    if ftype == _F_BYTESHUFFLE:
        return _reverse_pipeline(
            filters[:-1], rest,
            _byteshuffle(data, stage_elem, forward=False), elem, var=var
        )
    if ftype == _F_XOR:
        return _reverse_pipeline(
            filters[:-1], rest,
            _xor_filter(data, stage_elem, forward=False), elem, var=var
        )
    if ftype == _F_SCALE_FLOAT:
        # stored = round((x - offset) / factor) as byte_width ints;
        # options live in the SCHEMA pipeline entry, not chunk metadata
        import numpy as np  # noqa: PLC0415

        factor, offset, bw = _scale_float_params(filters[-1][1])
        ints = np.frombuffer(data, dtype=f"<i{bw}").astype(np.float64)
        floats = ints * factor + offset
        out = floats.astype(f"<f{elem}").tobytes()
        return _reverse_pipeline(filters[:-1], rest, out, elem, var=var)
    raise NotImplementedError(f"filter type {ftype} decode unsupported")


def _frag_ts(name: str) -> int:
    try:
        return int(name.strip("_").split("_")[0])
    except ValueError:
        return 0


def _frag_range(name: str) -> tuple[int, int]:
    """A fragment name's [first, last] timestamp range.  Plain writes have
    first == last; a consolidated fragment spans the range of everything
    it merged (``__<t1>_<t2>_<uuid>_<ver>``)."""
    parts = name.strip("_").split("_")
    try:
        return int(parts[0]), int(parts[1])
    except (ValueError, IndexError):
        t = _frag_ts(name)
        return t, t


def _committed_names(array_dir: str, root: str) -> set[str] | None:
    """The set of COMMITTED fragment names, or None when the array carries
    no commit-marker artifacts at all (pre-.ok eras like the 1.6 fixtures,
    and arrays created before this writer emitted markers — there,
    directory presence is the only signal, so everything is committed).

    Marker eras, each pinned against a reference fixture:
      - 2.3+ (multi_attribute v18, var/obs v19): ``__commits/`` holds one
        zero-length ``<frag>.wrt`` per committed fragment; consolidating
        commits replaces them with a ``.con`` file whose payload is a
        newline-separated list of ``__commits/<frag>.wrt`` URIs; an
        ``.ign`` file lists ``.con`` URIs to disregard (post-vacuum).
      - 2.0-2.3 pre-__commits (bank, nullable_attributes, hilbert):
        a zero-length ``<frag>.ok`` beside the fragment directory.
    """
    commits = os.path.join(array_dir, "__commits")
    if os.path.isdir(commits):
        # dotfiles are in-flight staging artifacts (consolidation
        # writes ".<name>.con.tmp" then os.replace's it): a reader
        # must NEVER parse one — a partial .con would surface a
        # half-committed consolidation group
        entries = [
            e for e in os.listdir(commits) if not e.startswith(".")
        ]
        ignored: set[str] = set()
        for e in entries:
            if e.endswith(".ign"):
                with open(os.path.join(commits, e)) as f:
                    ignored |= {os.path.basename(u.strip()) for u in f if u.strip()}
        names: set[str] = set()
        for e in entries:
            if e.endswith(".wrt"):
                names.add(e[: -len(".wrt")])
            elif e.endswith(".con") and e not in ignored:
                with open(os.path.join(commits, e)) as f:
                    for line in f:
                        u = os.path.basename(line.strip())
                        if u.endswith(".wrt"):
                            names.add(u[: -len(".wrt")])
        return names
    oks = [e for e in os.listdir(root) if e.endswith(".ok")]
    if oks:
        return {e[: -len(".ok")] for e in oks}
    return None


def _committed_fragments(array_dir: str) -> tuple[str, list[str]]:
    """``(root, names)``: the directory fragments live in and the names
    of every COMMITTED fragment there, including the ones a wider
    consolidated fragment covers (they stay on disk until vacuum).  A
    pure name listing — no tile reads."""
    root = os.path.join(array_dir, "__fragments")
    if not os.path.isdir(root):
        root = array_dir
    skip = {"__meta", "__schema", "__commits", "__fragments", "__labels"}
    committed = _committed_names(array_dir, root)
    return root, [
        d
        for d in os.listdir(root)
        if d.startswith("__")
        and d not in skip
        and os.path.isdir(os.path.join(root, d))
        and (committed is None or d in committed)
    ]


def _fragment_dirs(
    array_dir: str, at: int | None = None, since: int | None = None
) -> list[str]:
    """All committed fragment directories, oldest→newest (2.3+ keeps them
    under __fragments/; earlier eras place them beside the schema).

    Three visibility gates, in order:
      1. COMMIT markers (``__commits/*.wrt|.con`` or legacy ``*.ok``):
         a staged-but-unmarked fragment directory is invisible — the
         writer's crash-atomicity contract (the marker is a zero-length
         file written last, so readers never observe a half-written
         fragment).  Arrays with no marker era fall back to directory
         presence.
      2. The TIME WINDOW ``[since, at]`` (both inclusive unix millis):
         visible iff the fragment's WHOLE timestamp range lies inside
         it — ``at`` is open_at parity (ha_mytile.cc:3440-3455), where
         opening mid-range skips a consolidated fragment and falls back
         to the originals it merged (still on disk until vacuum);
         ``since`` is TileDB's timestamp_start (the CDC window's lower
         bound).  BOTH bounds must apply BEFORE the coverage gate: a
         consolidated fragment spanning the window start is excluded by
         ``since`` here, so it can no longer "cover" (hide) in-window
         originals and then be dropped itself — which silently lost CDC
         rows pre-vacuum (round-7 advisor finding).
      3. CONSOLIDATION coverage: a fragment whose range is strictly
         contained in a WIDER visible fragment's range was merged into
         it — reading both would double-count, so the covered one is
         skipped (TileDB's pre-vacuum read rule).  O(n²) over visible
         fragments; fragment counts are small by design (consolidation
         exists precisely to keep them so)."""
    root, names = _committed_fragments(array_dir)
    frags = [
        d
        for d in names
        if (at is None or _frag_range(d)[1] <= at)
        and (since is None or _frag_range(d)[0] >= since)
    ]
    rng = {d: _frag_range(d) for d in frags}
    # coverage sweep, O(n log n): sorted by (t1 asc, t2 desc), a
    # fragment is covered iff an already-seen one contains its range
    # with STRICTLY larger span — i.e. some earlier-t1 fragment reaches
    # its t2 (span strictly larger since t1 is smaller), or a same-t1
    # fragment reaches strictly beyond it.  Equal ranges never cover
    # each other (span ties), matching the quadratic rule this replaces
    # (the listing runs per plan AND per task; at consolidation-scale
    # fragment counts the n² scan was itself a planning cost).
    covered: set = set()
    prev_max_t2 = None  # max t2 over all strictly-smaller t1
    cur_max_t2 = None  # max t2 over everything processed so far
    group_t1 = None
    group_max_t2 = 0
    for t1, neg_t2, d in sorted(
        (rng[d][0], -rng[d][1], d) for d in frags
    ):
        t2 = -neg_t2
        if group_t1 != t1:
            prev_max_t2 = cur_max_t2
            group_t1, group_max_t2 = t1, t2
        if (
            prev_max_t2 is not None and prev_max_t2 >= t2
        ) or group_max_t2 > t2:
            covered.add(d)
        cur_max_t2 = t2 if cur_max_t2 is None else max(cur_max_t2, t2)
    frags = [d for d in frags if d not in covered]
    # total sort key: ties on start-ts (rapid commits) resolve by name,
    # keeping newest-fragment-wins merge deterministic (advisor finding)
    return [os.path.join(root, d) for d in sorted(frags, key=lambda d: (_frag_ts(d), d))]


def newest_commit_ts(array_dir: str) -> int | None:
    """The newest timestamp of any visible fragment or delete commit
    (None when there is neither).  A read at this ``at`` sees what a
    read with no ``at`` sees now, and keeps seeing it after a commit
    with a newer timestamp lands: the snapshot one scan pins."""
    ts = [_frag_range(os.path.basename(f))[1] for f in _fragment_dirs(array_dir)]
    commits = os.path.join(array_dir, "__commits")
    if os.path.isdir(commits):
        ts += [_frag_ts(e) for e in os.listdir(commits) if e.endswith(".del")]
    return max(ts, default=None)


def _delete_conditions(
    array_dir: str,
    at: int | None,
    visible_frags: list[str],
) -> list[tuple[int, list]]:
    """Visible delete-condition commits, oldest→newest:
    ``[(ts, [[col, op, value], ...]), ...]`` (conditions AND together —
    the same shape the connector pushes as QueryCondition analogs).

    A ``.del`` whose timestamp falls INSIDE a visible consolidated
    fragment's [t1, t2] range is skipped: consolidation bakes deletes
    into the merged fragment, so re-applying would wrongly delete rows
    re-inserted after the delete but merged into the same fragment."""
    commits = os.path.join(array_dir, "__commits")
    if not os.path.isdir(commits):
        return []
    spans = [
        _frag_range(os.path.basename(f))
        for f in visible_frags
    ]
    spans = [(a, b) for a, b in spans if b > a]
    out = []
    for e in sorted(os.listdir(commits)):
        if not e.endswith(".del"):
            continue
        dts = _frag_ts(e)
        if at is not None and dts > at:
            continue
        if any(a <= dts <= b for a, b in spans):
            continue  # baked into a visible consolidated fragment
        import json  # noqa: PLC0415

        payload = json.loads(read_generic_tile(os.path.join(commits, e)))
        out.append((dts, payload["conditions"]))
    return sorted(out)


def _subset_era_deletes(dels: list, frags: list[str]) -> list:
    """For a fragment-SUBSET read (incremental consolidation's input),
    keep only deletes from the subset's own era (dts <= the newest
    member's end ts).  A LATER delete must stay in its .del commit:
    baking it into the merged subset would make the consolidated
    fragment disagree with a time-travel open between the subset's era
    and the delete (the full-consolidation path avoids this by widening
    its ts range over every baked delete)."""
    if not dels or not frags:
        return dels
    end = max(_frag_range(os.path.basename(f))[1] for f in frags)
    return [d for d in dels if d[0] <= end]


def open_encryption(
    array_dir: str, encryption_key: "bytes | str | None" = None
) -> "bytes | None":
    """Entry-API encryption contract (t/encryption.test semantics,
    ha_mytile.cc:792-795): register the key for this array's files,
    verify it against the schema blob's encryption byte, and fail
    loudly on every mismatch — encrypted + no key, unencrypted + key,
    wrong key (GCM authentication at first decode).  Returns the
    normalized key (or None for plaintext arrays).  The key lives only
    in the process registry; call this inside executor tasks too."""
    from tiledb_mariadb_spark.sources.tiledb_native_crypto import (  # noqa: PLC0415
        clear_encryption_key,
        generic_tile_encryption,
        key_for_path,
        set_encryption_key,
    )

    if encryption_key is not None:
        set_encryption_key(array_dir, encryption_key)
    enc = generic_tile_encryption(_schema_path(array_dir))
    key = key_for_path(array_dir)
    if enc and key is None:
        raise ValueError(
            f"array is encrypted (AES_256_GCM): {array_dir} requires "
            "encryption_key"
        )
    if not enc and encryption_key is not None:
        clear_encryption_key(array_dir)
        raise ValueError(
            f"array is not encrypted: {array_dir} — encryption_key must "
            "not be provided (t/encryption.test negative case)"
        )
    if not enc and key is not None:
        # stale registry entry from a previous (dropped) encrypted array
        # at the same realpath: the schema is authoritative — drop it so
        # later writes to this array never silently seal with the old key
        clear_encryption_key(array_dir)
        return None
    return key if enc else None


def _schema_path(array_dir: str) -> str:
    p = os.path.join(array_dir, "__array_schema.tdb")
    if os.path.isfile(p):
        return p
    sdir = os.path.join(array_dir, "__schema")
    entries = sorted(
        f for f in os.listdir(sdir) if os.path.isfile(os.path.join(sdir, f))
    )
    return os.path.join(sdir, entries[-1])


def _frag_format_version(frag: str) -> int:
    """Fragment format version = the ``_N`` suffix of the fragment dir
    name (absent in 1.6-era fragments → 0)."""
    tail = os.path.basename(frag).rsplit("_", 1)[-1]
    return int(tail) if tail.isdigit() else 0


def _field_file(frag: str, name: str, idx: int, kind: str) -> str:
    """Fragment data file for a dim/attr: name-based (1.6–2.x early) or
    positional (``a0``/``d0``, fragment format ≥ 10).  The scheme is
    picked by version FIRST — an array whose attrs are literally named
    a2/a3/a4 makes existence-probing ambiguous (the reference's
    multi_attribute fixture)."""
    # STRICT per-era scheme — no cross-fallback: a positional fallback
    # on a name-based fragment can misattribute a DROPPED attr's file
    # (literally named a0/a1) to an evolved-in attr at that index
    # (caught by tests/test_property_native_write.py evolution fuzz).
    cand = (
        f"{kind}{idx}.tdb"
        if _frag_format_version(frag) >= 10
        else f"{name}.tdb"
    )
    p = os.path.join(frag, cand)
    if os.path.isfile(p):
        return p
    raise FileNotFoundError(f"no data file for {name} in {frag}")


def _typed_cells(raw: bytes, dtype_id: int) -> list:
    _, code, size = _DT[dtype_id]
    if code == "c":
        return [raw[i : i + 1] for i in range(len(raw))]
    n = len(raw) // size
    return list(struct.unpack(f"<{n}{code}", raw))


def _fill_value(attr):
    """Value an evolved-in attribute takes on PRE-EVOLUTION fragments
    (TileDB schema-evolution fill semantics): nullable -> NULL, else the
    schema-recorded fill bytes, else the type default."""
    if attr.nullable:
        return None
    if attr.fill:
        if attr.dtype_id in _TEXT_CODEC:
            return attr.fill.decode(
                _TEXT_CODEC[attr.dtype_id], errors="replace"
            )
        if attr.dtype_id in (39, 41):
            return bytes(attr.fill)
        vals = _typed_cells(attr.fill, attr.dtype_id)
        if attr.cell_val_num != 1:  # fixed multi-value AND var: list cell
            return list(vals)
        return vals[0] if vals else 0
    if attr.dtype_id in _TEXT_CODEC:
        return ""
    if attr.dtype_id in (39, 41):
        return b""
    if attr.cell_val_num == 0xFFFFFFFF:
        return []
    if attr.cell_val_num != 1:
        return [0] * attr.cell_val_num
    return 0


def _enum_fill_label(schema: "NativeSchema", attr):
    """The LABEL an evolved-in ENUMERATED attribute reads as on
    pre-evolution fragments: the fill ordinal mapped to its label by the
    convention :func:`_np_field` reads with (None for nullable, '' for
    ordinal 0), computed once for a whole fill column."""
    fill = _fill_value(attr)
    if fill is None:
        return None
    labels = schema.enumerations[attr.enumeration]
    if fill == 0:
        return ""
    if not isinstance(fill, int) or not 1 <= fill <= len(labels):
        raise ValueError(
            f"enumeration ordinal out of range for {attr.name}"
        )
    return labels[fill - 1]


def _dense_fragment_box(frag: str, schema: NativeSchema):
    """A dense fragment's NON-EMPTY DOMAIN: the validated footer NED
    (full domain when the footer is absent/unvalidatable — the
    pre-subarray-write layout).  This box bounds the fragment's DATA —
    which cells it contributes to a read; the on-disk CELL LAYOUT
    covers :func:`_dense_layout_box` of it (libtiledb derives the
    fragment domain the same way: NED expanded to space-tile
    boundaries, so an unaligned subarray write pads its edge tiles
    with fill values that never surface)."""
    fm = os.path.join(frag, "__fragment_metadata.tdb")
    footer = parse_fragment_footer(fm, schema)
    if footer is None or not footer.dense:
        return [d.domain for d in schema.dims]
    box = []
    for d, ned in zip(schema.dims, footer.non_empty_domain):
        box.append(ned if ned is not None else d.domain)
    return box


def _dense_layout_box(schema: NativeSchema, ned) -> list[tuple]:
    """The tile-aligned box a dense fragment's files are laid out over:
    ``ned`` expanded outward to space-tile boundaries (anchored at the
    domain low), clamped to the domain — libtiledb's fragment-domain
    derivation (``Domain::expand_to_tiles``).  Identity for aligned
    subarrays, which is every fragment the aligned write path emits."""
    out = []
    for d, (blo, bhi) in zip(schema.dims, ned):
        lo, hi = d.domain
        ext = d.extent or (hi - lo + 1)
        lo, hi, blo, bhi, ext = (
            int(lo), int(hi), int(blo), int(bhi), int(ext)
        )
        s = lo + ((blo - lo) // ext) * ext
        e = min(hi, lo + ((bhi - lo) // ext + 1) * ext - 1)
        out.append((s, e))
    return out


def read_native_array(
    array_dir: str,
    at: int | None = None,
    encryption_key: "bytes | str | None" = None,
) -> tuple[NativeSchema, list[tuple]]:
    """Open a bare TileDB array directory with NO caller-supplied schema
    (the discover_array analog, mytile/mytile-discovery.cc:54-473): the
    whole array visible at ``at`` (unix-millis time travel; None = all)
    as (schema, rows), rows (dims..., attrs...) in schema order — a row
    view of :func:`read_native_array_range_np` (newest-fragment-wins
    merge, deletes, dense fills).  ``encryption_key`` opens AES_256_GCM
    arrays (see :func:`open_encryption`)."""
    open_encryption(array_dir, encryption_key)
    schema = parse_array_schema(_schema_path(array_dir))
    names, cols = read_native_array_range_np(array_dir, at=at)
    return schema, list(zip(*(cols[n].tolist() for n in names)))


# ===========================================================================
# Round-4 extension: SUB-FRAGMENT reads.  A fragment data file is a walkable
# sequence of chunk extents (headers carry both stored and decoded sizes),
# so a task can seek to and decompress ONLY the chunks overlapping its
# split — per-task I/O and decode become O(split), not O(fragment): the
# 100x-scale item for the no-libtiledb connector path.  Sparse fragments
# still decode their (narrow) coordinate columns to locate the split's
# cell span — the same coords-first order libtiledb's sparse reader uses.
# ===========================================================================

_SPAN_STATS = {"chunks_decoded": 0, "chunks_total": 0, "bytes_decoded": 0}

_WALK_CACHE: dict = {}
_WALK_CACHE_MAX = 256


def _walk_tile_file(path: str) -> list[tuple[int, int, int, bytes]]:
    """Chunk extent index of a fragment data file WITHOUT decoding:
    [(payload_offset, orig_len, stored_len, meta_bytes), ...] across all
    tile records, via header seeks only.  Cached per (path, size,
    mtime): committed fragments are immutable (new data = new fragment
    directory), and several splits of one scan land on the same reused
    python worker — each would otherwise re-walk ~1 header per 64 KB."""
    st = os.stat(path)
    key = (path, st.st_size, st.st_mtime_ns)
    hit = _WALK_CACHE.get(key)
    if hit is not None:
        return hit
    chunks = []
    with open(path, "rb") as f:
        size = os.fstat(f.fileno()).st_size
        pos = 0
        while pos < size:
            f.seek(pos)
            (nc,) = struct.unpack("<Q", f.read(8))
            pos += 8
            for _ in range(nc):
                f.seek(pos)
                orig, filt, meta = struct.unpack("<III", f.read(12))
                mbytes = f.read(meta)
                payload_off = pos + 12 + meta
                chunks.append((payload_off, orig, filt, mbytes))
                pos = payload_off + filt
    if len(_WALK_CACHE) >= _WALK_CACHE_MAX:
        _WALK_CACHE.clear()
    _WALK_CACHE[key] = chunks
    return chunks


def file_decoded_size(path: str) -> int:
    return sum(orig for (_o, orig, _f, _m) in _walk_tile_file(path))


def read_byte_span(
    path: str,
    lo: int,
    hi: int,
    filters: list | None = None,
    elem: int = 8,
    rle_value_size: int | None = None,
    var: bool = False,
) -> bytes:
    """Decoded bytes [lo, hi) of a fragment data file, reading and
    decompressing ONLY the chunks that overlap the span (seek-based).
    Chunk selection is byte-range driven, so cell alignment of chunk
    boundaries is irrelevant.  Encrypted arrays decrypt ONLY the
    selected chunks (GCM per chunk), keeping the read O(split)."""
    from tiledb_mariadb_spark.sources.tiledb_native_crypto import (  # noqa: PLC0415
        decrypt_chunk,
        key_for_path,
    )

    enc_key = key_for_path(path)
    chunks = _walk_tile_file(path)
    total = sum(c[1] for c in chunks)
    if not 0 <= lo <= hi <= total:
        raise ValueError(f"span [{lo},{hi}) outside decoded size {total}")
    out = bytearray()
    cpos = 0
    with open(path, "rb") as f:
        for off, orig, filt, mbytes in chunks:
            _SPAN_STATS["chunks_total"] += 1
            if cpos + orig <= lo or cpos >= hi:
                cpos += orig
                continue
            f.seek(off)
            payload = f.read(filt)
            if enc_key is not None:
                mbytes, payload = decrypt_chunk(enc_key, payload, mbytes)
            if filters:
                dec = _reverse_pipeline(filters, [mbytes], payload, elem,
                                        var=var)
            elif rle_value_size is not None and filt != orig:
                dec = _rle_decode(payload, rle_value_size, orig)
            elif payload[:4] == ZSTD_MAGIC:
                dec = _zstd_decode(payload, orig)
            elif payload[:2] in (b"\x78\x01", b"\x78\x9c", b"\x78\xda"):
                dec = zlib.decompress(payload)
            else:
                dec = payload
            _SPAN_STATS["chunks_decoded"] += 1
            _SPAN_STATS["bytes_decoded"] += orig
            out += dec[max(0, lo - cpos) : hi - cpos]
            cpos += orig
    return bytes(out)


class _SortedCellView:
    """Sequence view over a FIXED-width coordinate file for bisect:
    item access decodes only the chunk containing that cell (memoized),
    so locating a range boundary costs O(log n_cells) chunk decodes.
    Raises on observed non-monotonicity (callers fall back to a full
    decode — the seek is an optimization, never a correctness source)."""

    def __init__(self, path: str, filters: list, dtype_id: int):
        self._path = path
        self._filters = filters
        _n, self._code, self._elem = _DT[dtype_id]
        self._chunks = _walk_tile_file(path)
        self._cum = [0]
        for _o, orig, _f, _m in self._chunks:
            self._cum.append(self._cum[-1] + orig)
        self._n = self._cum[-1] // self._elem
        self._memo: dict[int, tuple] = {}

    def __len__(self) -> int:
        return self._n

    def _chunk_vals(self, ci: int) -> tuple:
        hit = self._memo.get(ci)
        if hit is None:
            raw = read_byte_span(
                self._path, self._cum[ci], self._cum[ci + 1],
                filters=self._filters, elem=self._elem,
            )
            hit = struct.unpack(f"<{len(raw) // self._elem}{self._code}", raw)
            for a, b in zip(hit, hit[1:]):
                if b < a:
                    raise ValueError("coordinate chunk not sorted")
            self._memo[ci] = hit
        return hit

    def __getitem__(self, i: int):
        byte = i * self._elem
        import bisect as _b  # noqa: PLC0415

        ci = _b.bisect_right(self._cum, byte) - 1
        vals = self._chunk_vals(ci)
        return vals[(byte - self._cum[ci]) // self._elem]


# numpy dtype strings for the fixed-width ids that decode with
# frombuffer.  DATETIME_* (18-30) are raw int64 ticks — the connector
# types them bigint and rendering rules (datetime_ticks_to_*) live with
# the callers.  BOOL (40) decodes as raw u8 0/1, fixed-width BLOB /
# GEOM_WKB (39/41) bytes as u8 integers.  Text dtypes (_TEXT_CODEC)
# decode to object strings instead (_np_text).
_NP_DT = {
    0: "<i4", 1: "<i8", 2: "<f4", 3: "<f8", 5: "<i1", 6: "<u1",
    7: "<i2", 8: "<u2", 9: "<u4", 10: "<u8", 39: "<u1", 40: "<u1",
    41: "<u1",
    **{i: "<i8" for i in range(18, 31)},
}


def _np_is_obj(schema: "NativeSchema", f) -> bool:
    """Does field ``f`` read as an OBJECT column of python values (text,
    bytes, lists, enumeration labels, None for NULL) rather than a typed
    numpy column?"""
    return (
        f.cell_val_num != 1
        or getattr(f, "nullable", False)
        or getattr(f, "enumeration", None) in schema.enumerations
        or f.dtype_id not in _NP_DT
    )


def _np_empty(schema: "NativeSchema", f):
    import numpy as np  # noqa: PLC0415

    return np.empty(
        0, object if _np_is_obj(schema, f) else _NP_DT[f.dtype_id]
    )


def _np_fill(schema: "NativeSchema", a, n: int):
    """``n`` cells of attribute ``a``'s fill value (see
    :func:`_fill_value`); an ENUMERATED attr fills with the fill
    ordinal's label."""
    import numpy as np  # noqa: PLC0415

    if getattr(a, "enumeration", None) in schema.enumerations:
        fill = _enum_fill_label(schema, a)
    elif not _np_is_obj(schema, a):
        return np.full(n, _fill_value(a), dtype=_NP_DT[a.dtype_id])
    else:
        fill = _fill_value(a)
    out = np.empty(n, dtype=object)
    out[:] = [fill] * n  # list fills must not broadcast
    return out


def _np_text(buf: bytes, rel, codec: str):
    """Text cells as an OBJECT array of python strings: ``buf`` holds the
    cells back to back, ``rel`` (int64) their n+1 byte bounds.  UTF-8
    goes through Arrow's LargeStringArray.from_buffers — C-speed, and
    trailing NULs of fixed CHAR(k) cells survive (numpy's S dtype strips
    them).  Bytes that are not valid UTF-8, and the UTF-16/32 codecs,
    decode per cell with errors='replace'."""
    import numpy as np  # noqa: PLC0415
    import pyarrow as pa  # noqa: PLC0415

    n = len(rel) - 1
    if codec == "utf-8":
        arr = pa.LargeStringArray.from_buffers(
            n, pa.py_buffer(rel.tobytes()), pa.py_buffer(buf)
        )
        try:
            arr.validate(full=True)
        except pa.lib.ArrowInvalid:
            pass  # invalid UTF-8: per-cell replacement decode below
        else:
            return arr.to_numpy(zero_copy_only=False)
    b = rel.tolist()
    out = np.empty(n, dtype=object)
    out[:] = [
        buf[b[i] : b[i + 1]].decode(codec, errors="replace")
        for i in range(n)
    ]
    return out


def _np_var_cells(base: str, schema: "NativeSchema", field,
                  lo_cell: int, hi_cell: int):
    """Cells [lo_cell, hi_cell) of a var-length field as an OBJECT
    array — text (per _TEXT_CODEC), bytes (BLOB/GEOM_WKB) or lists of
    numbers — from the offsets span and the var byte range it
    addresses."""
    import numpy as np  # noqa: PLC0415
    import pyarrow as pa  # noqa: PLC0415

    def _offs(lo, hi):
        return np.frombuffer(
            read_byte_span(
                base, lo * 8, hi * 8, filters=schema.offsets_filters, elem=8
            ),
            "<u8",
        ).astype(np.int64)

    offs = _offs(lo_cell, hi_cell)
    if not len(offs):
        return np.empty(0, dtype=object)
    var_file = base[:-4] + "_var.tdb"
    if hi_cell < file_decoded_size(base) // 8:
        end = int(_offs(hi_cell, hi_cell + 1)[0])
    else:
        end = file_decoded_size(var_file)
    dt = field.dtype_id
    start = int(offs[0])
    var = read_byte_span(
        var_file, start, end, filters=field.filters, elem=_DT[dt][2],
        var=True,
    )
    rel = np.append(offs - start, end - start)
    if (rel[1:] < rel[:-1]).any():
        raise ValueError(f"{field.name}: var offsets out of order in {base}")
    if dt in _TEXT_CODEC:
        return _np_text(var, rel, _TEXT_CODEC[dt])
    out = np.empty(len(offs), dtype=object)
    if dt in (39, 41):  # BLOB / GEOM_WKB: bytes cells
        out[:] = pa.LargeBinaryArray.from_buffers(
            pa.large_binary(), len(offs),
            [None, pa.py_buffer(rel.tobytes()), pa.py_buffer(var)],
        ).to_pylist()
        return out
    flat = np.frombuffer(var, _NP_DT[dt]).tolist()
    cut = (rel // _DT[dt][2]).tolist()
    out[:] = [flat[cut[i] : cut[i + 1]] for i in range(len(offs))]
    return out


def _field_cells(path: str, field) -> int:
    """Cell count of a fragment data file of ``field``."""
    size = file_decoded_size(path)
    if field.cell_val_num == 0xFFFFFFFF:
        return size // 8
    return size // (_DT[field.dtype_id][2] * field.cell_val_num)


def _np_field(frag: str, schema: "NativeSchema", field, idx: int,
              kind: str, lo_cell: int, hi_cell: int):
    """Cells [lo_cell, hi_cell) of one dim (``kind`` 'd') or attr ('a')
    of a fragment as a numpy column, decoding only the chunks that cover
    the span — the one columnar field decoder.  Non-nullable scalar
    numeric fields come back typed (see _NP_DT); everything else as an
    OBJECT column: text (_np_text), bytes, python lists for fixed
    multi-value and var numeric cells, enumeration labels, None for
    NULL.  Enumeration ordinals follow the convention the reference
    WRITES (ha_mytile stores the MariaDB ENUM ordinal): 1-based, with
    0 = the empty string — pinned by the enum_array fixture, whose row
    10 stores 1 and reads back the FIRST label 'ee' in r/enum.result.
    An attr with no data file in this fragment was evolved in later and
    reads as its fill.  A span past the end of a file (torn fragment)
    and an out-of-range enumeration ordinal raise ValueError."""
    import numpy as np  # noqa: PLC0415

    n = hi_cell - lo_cell
    try:
        base = _field_file(frag, field.name, idx, kind)
    except FileNotFoundError:
        if kind != "a":
            raise
        return _np_fill(schema, field, n)
    dt, cvn = field.dtype_id, field.cell_val_num
    elem = _DT[dt][2]
    if cvn == 0xFFFFFFFF:
        v = _np_var_cells(base, schema, field, lo_cell, hi_cell)
    else:
        cb = elem * cvn
        raw = read_byte_span(
            base, lo_cell * cb, hi_cell * cb, filters=field.filters,
            elem=elem,
        )
        if dt in _TEXT_CODEC:
            v = _np_text(
                raw, np.arange(n + 1, dtype=np.int64) * cb, _TEXT_CODEC[dt]
            )
        elif cvn != 1:
            v = np.empty(n, dtype=object)
            v[:] = np.frombuffer(raw, _NP_DT[dt]).reshape(-1, cvn).tolist()
        else:
            v = np.frombuffer(raw, _NP_DT[dt])
    valid = None
    if getattr(field, "nullable", False):
        valid = np.frombuffer(
            read_byte_span(
                base[:-4] + "_validity.tdb", lo_cell, hi_cell,
                rle_value_size=1, filters=schema.validity_filters, elem=1,
            ),
            np.uint8,
        ).astype(bool)
    labels = schema.enumerations.get(getattr(field, "enumeration", None))
    if labels:
        # NULL cells are never range-checked (they stay None)
        ords = v if valid is None else v[valid]
        if len(ords) and (
            ords.dtype.kind not in "iu"
            or int(ords.min()) < 0
            or int(ords.max()) > len(labels)
        ):
            raise ValueError(
                f"enumeration ordinal out of range for {field.name}"
            )
        lookup = np.array(["", *labels], dtype=object)
        mapped = np.empty(len(v), dtype=object)
        if valid is None:
            mapped[:] = lookup[v]
        else:
            mapped[valid] = lookup[v[valid]]
        v = mapped
    if valid is not None:
        v = v.astype(object)  # a copy: frombuffer columns are read-only
        v[~valid] = None
    return v


def _np_obj_scalar(v):
    """A str/bytes comparison bound as a 0-d OBJECT ndarray.  Comparing
    an object column against a PLAIN str scalar makes numpy coerce the
    scalar through the U dtype, which silently STRIPS trailing NUL code
    points — so a split bound like ``k + "\\0"`` (the lexicographic
    successor the string split planner emits) collapses back to ``k``
    and adjacent splits double-count the boundary key (round-7 probe
    finding).  The 0-d object wrap keeps elementwise python semantics."""
    if isinstance(v, (str, bytes)):
        import numpy as np  # noqa: PLC0415

        o = np.empty((), dtype=object)
        o[()] = v
        return o
    return v


def _np_cond_mask(vals, op: str, rest):
    """Vectorized single-conjunct delete-condition evaluation over one
    merged column: True where the cell MATCHES.  NULL-safe 3VL — a value
    comparison with NULL never matches, so NULL cells survive value
    deletes and need is_null to be removed.  Uncomparable cell/target
    types raise TypeError, as python's own comparison does."""
    import numpy as np  # noqa: PLC0415

    isnull = (
        np.frompyfunc(lambda v: v is None, 1, 1)(vals).astype(bool)
        if vals.dtype == object
        else None
    )
    if op == "is_null":
        return (
            isnull if isnull is not None else np.zeros(len(vals), bool)
        )
    if op == "is_not_null":
        return (
            ~isnull if isnull is not None else np.ones(len(vals), bool)
        )
    if op == "in":
        members = [_np_obj_scalar(v) for v in (rest[0] or [])]

        def _cmp(sub):
            out = np.zeros(len(sub), dtype=bool)
            for mv in members:
                out |= np.asarray(sub == mv, dtype=bool)
            return out
    else:
        t = _np_obj_scalar(rest[0])

        def _cmp(sub):
            return {
                "=": sub == t, "!=": sub != t, "<": sub < t,
                "<=": sub <= t, ">": sub > t, ">=": sub >= t,
            }[op]

    if isnull is None:
        return np.asarray(_cmp(vals), dtype=bool)
    out = np.zeros(len(vals), dtype=bool)
    idx = np.flatnonzero(~isnull)
    if len(idx):
        out[idx] = np.asarray(_cmp(vals[idx]), dtype=bool)
    return out


def _rm_window_indices(np, window, frame):
    """Row-major cell indices of ``window`` within ``frame`` (both
    per-dim inclusive (lo, hi) spans, window ⊆ frame) — built by
    successive outer sums of per-dim stride offsets, no python loop over
    cells."""
    strides, mult = [], 1
    for lo, hi in reversed(frame):
        strides.insert(0, mult)
        mult *= hi - lo + 1
    idx = np.zeros(1, dtype=np.int64)
    for (wlo, whi), (flo, _fhi), st in zip(window, frame, strides):
        axis = (np.arange(wlo, whi + 1, dtype=np.int64) - flo) * st
        idx = (idx[:, None] + axis[None, :]).ravel()
    return idx


def _read_dense_range_np(
    array_dir: str,
    schema,
    ranges: list[tuple] | None = None,
    columns: list[str] | None = None,
    at: int | None = None,
    frags: list[str] | None = None,
    since: int | None = None,
):
    """The DENSE branch of :func:`read_native_array_range_np`.  Dense
    fragments store no coordinates — dim columns are GENERATED with
    arange/repeat/tile over the result bounding box, so a dense scan
    costs exactly the attribute bytes plus O(cells) numpy arithmetic
    (the reference treats dense as first-class, ha_mytile.cc:3287-3314).

    Semantics: visible fragments' written boxes (footer NED) shape a
    bounding box, clipped by the requested ranges; fragments scatter
    their cells into it oldest -> newest (newest-wins overwrite);
    uncovered cells materialize fill values; cells come out in
    row-major (= sorted coordinate) order.  Row-major single-space-tile
    fragments (the writer default) decode only the dim0-range cell
    SPAN — per-task bytes stay O(split); tiled layouts decode their box
    and permute disk (global tile) order -> row-major vectorized.  A
    fragment holding coordinates (a sparse write into a dense array) is
    not supported and raises ValueError."""
    import numpy as np  # noqa: PLC0415

    dims = schema.dims
    want = [
        a for a in schema.attrs if columns is None or a.name in columns
    ]
    rngs = list(ranges) if ranges else [(None, None)] * len(dims)
    frag_list = frags if frags is not None else _fragment_dirs(
        array_dir, at=at, since=since
    )
    names = [d.name for d in dims] + [a.name for a in want]

    boxes = []          # every visible box shapes the bounding box
    frag_data = []      # (effective_box, {attr: col in rm-box order})
    for frag in frag_list:
        try:
            _field_file(frag, dims[0].name, 0, "d")
            coords = True
        except FileNotFoundError:
            coords = os.path.isfile(os.path.join(frag, "__coords.tdb"))
        if coords:
            raise ValueError(
                f"sparse fragment in a dense array is not supported: {frag}"
            )
        ned = [tuple(b) for b in _dense_fragment_box(frag, schema)]
        boxes.append(ned)
        if not fragment_overlaps(frag, schema, rngs):
            continue
        # files are laid out over the tile-EXPANDED box (unaligned
        # subarray writes pad their edge tiles); decode against the
        # layout, then clip to the NED so padding fills never surface
        box = _dense_layout_box(schema, ned)
        eff_box = list(box)
        lo_cell = 0
        box_n = 1
        for blo, bhi in box:
            box_n *= bhi - blo + 1
        # per-FRAGMENT layout check: 1-D arrays with any extent (tiles
        # advance only along dim0) and one-tile-column boxes are plain
        # row-major on disk — dim0 ranges map to contiguous cell spans
        # and no permutation is needed
        row_major = _dense_box_row_major(schema, box)
        if row_major and rngs[0] != (None, None):
            # dim0 range -> contiguous cell span of the box (row-major
            # layout): only the covering chunks ever decode
            rlo, rhi = rngs[0]
            blo0, bhi0 = box[0]
            wlo0 = blo0 if rlo is None else max(blo0, rlo)
            whi0 = bhi0 if rhi is None else min(bhi0, rhi)
            if wlo0 > whi0:
                continue
            inner = box_n // (bhi0 - blo0 + 1)
            lo_cell = (wlo0 - blo0) * inner
            box_n = (whi0 - wlo0 + 1) * inner
            eff_box[0] = (wlo0, whi0)
        cols = {
            a.name: _np_field(
                frag, schema, a, schema.attrs.index(a), "a",
                lo_cell, lo_cell + box_n,
            )
            for a in want
        }
        if not row_major:
            # permute disk (global space-tile) order -> row-major:
            # per tile, its cells' row-major indices within the box
            axes = []
            for d, (blo, bhi) in zip(dims, eff_box):
                lo, hi = d.domain
                ext = d.extent or (hi - lo + 1)
                spans = []
                for t in range(lo, hi + 1, ext):
                    s, e = max(t, blo), min(t + ext - 1, bhi)
                    if s <= e:
                        spans.append((s, e))
                axes.append(spans)
            pieces = [
                _rm_window_indices(np, combo, eff_box)
                for combo in itertools.product(*axes)
            ]
            rm_of_disk = (
                np.concatenate(pieces) if pieces
                else np.empty(0, np.int64)
            )
            for nm, v in cols.items():
                rm = np.empty(len(v), dtype=v.dtype)
                rm[rm_of_disk] = v
                cols[nm] = rm
        nwin = [
            (max(nlo, elo), min(nhi, ehi))
            for (nlo, nhi), (elo, ehi) in zip(ned, eff_box)
        ]
        if any(wlo > whi for wlo, whi in nwin):
            continue  # only edge-tile padding falls in the range
        if nwin != [tuple(b) for b in eff_box]:
            keep = _rm_window_indices(np, nwin, eff_box)
            cols = {nm: v[keep] for nm, v in cols.items()}
            eff_box = nwin
        frag_data.append((eff_box, cols))

    def _empty():
        return names, {f.name: _np_empty(schema, f) for f in dims + want}

    if not boxes:
        return _empty()
    bbox = []
    for i in range(len(dims)):
        blo = min(b[i][0] for b in boxes)
        bhi = max(b[i][1] for b in boxes)
        lo, hi = rngs[i]
        if lo is not None:
            blo = max(blo, lo)
        if hi is not None:
            bhi = min(bhi, hi)
        if blo > bhi:
            return _empty()
        bbox.append((int(blo), int(bhi)))
    sizes = [bhi - blo + 1 for blo, bhi in bbox]
    bbox_n = 1
    for s in sizes:
        bbox_n *= s
    out = {a.name: _np_fill(schema, a, bbox_n) for a in want}
    # oldest -> newest scatter = newest-wins overwrite (frag_list
    # order).  Identity windows (fragment covers its whole box / the
    # whole bbox — the common single-fragment scan) skip the index-array
    # build and fancy-index.
    for box, cols in frag_data:
        win = [
            (max(blo, bblo), min(bhi, bbhi))
            for (blo, bhi), (bblo, bbhi) in zip(box, bbox)
        ]
        if any(wlo > whi for wlo, whi in win):
            continue
        src = (
            None if win == [tuple(b) for b in box]
            else _rm_window_indices(np, win, box)
        )
        dst = (
            None if win == [tuple(b) for b in bbox]
            else _rm_window_indices(np, win, bbox)
        )
        for a in want:
            col = cols[a.name]
            if src is not None:
                col = col[src]
            if dst is None:
                out[a.name][:] = col
            else:
                out[a.name][dst] = col
    # generated coordinates: row-major over the bounding box
    inner = bbox_n
    for d, (blo, bhi), size in zip(dims, bbox, sizes):
        inner //= size
        outer = bbox_n // (size * inner)
        out[d.name] = np.tile(
            np.repeat(
                np.arange(blo, bhi + 1, dtype=_NP_DT[d.dtype_id]), inner
            ),
            outer,
        )
    return names, out


def read_native_array_range_np(
    array_dir: str,
    ranges: list[tuple] | None = None,
    columns: list[str] | None = None,
    at: int | None = None,
    prune_conditions: list | None = None,
    frags: list[str] | None = None,
    since: int | None = None,
):
    """Range + projection read of a bare native array as whole numpy
    columns: ``(names, {name: ndarray})`` for the cells whose
    coordinates fall inside the inclusive per-dimension ``ranges``
    (None bound = unbounded) — dims, then the requested attrs in schema
    order.  This is the one range reader: the ``tiledb_native`` data
    source, the ``tiledb_agg`` bridge, consolidation, discovery and
    :func:`read_native_array` (a row view) all read through it.  Column
    types are described at :func:`_np_field`.

    Why columns: profiling (BASELINE.md round-5 probe) put ~95% of a
    row-tuple scan in python row construction and newest-wins dict
    bookkeeping, not codec work.  Here every step is a numpy array op —
    frombuffer on the span-decoded bytes, boolean range mask, stable
    lexsort + shifted-compare dedup for newest-wins.

    Semantics:
    - visible fragments: commit gates, ``at`` (upper time bound),
      ``since`` (inclusive LOWER time bound — TileDB timestamp_start, the
      window a CDC export reads: a fragment is in iff since <= t1 and
      t2 <= at), ``frags`` (the merged state of ONLY this oldest->newest
      fragment subset — incremental consolidation's input);
    - ``prune_conditions``: an AND-list of (col, op, value) the CALLER
      applies after the read, used here only as a skip proof — stats /
      bloom refutation of whole fragments and of tiles, gated by the
      newest-wins shadow rule (dropping a provably non-matching cell
      must not resurrect an older fragment's passing cell);
    - footer-disjoint fragments decode nothing; ROW_MAJOR fragments
      bisect dim0 so per-task bytes stay O(split), and the range mask
      re-checks every cell on every dim (bisect and footers are
      advisory);
    - newest-wins: fragments decode oldest -> newest, a STABLE sort on
      the coordinate tuple keeps that order within equal keys, and the
      LAST occurrence of each key wins (allows_dups keeps every
      occurrence, same order);
    - visible delete commits apply after the merge as vectorized masks,
      gated by writer ts (a delete removes only cells written at or
      before it, so a deleted newest version never resurfaces an older
      one); a condition on a column the schema lacks reads it as NULL;
    - evolved-in attrs read as their fill; dense arrays generate their
      coordinates (:func:`_read_dense_range_np`).

    Torn files and impossible layouts raise: ValueError for a cell
    count that does not match or zipped coordinates of mixed dtypes,
    FileNotFoundError for a missing dim file, TypeError for range bounds
    or delete targets that cannot be compared with the cells."""
    import numpy as np  # noqa: PLC0415

    schema = parse_array_schema(_schema_path(array_dir))
    if schema.array_type == "DENSE":
        return _read_dense_range_np(
            array_dir, schema, ranges=ranges, columns=columns, at=at,
            frags=frags, since=since,
        )
    dims = schema.dims
    d0 = dims[0]
    want = [
        a for a in schema.attrs if columns is None or a.name in columns
    ]
    frag_list = frags if frags is not None else _fragment_dirs(
        array_dir, at=at, since=since
    )
    # a delete may test attrs the projection dropped — decode them too,
    # filter, then project back down
    dels = _delete_conditions(array_dir, at, frag_list)
    if frags is not None:
        dels = _subset_era_deletes(dels, frags)
    want_out = want
    if dels:
        need = {c[0] for _ts, conds in dels for c in conds}
        want = want + [
            a for a in schema.attrs if a.name in need and a not in want
        ]
    rngs = list(ranges) if ranges else [(None, None)] * len(dims)
    lo, hi = rngs[0]
    names = [d.name for d in dims] + [a.name for a in want]
    any_rng = any(r != (None, None) for r in rngs)
    # bounds past dim0, which the dim0 bisect cannot use: R-tree leaf
    # MBRs keep only the tiles that can intersect them
    rtree = any(r != (None, None) for r in rngs[1:])
    parts: list[dict] = []
    part_wts: list[int] = []  # per-part writer ts (delete applicability)
    cond_skips = (
        plan_condition_skips(frag_list, schema, prune_conditions)
        if prune_conditions else set()
    )
    _cread = [f for f in frag_list if f not in cond_skips]
    _cfooters: dict = {}

    def _tile_runs(fr):
        # TILE-level condition pruning: inside a surviving fragment,
        # decode only the tiles whose per-tile stats can reach the
        # conditions — gated by the same shadow rule as fragment skips
        if not prune_conditions:
            return None
        others = [f for f in _cread if f != fr]
        if others and not condition_skip_safe(
            fr, schema, others, _footers=_cfooters
        ):
            return None
        return condition_tile_runs(fr, schema, prune_conditions)

    for frag in frag_list:
        if frag in cond_skips:
            continue
        if not fragment_overlaps(frag, schema, rngs):
            continue
        zipped_file = os.path.join(frag, "__coords.tdb")
        zipped = os.path.isfile(zipped_file)
        # runs: absolute [lo, hi) cell spans outside which no cell can
        # match — condition-kept tiles, intersected with R-tree-kept
        # tiles; None = no such proof
        runs = _tile_runs(frag)
        rt = None
        if rtree and not zipped:
            rt = rtree_tile_runs(frag, schema, rngs)
        if rt is not None:
            rt = [(a, b) for a, b, _n in rt]
            runs = rt if runs is None else [
                (max(a, c), min(b, d))
                for a, b in runs for c, d in rt if max(a, c) < min(b, d)
            ]
        if runs is not None and not runs:
            continue  # every tile refuted (and shadow-safe) or disjoint
        base = 0
        if zipped:
            # legacy (pre-2.0) ZIPPED coordinates: one interleaved
            # (d0, d1, ..., dk) tuple per cell in ONE fixed dim dtype —
            # decode once, de-interleave with a reshape column view
            if any(
                d.dtype_id != d0.dtype_id or d.cell_val_num != 1
                for d in dims
            ):
                raise ValueError(
                    f"zipped coordinates need one fixed dim dtype: {frag}"
                )
            flat = np.frombuffer(
                b"".join(
                    read_chunked_tile(open(zipped_file, "rb").read())
                ),
                _NP_DT[d0.dtype_id],
            )
            if len(flat) % len(dims):
                raise ValueError(
                    f"{len(flat)} zipped coordinate values for "
                    f"{len(dims)} dims in {frag}"
                )
            mat = flat.reshape(-1, len(dims))
            dcols = [np.ascontiguousarray(mat[:, i])
                     for i in range(len(dims))]
        else:
            s_lo = 0
            s_hi = _field_cells(_field_file(frag, d0.name, 0, "d"), d0)
            if (lo, hi) != (None, None):
                span = sorted_dim0_cell_span(frag, schema, lo, hi)
                if span is not None:
                    s_lo, s_hi = span[0], span[1]
            if runs is not None:
                # kept tiles narrow the covering span
                s_lo, s_hi = max(s_lo, runs[0][0]), min(s_hi, runs[-1][1])
            if s_lo >= s_hi:
                continue
            base = s_lo
            dcols = [
                _np_field(frag, schema, d, i, "d", s_lo, s_hi)
                for i, d in enumerate(dims)
            ]
        k = dcols[0]
        if not len(k):
            continue
        # re-check the ranges on every cell of every dim (bisect and
        # footer pruning are advisory); asarray(..., bool) keeps object
        # (string-dim) comparisons composable with the bool mask
        if any_rng or runs is not None:
            mask = np.ones(len(k), dtype=bool)
            for col, (rlo, rhi) in zip(dcols, rngs):
                if rlo is not None:
                    mask &= np.asarray(col >= _np_obj_scalar(rlo), dtype=bool)
                if rhi is not None:
                    mask &= np.asarray(col <= _np_obj_scalar(rhi), dtype=bool)
            if runs is not None:
                # drop cells of refuted tiles: runs are absolute cell
                # indices, this window starts at `base`
                cmask = np.zeros(len(k), dtype=bool)
                for r_lo, r_hi in runs:
                    a, b = max(r_lo - base, 0), min(r_hi - base, len(k))
                    if a < b:
                        cmask[a:b] = True
                mask &= cmask
            idx = np.flatnonzero(mask)
            if not len(idx):
                continue
            i0, i1 = int(idx[0]), int(idx[-1]) + 1
            contiguous = (i1 - i0) == len(idx)
        else:
            idx = None
            i0, i1 = 0, len(k)
            contiguous = True
        cols = {
            d.name: (col[i0:i1] if contiguous else col[idx])
            for d, col in zip(dims, dcols)
        }
        for a in want:
            v = _np_field(
                frag, schema, a, schema.attrs.index(a), "a",
                base + i0, base + i1,
            )
            cols[a.name] = v if contiguous else v[idx - i0]
        parts.append(cols)
        part_wts.append(_frag_range(os.path.basename(frag))[1])
    out_names = [d.name for d in dims] + [a.name for a in want_out]
    if not parts:
        return out_names, {
            f.name: _np_empty(schema, f) for f in dims + want_out
        }
    cat = {nm: np.concatenate([p[nm] for p in parts]) for nm in names}
    # lexicographic coordinate order.  All-numeric keys: np.lexsort
    # (stable, primary key = LAST array).  String (object) keys: the
    # classic stable-argsort chain from the LAST key to the FIRST — each
    # pass is kind='stable', so the final order is the same
    # lexicographic order with fragment order preserved inside equal
    # keys.
    key_cols = [cat[d.name] for d in dims]
    if any(c.dtype == object for c in key_cols):
        order = np.arange(len(key_cols[0]))
        for c in reversed(key_cols):
            order = order[np.argsort(c[order], kind="stable")]
    else:
        order = np.lexsort(tuple(reversed(key_cols)))
    if schema.allows_dups:
        keep = order
    else:
        # a row is the LAST of its key iff it differs from its successor
        # on ANY dim; LAST occurrence = newest winner
        last = np.zeros(len(order), dtype=bool)
        last[-1] = True
        for d in dims:
            ks = cat[d.name][order]
            last[:-1] |= np.asarray(ks[1:] != ks[:-1], dtype=bool)
        keep = order[last]
    res = {nm: cat[nm][keep] for nm in names}
    if dels:
        # a (post-merge) row dies iff some delete at dts has writer_ts
        # <= dts AND every conjunct matches; each conjunct is evaluated
        # only on the rows still matching the ones before it
        wts_cat = np.concatenate([
            np.full(len(p[d0.name]), w, dtype=np.int64)
            for p, w in zip(parts, part_wts)
        ])[keep]
        dead = np.zeros(len(wts_cat), dtype=bool)
        for dts, conds in dels:
            m = wts_cat <= dts
            for cond in conds:
                cand = np.flatnonzero(m)
                if not len(cand):
                    break
                col = res.get(cond[0])
                if col is None:  # a column the schema lacks reads NULL
                    col = np.full(len(m), None, dtype=object)
                m[cand] = _np_cond_mask(col[cand], cond[1], cond[2:])
            dead |= m
        if dead.any():
            live = ~dead
            res = {nm: v[live] for nm, v in res.items()}
    if want is not want_out:
        res = {nm: res[nm] for nm in out_names}
    return out_names, res


def sorted_dim0_cell_span(
    frag: str, schema: "NativeSchema", lo, hi
) -> tuple[int, int, int] | None:
    """(first_cell, end_cell, n_cells) of dim0 values within [lo, hi] for
    a ROW_MAJOR sparse fragment — found by bisect over the coordinate
    file's chunk index, decoding O(log) chunks.  None => caller decodes
    fully (var/zipped dims, non-row-major layout, or a sortedness
    violation)."""
    import bisect  # noqa: PLC0415

    d0 = schema.dims[0]
    if schema.cell_order != 0 or d0.is_var or _DT[d0.dtype_id][1] == "c":
        return None
    try:
        path = _field_file(frag, d0.name, 0, "d")
        view = _SortedCellView(path, d0.filters, d0.dtype_id)
        n = len(view)
        lo_c = bisect.bisect_left(view, lo) if lo is not None else 0
        hi_c = bisect.bisect_right(view, hi) if hi is not None else n
        return lo_c, hi_c, n
    except (ValueError, FileNotFoundError, struct.error):
        return None  # unsorted/odd layout: full decode handles it


def dim0_neighbor(
    array_dir: str,
    key,
    side: str = "pred",
    at: int | None = None,
    since: int | None = None,
):
    """The dim0 coordinate adjacent to ``key`` across all visible sparse
    fragments — ``side='pred'``: greatest coordinate STRICTLY below
    ``key``; ``side='succ'``: smallest STRICTLY above.  O(log) chunk
    decodes per fragment (the same `_SortedCellView` bisect the range
    reader uses); returns ``(True, value_or_None)`` when provable
    (None = no such cell) and ``(False, None)`` when any fragment's
    layout defeats the bisect (var/string dims, non-row-major) — the
    caller must then widen conservatively.  Boundary-extension primitive
    for the zero-shuffle as-of join: a split's task must see the last
    reference row BEFORE its own range, and this finds it without
    decoding a tile."""
    import bisect  # noqa: PLC0415

    schema = parse_array_schema(_schema_path(array_dir))
    if schema.array_type != "SPARSE":
        return (False, None)
    d0 = schema.dims[0]
    if schema.cell_order != 0 or d0.is_var or _DT[d0.dtype_id][1] == "c":
        return (False, None)
    best = None
    for frag in _fragment_dirs(array_dir, at=at, since=since):
        if os.path.isfile(os.path.join(frag, "__coords.tdb")):
            return (False, None)  # legacy zipped layout: no bisect
        try:
            path = _field_file(frag, d0.name, 0, "d")
            view = _SortedCellView(path, d0.filters, d0.dtype_id)
            n = len(view)
            if side == "pred":
                i = bisect.bisect_left(view, key)
                if i > 0:
                    v = view[i - 1]
                    best = v if best is None or v > best else best
            else:
                i = bisect.bisect_right(view, key)
                if i < n:
                    v = view[i]
                    best = v if best is None or v < best else best
        except (ValueError, FileNotFoundError, struct.error):
            return (False, None)
    return (True, best)


def _dense_box_row_major(schema: "NativeSchema", box) -> bool:
    """Global (space-tile) cell order over ``box`` equals plain
    ROW-MAJOR order: every dim AFTER the first spans at most one
    domain-aligned tile, so space tiles advance only along dim0 and
    each tile is a contiguous row-major slice.  Covers 1-D arrays with
    any extent (the common dense shape) and boxes confined to one tile
    column — the layouts where dim0 ranges map to contiguous cell spans
    with no permutation."""
    for d, (blo, bhi) in zip(schema.dims[1:], box[1:]):
        lo, hi = d.domain
        ext = d.extent or (hi - lo + 1)
        if (blo - lo) // ext != (bhi - lo) // ext:
            return False
    return True


# ---------------------------------------------------------------------------
# Fragment-metadata FOOTER (round 4): the per-fragment non-empty domain +
# tile counts, parsed straight from __fragment_metadata.tdb so sparse
# fragments whose domain cannot intersect a query range are skipped
# WITHOUT decoding any coordinates (libtiledb's fragment pruning).
#
# Two on-disk eras, auto-detected from the trailing u64:
# - offset era (TileDB ~2.0 mid - 2.x): trailing u64 = offset of a footer
#   SECTION = [R-tree generic tile][raw footer];
# - size era (earliest 2.0 builds and v>=10): trailing u64 = byte size of
#   the raw footer that sits just before it.
# Raw footer: [u32 version][u64 name_len + name  (v>=10)][u8 dense]
# [u8 null_ned][per-dim domain][u64 sparse_tile_num][u64 last_tile_cell_num]
# (later fields ignored).  Fixed dims: 2 typed values; var dims:
# [u64 total][u64 start_len][bytes].
#
# TRUST BOUNDARY: pruning uses FIXED-dim domains only.  The committed bank
# fixture's footer records its var string dim as ["admin.","unknown"] while
# the actual coordinate data spans ["","yedunemploy"] — an early-2.0
# artifact; a narrower-than-truth domain would prune wrongly, so var-dim
# footer domains are parsed but never used to skip fragments.  Every parse
# is validated against the fragment-name version and the schema domain; any
# inconsistency returns None and the caller decodes coordinates as usual
# (pruning is an optimization, never a correctness dependency).
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Fragment-metadata CONSOLIDATION (round 7 — TileDB's `fragment_meta`
# consolidation mode, the third of its four modes beside fragments /
# array_meta / commits).  Planning reads — footer NEDs, fragment stats,
# metadata-only counts — normally open every fragment's
# __fragment_metadata.tdb; at 100 TB an array can carry thousands of
# fragments and the DRIVER walks them all per query plan, so libtiledb
# folds the footers into one __fragment_meta/__t1_t2_uuid.meta file and
# opens ONE object instead of N.  Same shape here: one generic-tile
# file (AES-sealed when the array key is registered — stats of an
# encrypted array never hit disk in plaintext) holding the parsed
# footer + fmmsn stats of every fragment it covers, keyed by fragment
# NAME.  Readers treat it as a pure CACHE with fallback-only
# semantics: a fragment absent from every .meta file (newer than the
# consolidation, unparseable at fold time, or a schema-fingerprint
# mismatch after evolution) is simply parsed from its own metadata —
# a stale or missing .meta can cost IO, never correctness.  Real
# libtiledb .meta files (a different binary layout) fail the
# generic-tile JSON parse and are ignored the same way.
# ---------------------------------------------------------------------------

_FMETA_CACHE: dict = {}  # abspath(array_dir) -> {"mtime", "files", "frags"}


def _fmeta_enc(v):
    """Type-tagged JSON encoding for footer/stats scalar values —
    int/float/str/bytes must round-trip EXACTLY (bytes-vs-str matters:
    var-NED ordering comparisons would raise on a mixed pair)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return {"t": "B", "v": int(v)}
    if isinstance(v, int):
        return {"t": "i", "v": v}
    if isinstance(v, float):
        return {"t": "f", "v": v}
    if isinstance(v, str):
        return {"t": "s", "v": v}
    if isinstance(v, (bytes, bytearray)):
        import base64  # noqa: PLC0415

        return {"t": "b", "v": base64.b64encode(bytes(v)).decode()}
    raise TypeError(f"fragment-meta value: {type(v)}")


def _fmeta_dec(e):
    if e is None:
        return None
    t, v = e["t"], e["v"]
    if t == "B":
        return bool(v)
    if t == "i":
        return int(v)
    if t == "f":
        return float(v)
    if t == "s":
        return v
    if t == "b":
        import base64  # noqa: PLC0415

        return base64.b64decode(v)
    raise ValueError(f"fragment-meta tag: {t}")


def _fmeta_schema_fp(schema) -> list:
    """Schema fingerprint stored in every .meta file: entries parsed
    under a different schema (evolution, enum links) are ignored
    wholesale — staleness is impossible by construction."""
    return [
        [[d.name, d.dtype_id, d.cell_val_num] for d in schema.dims],
        [
            [a.name, a.dtype_id, a.cell_val_num, bool(a.nullable),
             getattr(a, "enumeration", None)]
            for a in schema.attrs
        ],
        getattr(schema, "array_type", "SPARSE"),
    ]


def _array_dir_of_fragment(frag: str) -> str:
    parent = os.path.dirname(os.path.abspath(frag))
    if os.path.basename(parent) == "__fragments":
        return os.path.dirname(parent)
    return parent


def _fmeta_entry(frag: str, schema) -> dict | None:
    """The consolidated-metadata entry for one fragment, or None (no
    __fragment_meta dir, fragment not covered, fingerprint mismatch).
    .meta files are immutable and only ever ADDED, so the per-array
    cache re-lists the directory only when its mtime moves."""
    array_dir = _array_dir_of_fragment(frag)
    mdir = os.path.join(array_dir, "__fragment_meta")
    try:
        dstat = os.stat(mdir)
    except OSError:
        return None
    if len(_FMETA_CACHE) > 64 and array_dir not in _FMETA_CACHE:
        _FMETA_CACHE.clear()  # bound long-lived drivers over many arrays
    st = _FMETA_CACHE.setdefault(
        array_dir, {"mtime": None, "files": set(), "frags": {}}
    )
    if st["mtime"] != dstat.st_mtime_ns:
        st["mtime"] = dstat.st_mtime_ns
        import json as _json  # noqa: PLC0415

        try:
            names = [
                e for e in os.listdir(mdir)
                if e.startswith("__") and e.endswith(".meta")
            ]
        except OSError:
            return None
        fp = _fmeta_schema_fp(schema)
        for fn in names:
            if fn in st["files"]:
                continue
            st["files"].add(fn)
            try:
                doc = _json.loads(
                    read_generic_tile(os.path.join(mdir, fn)).decode()
                )
            except Exception:  # noqa: BLE001 — foreign/torn file: ignore
                continue
            if doc.get("format") != 1 or doc.get("schema_fp") != fp:
                continue
            for ent in doc.get("fragments", []):
                st["frags"][ent["name"]] = ent
    return st["frags"].get(os.path.basename(frag))


def _fmeta_footer(ent: dict):
    """FragmentFooter reconstructed from a consolidated entry (fresh
    object per call — callers never share mutable state)."""
    fo = ent.get("footer")
    if fo is None:
        return None
    ned = [
        (_fmeta_dec(p[0]), _fmeta_dec(p[1])) if p is not None else None
        for p in fo["ned"]
    ]
    var_ned = [
        (_fmeta_dec(p[0]), _fmeta_dec(p[1])) if p is not None else None
        for p in fo.get("var_ned") or [None] * len(ned)
    ]
    return FragmentFooter(
        fo["version"], fo["dense"], ned, fo["stn"], fo["ltcn"],
        var_ned=var_ned,
    )


class FragmentFooter:
    __slots__ = ("version", "dense", "non_empty_domain", "sparse_tile_num",
                 "last_tile_cell_num", "var_ned")

    def __init__(self, version, dense, ned, stn, ltcn, var_ned=None):
        self.version = version
        self.dense = dense
        self.non_empty_domain = ned  # per dim: (lo, hi) or None (untrusted)
        self.sparse_tile_num = stn
        self.last_tile_cell_num = ltcn
        # VAR-dim NED values, aligned with dims: (lo, hi) str/bytes or
        # None (fixed dim, null NED, or a decode surprise).  Kept apart
        # from non_empty_domain so metadata-only COUNT proofs stay
        # conservative; fragment pruning and string split planning
        # opt in explicitly (round 7).
        self.var_ned = var_ned or [None] * len(ned)


def _generic_tile_span(buf: bytes, off: int) -> int | None:
    """Byte length of a generic tile at ``off`` (None if not one)."""
    if off + 34 > len(buf):
        return None
    ver, persisted = struct.unpack_from("<IQ", buf, off)
    if not (0 < ver < 64) or persisted > len(buf):
        return None
    (plen,) = struct.unpack_from("<I", buf, off + 30)
    total = 34 + plen + persisted
    if off + total > len(buf):
        return None
    return total


def parse_fragment_footer(fm_path: str, schema: "NativeSchema"):
    """Parse the footer of __fragment_metadata.tdb -> FragmentFooter, or
    None when the era/layout cannot be validated (caller falls back).

    The trailing u64 is ambiguous between the two footer eras (an
    offset into the file vs the raw footer's byte size); both candidate
    slices are tried — the era sniff alone can misfire when a size-era
    footer's size value happens to land on bytes that look like a
    generic-tile header, so failure of one candidate must fall through
    to the other, never straight to None.

    Consolidated fragment metadata (``__fragment_meta/*.meta``) is
    consulted first: one folded file answers for every covered
    fragment, so planning over N fragments opens O(1) objects instead
    of N (fallback to the per-fragment parse when not covered)."""
    ent = _fmeta_entry(os.path.dirname(fm_path), schema)
    if ent is not None:
        return _fmeta_footer(ent)
    try:
        buf = open(fm_path, "rb").read()
        if len(buf) < 16:
            return None
        (last,) = struct.unpack_from("<Q", buf, len(buf) - 8)
        frag_ver = _frag_format_version(os.path.dirname(fm_path))
        candidates = []
        if last < len(buf) - 8:
            span = _generic_tile_span(buf, last)
            if span is not None and last + span < len(buf) - 8:
                candidates.append(buf[last + span : len(buf) - 8])  # offset era
        if 14 <= last <= len(buf) - 8:
            candidates.append(buf[len(buf) - 8 - last : len(buf) - 8])  # size era
        for raw in candidates:
            out = _parse_footer_raw(raw, schema, frag_ver)
            if out is not None:
                return out
        return None
    except (OSError, struct.error, IndexError):
        return None


def _parse_footer_raw(raw: bytes, schema: "NativeSchema", frag_ver):
    try:
        pos = 0
        (ver,) = struct.unpack_from("<I", raw, pos)
        pos += 4
        if frag_ver and ver != frag_ver:
            return None
        if ver >= 10:
            (nl,) = struct.unpack_from("<Q", raw, pos)
            pos += 8
            if nl > len(raw):
                return None
            pos += nl
        dense, nned = raw[pos], raw[pos + 1]
        pos += 2
        if dense not in (0, 1) or nned not in (0, 1):
            return None
        ned = []
        var_ned = []
        for d in schema.dims:
            _n, code, size = _DT[d.dtype_id]
            if d.is_var:
                dsize, ssize = struct.unpack_from("<QQ", raw, pos)
                pos += 16
                if ssize > dsize or pos + dsize > len(raw):
                    return None
                # decode the (start, end) values — [ssize bytes][rest]
                # (the writer's layout; libtiledb stores the same pair).
                # non_empty_domain stays None (metadata-only COUNT
                # proofs remain conservative); var_ned carries the pair
                # for pruning/split-planning opt-ins.  Text dims decode
                # STRICT utf-8 — a garbled layout almost surely fails
                # the decode and degrades to None, never a wrong prune.
                vlo = raw[pos:pos + ssize]
                vhi = raw[pos + ssize:pos + dsize]
                if nned or dsize == 0:
                    var_ned.append(None)
                elif d.dtype_id in (4, 11, 12, 42):
                    try:
                        slo, shi = vlo.decode(), vhi.decode()
                        var_ned.append(
                            (slo, shi) if slo <= shi else None
                        )
                    except UnicodeDecodeError:
                        var_ned.append(None)
                else:
                    var_ned.append(
                        (bytes(vlo), bytes(vhi)) if vlo <= vhi else None
                    )
                pos += dsize
                ned.append(None)  # untrusted for pruning (see module note)
            else:
                var_ned.append(None)
                lo, hi = struct.unpack_from(f"<2{code}", raw, pos)
                pos += 2 * size
                if nned:
                    ned.append(None)
                else:
                    if lo > hi:
                        return None
                    if d.domain is not None and not (
                        d.domain[0] <= lo and hi <= d.domain[1]
                    ):
                        return None
                    ned.append((lo, hi))
        stn, ltcn = struct.unpack_from("<QQ", raw, pos)
        return FragmentFooter(ver, bool(dense), ned, stn, ltcn,
                              var_ned=var_ned)
    except (struct.error, IndexError):
        return None


def window_ned(
    array_dir: str, since: int | None = None, at: int | None = None
) -> list[tuple] | None:
    """Per-dim union bounding box of the fragments VISIBLE IN THE TIME
    WINDOW [since, at] — metadata only (footer walk), no tile decoded.
    The split planner intersects the scan with this box so a narrow CDC
    window over a 100 TB array launches tasks only where that window's
    fragments actually live.  None = no provable box (a fragment with
    no/unvalidatable footer, or an untrusted dim) — callers fall back
    to the full domain, never to a wrong box.  Empty window => [].
    """
    schema = parse_array_schema(_schema_path(array_dir))
    frags = _fragment_dirs(array_dir, at=at, since=since)
    if not frags:
        return []
    box: list[tuple] | None = None
    for frag in frags:
        fm = os.path.join(frag, "__fragment_metadata.tdb")
        footer = parse_fragment_footer(fm, schema)
        if footer is None:
            return None
        cur = []
        for d, ned in zip(schema.dims, footer.non_empty_domain):
            if ned is None:
                return None  # untrusted dim: no provable box
            cur.append(ned)
        box = cur if box is None else [
            (min(a, c), max(b, e))
            for (a, b), (c, e) in zip(box, cur)
        ]
    return box


def condition_ned(
    array_dir: str,
    conditions: list,
    at: int | None = None,
    since: int | None = None,
) -> list[tuple] | None:
    """Per-dim union bounding box of the fragments a pushed condition
    list CANNOT skip (not refuted by stats/bloom, or not shadow-safe to
    skip) — metadata only.  The split planner intersects the scan with
    this box, so a needle `=` on a bloom-indexed attribute launches
    tasks only where candidate fragments live (the condition twin of
    window_ned's CDC planning).  None = no provable box; [] = every
    fragment provably skippable (empty result)."""
    schema = parse_array_schema(_schema_path(array_dir))
    frags = _fragment_dirs(array_dir, at=at, since=since)
    if not frags:
        return []
    box: list[tuple] | None = None
    skips = plan_condition_skips(frags, schema, conditions)
    for frag in frags:
        if frag in skips:
            continue
        fm = os.path.join(frag, "__fragment_metadata.tdb")
        footer = parse_fragment_footer(fm, schema)
        if footer is None:
            return None
        cur = []
        for ned in footer.non_empty_domain:
            if ned is None:
                return None  # var/untrusted dim: no provable box
            cur.append(ned)
        box = cur if box is None else [
            (min(a, c), max(b, e))
            for (a, b), (c, e) in zip(box, cur)
        ]
    return box if box is not None else []


def string_dim_split_keys(
    array_dir: str, at: int | None = None, since: int | None = None
) -> list:
    """Sorted distinct dim0 var-NED boundary values (str or bytes) of
    the visible fragments — candidate SPLIT CUT KEYS for string-keyed
    arrays (round 7).  Metadata-only (footer walk).  Best-effort and
    correctness-neutral: split masks re-check every cell, so a missing
    or skewed boundary only affects balance, never results.  [] when
    dim0 is not var-length or no footer yields a decodable pair —
    callers fall back to the single-split plan.  Range-partitioned
    fragment writes (the connector's shape) give ~2 boundaries per
    fragment, so read parallelism tracks the fragment count."""
    schema = parse_array_schema(_schema_path(array_dir))
    if not schema.dims or not schema.dims[0].is_var:
        return []
    keys: set = set()
    for frag in _fragment_dirs(array_dir, at=at, since=since):
        fm = os.path.join(frag, "__fragment_metadata.tdb")
        footer = parse_fragment_footer(fm, schema)
        if footer is None:
            continue
        vn = footer.var_ned[0]
        if vn is not None:
            keys.update(vn)
    try:
        return sorted(keys)
    except TypeError:
        return []  # mixed str/bytes pairs across eras: no safe order


def fragment_overlaps(
    frag: str, schema: "NativeSchema", ranges: list | None
) -> bool:
    """False only when the fragment's VALIDATED footer domain proves the
    requested ranges cannot match any of its cells."""
    if not ranges or all(lo is None and hi is None for lo, hi in ranges):
        return True
    fm = os.path.join(frag, "__fragment_metadata.tdb")
    footer = parse_fragment_footer(fm, schema)
    if footer is None:
        return True
    for i, (dom, (lo, hi)) in enumerate(
        zip(footer.non_empty_domain, ranges)
    ):
        if dom is None:
            # var dim: the decoded var-NED pair prunes string/bytes
            # ranges (round 7 — the flat-narrow-read property for
            # string-keyed tables); uncomparable bound types prove
            # nothing (never a wrong skip)
            dom = footer.var_ned[i]
            if dom is None:
                continue
            try:
                if lo is not None and dom[1] < lo:
                    return False
                if hi is not None and dom[0] > hi:
                    return False
            except TypeError:
                pass
            continue
        if lo is not None and dom[1] < lo:
            return False
        if hi is not None and dom[0] > hi:
            return False
    return True


_SPARK_TYPE = {
    0: "int", 1: "bigint", 2: "float", 3: "double", 4: "string",
    5: "tinyint", 6: "smallint", 7: "smallint", 8: "int", 9: "bigint",
    10: "bigint", 11: "string", 12: "string", 13: "string",
    14: "string", 15: "string", 16: "string", 39: "binary",
    40: "boolean", 41: "binary", 42: "string",
}

# DATETIME tick -> microseconds-since-epoch conversion, pinned against the
# reference's own rendering of the all_datetimes fixture
# (mysql-test/mytile/r/data_types.result:297-299; epoch collapse
# mytile/mytile.cc:475-548).  Factors are FIXED-scale: month = 365/12 days
# (2628000 s — the golden's 606 months render as 2020-06-19 12:00:00),
# week = 7 d.  DATETIME_YEAR maps to SQL YEAR (the integer 1970+ticks),
# not a timestamp.
_DT_US_MULT = {
    19: 2628000 * 10**6,        # MONTH
    20: 7 * 86400 * 10**6,      # WEEK
    21: 86400 * 10**6,          # DAY
    22: 3600 * 10**6,           # HR
    23: 60 * 10**6,             # MIN
    24: 10**6,                  # SEC
    25: 10**3,                  # MS
    26: 1,                      # US
}
_DT_US_DIV = {27: 10**3, 28: 10**6, 29: 10**9, 30: 10**12}  # NS..AS


def datetime_ticks_to_micros(dtype_id: int, ticks: int) -> int:
    """Datetime ticks -> µs since epoch the way the reference renders
    them.  Sub-µs ticks that arrive negative are reinterpreted as uint64
    before truncation — the observed behavior for the fixture's huge
    PS/FS/AS values (golden cited above)."""
    if dtype_id in _DT_US_MULT:
        return ticks * _DT_US_MULT[dtype_id]
    if dtype_id in _DT_US_DIV:
        if ticks < 0:
            ticks &= (1 << 64) - 1
        return ticks // _DT_US_DIV[dtype_id]
    raise ValueError(f"not a sub-year datetime dtype: {dtype_id}")


def datetime_ticks_to_string(dtype_id: int, ticks: int) -> str:
    """Golden-format rendering: YEAR -> '2020', DAY -> date,
    others -> 'YYYY-MM-DD HH:MM:SS.ffffff' (µs precision)."""
    import datetime as _dt  # noqa: PLC0415

    if dtype_id == 18:  # YEAR
        return str(1970 + ticks)
    us = datetime_ticks_to_micros(dtype_id, ticks)
    t = _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=us)
    if dtype_id == 21:  # DAY -> SQL DATE
        return t.strftime("%Y-%m-%d")
    return t.strftime("%Y-%m-%d %H:%M:%S.%f")


def _spark_type(dtype_id: int, cell_val_num: int) -> str:
    base = _SPARK_TYPE.get(dtype_id, "bigint")  # datetimes: raw ticks
    if cell_val_num not in (1, 0xFFFFFFFF) and dtype_id not in (
        4, 11, 12, 13, 14, 15, 16,
    ):
        return f"array<{base}>"
    return base


def native_to_dataframe(spark, array_dir: str):
    """Bare fixture directory → typed Spark DataFrame, schema inferred
    entirely from the on-disk blob.  The decoded columns ship as one
    pandas frame under the explicit schema (Arrow batch transfer — an
    order of magnitude cheaper than row pickling for the 20k-row var
    fixture); multi-value cells are python lists, which Arrow types
    as the declared array element."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.types import _parse_datatype_string  # noqa: PLC0415

    open_encryption(array_dir)
    schema = parse_array_schema(_schema_path(array_dir))
    names, cols = read_native_array_range_np(array_dir)
    fields = [
        (d.name, _spark_type(d.dtype_id, d.cell_val_num)) for d in schema.dims
    ] + [
        (
            a.name,
            "string"  # enumerated attrs read as their labels (ENUM parity)
            if a.enumeration in schema.enumerations
            else _spark_type(a.dtype_id, a.cell_val_num),
        )
        for a in schema.attrs
    ]
    ddl = ", ".join(f"`{n}` {t}" for n, t in fields)
    pdf = pd.DataFrame({n: cols[n] for n in names})
    return spark.createDataFrame(pdf, _parse_datatype_string(ddl))


# ---------------------------------------------------------------------------
# Metadata-only exact COUNT (round 4): the compute_table_records sysvar
# analog (mytile-sysvars.cc) made EXACT on the native path.  A fragment
# footer pins its cell count without decoding any tile: sparse tiles are
# capacity-packed except the last (that is why the footer stores only
# last_tile_cell_num), so cells = (sparse_tile_num-1)*capacity + ltcn;
# dense fragments cover exactly their non-empty-domain box, so cells =
# PRODUCT of the box extents.  Validated against the decoded row count of
# every committed reference fixture (tests/test_fragment_footer.py).
#
# Cross-fragment, the sum is the table count only when no coordinate can
# appear twice; otherwise newest-wins dedup makes the count a decode-time
# property.  The safe cases, in order of cheapness:
#   - no visible fragments                  -> 0
#   - a single fragment                     -> its footer count
#   - allows_dups schema                    -> sum (duplicates are KEPT)
#   - pairwise-disjoint TRUSTED footer NEDs -> sum (disjoint boxes cannot
#     share a coordinate; var-dim NEDs are untrusted — module note — and
#     disqualify)
# Anything else returns None and the caller counts by decoding.  At scale
# this is the difference between an O(fragments) metadata walk and a full
# array scan for SELECT COUNT(*).
# ---------------------------------------------------------------------------


def fragment_cell_count(frag: str, schema: "NativeSchema") -> int | None:
    """Exact cell count of one fragment from its footer (None: no/
    unparseable footer, or a dense NED with an untrusted dim)."""
    fm = os.path.join(frag, "__fragment_metadata.tdb")
    # no isfile gate: consolidated fragment metadata answers even when
    # the per-fragment file is elsewhere; the parse handles absence
    f = parse_fragment_footer(fm, schema)
    if f is None:
        return None
    if f.dense:
        cells = 1
        for dom in f.non_empty_domain:
            if dom is None:  # null NED (empty fragment) or untrusted dim
                return 0 if f.sparse_tile_num == 0 else None
            cells *= dom[1] - dom[0] + 1
        return cells
    if f.sparse_tile_num == 0:
        return 0
    return (f.sparse_tile_num - 1) * schema.capacity + f.last_tile_cell_num


def _neds_pairwise_disjoint(footers: list) -> bool:
    """True only when every pair of fragments has provably disjoint
    non-empty domains (some dim's intervals do not overlap).  Fixed dims
    use the validated footer NED; var (string/bytes) dims use the
    decoded var-NED pair when BOTH fragments carry one (round 7 — lets
    range-partitioned string-keyed corpora prove metadata-only COUNT
    and mergeable stats); a missing or uncomparable pair proves
    nothing, never a wrong disjointness."""
    for i in range(len(footers)):
        for j in range(i + 1, len(footers)):
            disjoint = False
            n = len(footers[i].non_empty_domain)
            for k in range(n):
                da = footers[i].non_empty_domain[k]
                db = footers[j].non_empty_domain[k]
                if da is None or db is None:
                    da = footers[i].var_ned[k]
                    db = footers[j].var_ned[k]
                    if da is None or db is None:
                        continue
                    try:
                        if da[1] < db[0] or db[1] < da[0]:
                            disjoint = True
                            break
                    except TypeError:
                        continue  # str/bytes era mix: proves nothing
                    continue
                if da[1] < db[0] or db[1] < da[0]:
                    disjoint = True
                    break
            if not disjoint:
                return False
    return True


def count_native_array(array_dir: str, at: int | None = None) -> int | None:
    """Exact row count of a native array from fragment footers alone —
    no tile is read or decoded.  None = not provable from metadata (the
    caller must decode); never returns a wrong count."""
    schema = parse_array_schema(_schema_path(array_dir))
    frags = _fragment_dirs(array_dir, at=at)
    if not frags:
        return 0
    if schema.array_type == "SPARSE" and _delete_conditions(
        array_dir, at, frags
    ):
        # a visible delete condition removes a data-dependent number of
        # cells — no footer can prove the count; decode instead
        return None
    if schema.array_type == "DENSE":
        # a dense read materializes the BOUNDING BOX of the written
        # subarrays (uncovered cells are fills), so the exact count is
        # the bbox volume — provable even when fragments overlap
        boxes = []
        for frag in frags:
            fm = os.path.join(frag, "__fragment_metadata.tdb")
            footer = parse_fragment_footer(fm, schema)
            if footer is None:
                return None
            box = [
                ned if ned is not None else d.domain
                for d, ned in zip(schema.dims, footer.non_empty_domain)
            ]
            boxes.append(box)
        vol = 1
        for i in range(len(schema.dims)):
            lo = min(b[i][0] for b in boxes)
            hi = max(b[i][1] for b in boxes)
            vol *= hi - lo + 1
        return vol
    counts, footers = [], []
    for frag in frags:
        n = fragment_cell_count(frag, schema)
        if n is None:
            return None
        fm = os.path.join(frag, "__fragment_metadata.tdb")
        footers.append(parse_fragment_footer(fm, schema))
        counts.append(n)
    live = [(n, f) for n, f in zip(counts, footers) if n > 0]
    if len(live) <= 1 or schema.allows_dups:
        return sum(n for n, _f in live)
    if _neds_pairwise_disjoint([f for _n, f in live]):
        return sum(n for n, _f in live)
    return None


def delete_commits_in_window(
    array_dir: str, since: int | None = None, at: int | None = None
) -> bool:
    """True when any ``__commits/*.del`` timestamp falls inside
    ``[since, at]`` — a pure listing, no tile read.  Snapshot-diff and
    top-k planning use this as a soundness gate: a delete commit can
    remove rows ANYWHERE in the domain, so window-box confinement of a
    changed-row search is only provable when the window holds none."""
    commits = os.path.join(array_dir, "__commits")
    if not os.path.isdir(commits):
        return False
    for e in os.listdir(commits):
        if not e.endswith(".del"):
            continue
        ts = _frag_ts(e)
        if (since is None or ts >= since) and (at is None or ts <= at):
            return True
    return False


def snapshot_destroyed(array_dir: str, at: int) -> bool:
    """True when time travel to ``at`` was DESTROYED by consolidation +
    vacuum: some committed consolidated fragment's ``[t1, t2]`` straddles
    ``at`` (``t1 <= at < t2`` — so the open_at rule excludes it and falls
    back to the originals it merged), but NO original fragment survives
    inside ``[t1, at]`` (they were vacuumed).  An ``at`` read would then
    silently see nothing of that era — the classic TileDB vacuum hazard
    (the reference inherits it verbatim via open_at,
    ha_mytile.cc:3440-3455).  Snapshot-diff uses this to RAISE instead of
    reporting a plausible-looking all-'added' diff (round-7 advisor
    finding).  A pure name listing — no tile reads."""
    ranges = [_frag_range(d) for d in _committed_fragments(array_dir)[1]]
    for t1, t2 in ranges:
        if not (t1 <= at < t2):
            continue  # plain write or not straddling ``at``
        # the consolidated fragment merged at least one original with
        # timestamp <= at (its t1); does any survivor cover that era?
        if not any(
            (a1, a2) != (t1, t2) and t1 <= a1 and a2 <= at
            for a1, a2 in ranges
        ):
            return True
    return False


def window_destroyed(array_dir: str, since: int) -> bool:
    """True when the CDC window starting at ``since`` was DESTROYED by
    consolidation + vacuum: a committed consolidated fragment straddles
    the window start (``t1 < since <= t2`` — the ``since`` gate excludes
    it, r7 coverage rule) and none of the in-window originals it merged
    survive.  A ``since=`` read would then silently LOSE the rows those
    originals wrote inside the window — the windowed sibling of
    :func:`snapshot_destroyed` (round-8 self-review; same vacuum hazard
    class as the r7 advisor's diff_arrays finding).  Name listing only."""
    ranges = [_frag_range(d) for d in _committed_fragments(array_dir)[1]]
    for t1, t2 in ranges:
        if not (t1 < since <= t2):
            continue
        # the straddler's newest merged original wrote at t2 >= since:
        # at least one in-window original existed — does any survive?
        if not any(
            (a1, a2) != (t1, t2) and since <= a1 and a2 <= t2
            for a1, a2 in ranges
        ):
            return True
    return False


def _ned_provably_disjoint(fa, fb) -> bool:
    """True only when two footers' non-empty domains provably do not
    overlap (some dimension's intervals are separated).  Fixed dims use
    the validated footer NED, var dims the decoded var-NED pair when
    both carry one; anything unknown/uncomparable proves NOTHING (the
    conservative direction — callers treat "not provably disjoint" as
    a possible overlap)."""
    if fa is None or fb is None:
        return False
    n = min(len(fa.non_empty_domain), len(fb.non_empty_domain))
    for k in range(n):
        da, db = fa.non_empty_domain[k], fb.non_empty_domain[k]
        if da is None or db is None:
            da, db = fa.var_ned[k], fb.var_ned[k]
            if da is None or db is None:
                continue
            try:
                if da[1] < db[0] or db[1] < da[0]:
                    return True
            except TypeError:
                continue
            continue
        if da[1] < db[0] or db[1] < da[0]:
            return True
    return False


#: float dtypes are EXCLUDED from top-k threshold planning: NaN sorts
#: ABOVE every value in Spark's ORDER BY (and poisons the writer's
#: min/max), while a pushed ``col >= t`` condition silently drops NaN
#: rows — the one shape where a stats-derived bound could reorder the
#: top-k.  Integers / datetimes / strings have no such sentinel.
_TOPK_UNORDERABLE_DT = {2, 3}


def _stats_satisfy(op, val, lo, hi) -> bool:
    """Dual of ``_stats_refute``: True iff EVERY value v with
    lo <= v <= hi PROVABLY satisfies ``v <op> val``.  Callers must
    handle NULL/NaN rows separately (a NULL fails every comparison;
    stats describe only non-null cells and float stats exclude NaN)."""
    return (
        (op == "=" and lo == hi == val)
        or (op == ">" and lo > val)
        or (op == ">=" and lo >= val)
        or (op == "<" and hi < val)
        or (op == "<=" and hi <= val)
        or (op in ("!=", "<>") and (hi < val or lo > val))
        or (op == "in" and lo == hi and lo in (val or []))
    )


def _frag_satisfies_all(
    schema: "NativeSchema", st: dict, cells: int, conditions: list
) -> bool:
    """True iff EVERY row of the fragment provably passes every
    AND-condition, from fragment stats alone: the whole non-null range
    satisfies the op (`_stats_satisfy`), the column provably holds no
    NULL (a NULL fails every comparison), the dtype is not float
    (stats exclude NaN, which fails every op), and the attr is not
    enum-linked (stats describe ordinals).  Conservative: any doubt
    returns False — the caller then excludes the fragment from a
    guarantee count, never from the read itself."""
    fields = {f.name: f for f in (*schema.dims, *schema.attrs)}
    for cond in conditions:
        c = cond[0]
        fld = fields.get(c)
        if fld is None or fld.dtype_id in (2, 3):
            return False
        if getattr(fld, "enumeration", None):
            return False
        cs = st.get(c) or {}
        nullable = getattr(fld, "nullable", False)
        nc = cs.get("null_count", 0 if not nullable else None)
        if len(cond) == 2:
            op = cond[1]
            if op == "is_not_null":
                if nc != 0:
                    return False
            elif op == "is_null":
                if nc != cells:
                    return False
            else:
                return False
            continue
        _c, op, val = cond
        if nc != 0:
            return False  # a NULL row fails the comparison
        mn, mx = cs.get("min"), cs.get("max")
        if mn is None or mx is None:
            return False
        try:
            if not _stats_satisfy(op, val, mn, mx):
                return False
        except TypeError:
            return False
    return True


def topk_threshold(
    array_dir: str,
    col: str,
    k: int,
    ascending: bool = False,
    at: int | None = None,
    since: int | None = None,
    conditions: list | None = None,
):
    """Metadata-only bound for ORDER BY ``col`` LIMIT ``k``: a value
    ``t`` such that the visible merged array PROVABLY holds >= k
    non-NULL rows with ``col >= t`` (descending; ``<= t`` ascending).
    Rows failing the bound cannot appear in the top-k, so the caller
    may push ``(col, '>=', t)`` into the scan and let the existing
    fragment/tile stat pruning skip everything below it — the zone-map
    top-k of C-Store/Vertica-style engines, built from the same v11+
    fmmsn stats the reference's libtiledb writes.

    Soundness over newest-wins overwrite semantics (the same hazard
    plan_condition_skips guards): a fragment's cells count toward the
    guarantee only when NO LATER visible fragment can shadow them —
    i.e. every later fragment's NED is provably disjoint (``allows_dups``
    schemas keep every duplicate, so all fragments count).  Visible
    delete conditions, dense arrays, enum/float columns, and missing
    stats all return None — the caller then runs the plain scan, which
    is always correct.  None otherwise too when the stats cannot prove
    k rows (tiny arrays); never returns a bound that drops a top-k row.
    """
    if k <= 0:
        return None
    schema = parse_array_schema(_schema_path(array_dir))
    if schema.array_type != "SPARSE":
        return None
    field = None
    for f in (*schema.dims, *schema.attrs):
        if f.name == col:
            field = f
    if field is None or field.dtype_id in _TOPK_UNORDERABLE_DT:
        return None
    if getattr(field, "enumeration", None):
        return None  # stats describe ordinals, reads serve labels
    frags = _fragment_dirs(array_dir, at=at, since=since)
    if not frags:
        return None
    if _delete_conditions(array_dir, at, frags):
        # a delete removes a data-dependent subset of the counted rows
        return None
    footers = [
        parse_fragment_footer(
            os.path.join(frag, "__fragment_metadata.tdb"), schema
        )
        for frag in frags
    ]
    # (bound_value, guaranteed_non_null_rows) per contributing fragment;
    # frags is oldest -> newest in merge order, so "can be shadowed" =
    # some LATER fragment's NED is not provably disjoint
    items = []
    for i, frag in enumerate(frags):
        if not schema.allows_dups and any(
            not _ned_provably_disjoint(footers[i], footers[j])
            for j in range(i + 1, len(frags))
        ):
            continue
        st = fragment_attr_stats(frag, schema)
        if not st or col not in st:
            continue
        lo, hi = st[col].get("min"), st[col].get("max")
        if lo is None or hi is None or lo != lo or hi != hi:
            continue  # absent stats (or NaN-poisoned: x != x)
        cells = fragment_cell_count(frag, schema)
        if cells is None:
            continue
        # user CONDITIONS: the fragment contributes to the guarantee
        # only when every counted row PROVABLY passes them all — stats
        # must show the whole non-null range satisfies the op AND no
        # NULL can sneak a failing row in (NULLs fail every op); float
        # condition columns refuse (stats exclude NaN, NaN fails ops)
        if conditions and not _frag_satisfies_all(
            schema, st, cells, conditions
        ):
            continue
        n = cells - st[col].get("null_count", 0)
        if n > 0:
            items.append((lo if not ascending else hi, n))
    items.sort(reverse=not ascending)
    cum = 0
    for v, n in items:
        cum += n
        if cum >= k:
            return v
    return None


# ---------------------------------------------------------------------------
# Fragment R-TREE (round 4): per-tile MBRs parsed from the generic tile at
# offset 0 of __fragment_metadata.tdb — present in every committed fixture
# era probed (1.6 v1, 2.0 v5 size-era, 2.2 v7 / 2.3 v8 offset-era, var
# v19).  Payload layout (validated byte-exact against the bank fixture's
# 5-tile tree and every single-tile fixture):
#
#   [u32 dim_num][u32 fanout][u8]      (v1/1.6 prefix only)
#   [u32 fanout]                       (v3+)
#   [u32 num_levels]
#   per level, ROOT -> LEAF:
#     [u64 node_count]
#     node_count x MBR, MBR = per dim:
#       fixed dim: 2 x coord (lo, hi)
#       var dim:   [u64 total][u64 start] lo_bytes+hi_bytes
#
# The LEAF level is one MBR per capacity-packed data tile — libtiledb's
# intra-fragment pruning index.  TRUST BOUNDARY mirrors the footer: var
# dim MBRs are parsed but never used to prune (the bank artifact records
# ["admin.","unknown"] in BOTH footer and R-tree while the true range is
# wider); fixed-dim MBRs are validated (lo<=hi, inside the schema domain)
# and the leaf count must equal the footer's sparse_tile_num with the
# payload fully consumed — any inconsistency returns None and readers
# decode as usual (pruning is an optimization, never a correctness
# dependency).
# ---------------------------------------------------------------------------


def parse_rtree_leaf_mbrs(frag: str, schema: "NativeSchema"):
    """Leaf-level MBRs (one per data tile) of a sparse fragment's R-tree:
    list of per-dim (lo, hi) tuples with None for untrusted (var) dims —
    or None when absent/unvalidatable."""
    fm = os.path.join(frag, "__fragment_metadata.tdb")
    if not os.path.isfile(fm):
        return None
    footer = parse_fragment_footer(fm, schema)
    if footer is None or footer.dense or footer.sparse_tile_num == 0:
        return None
    try:
        buf = open(fm, "rb").read()
        span = _generic_tile_span(buf, 0)
        if span is None:
            return None
        rt_key = None
        if struct.unpack_from("<B", buf, 29)[0]:  # encrypted R-tree tile
            from tiledb_mariadb_spark.sources.tiledb_native_crypto import (  # noqa: PLC0415
                key_for_path,
            )

            rt_key = key_for_path(fm)
            if rt_key is None:
                return None
        (plen,) = struct.unpack_from("<I", buf, 30)
        payload = b"".join(read_chunked_tile(buf[34 + plen : span], key=rt_key))
        c = _Cursor(payload)
        if _frag_format_version(frag) == 0:  # 1.6-era prefix
            if c.u("I") != len(schema.dims):
                return None
            fanout = c.u("I")
            c.u("B")
        else:
            fanout = c.u("I")
        if not 0 < fanout < 1_000_000:
            return None
        levels = c.u("I")
        if not 0 < levels <= 64:
            return None
        leaf = None
        for _lvl in range(levels):
            count = c.u("Q")
            if count > 100_000_000:
                return None
            mbrs = []
            for _i in range(count):
                mbr = []
                for d in schema.dims:
                    _n, code, size = _DT[d.dtype_id]
                    if d.is_var:
                        total, start = c.u("Q"), c.u("Q")
                        if start > total or c.pos + total > len(payload):
                            return None
                        c.raw(total)
                        mbr.append(None)  # untrusted for pruning
                    else:
                        lo, hi = struct.unpack_from(
                            f"<2{code}", payload, c.pos
                        )
                        c.pos += 2 * size
                        if lo > hi:
                            return None
                        if d.domain is not None and not (
                            d.domain[0] <= lo and hi <= d.domain[1]
                        ):
                            return None
                        mbr.append((lo, hi))
                mbrs.append(mbr)
            leaf = mbrs  # last parsed level = leaves
        if c.pos != len(payload):
            return None
        if leaf is None or len(leaf) != footer.sparse_tile_num:
            return None
        return leaf
    except (OSError, struct.error, IndexError, ValueError):
        return None


def rtree_tile_runs(frag: str, schema: "NativeSchema", ranges):
    """Contiguous cell spans covering the data tiles whose leaf MBRs can
    intersect ``ranges``: list of (lo_cell, hi_cell, n_cells) runs with
    R-tree-pruned tiles as holes between them.  None = no usable R-tree
    (single tile, unparseable, or unbounded query); [] = the whole
    fragment is proven disjoint."""
    if not ranges or all(lo is None and hi is None for lo, hi in ranges):
        return None
    mbrs = parse_rtree_leaf_mbrs(frag, schema)
    if mbrs is None or len(mbrs) <= 1:
        return None
    fm = os.path.join(frag, "__fragment_metadata.tdb")
    footer = parse_fragment_footer(fm, schema)
    if footer is None:
        return None
    cap = schema.capacity
    n_cells = (footer.sparse_tile_num - 1) * cap + footer.last_tile_cell_num
    kept = []
    for k, mbr in enumerate(mbrs):
        hit = True
        for dom, (lo, hi) in zip(mbr, ranges):
            if dom is None:
                continue
            if (lo is not None and dom[1] < lo) or (
                hi is not None and dom[0] > hi
            ):
                hit = False
                break
        if hit:
            kept.append(k)
    runs = []
    for k in kept:
        lo_c, hi_c = k * cap, min((k + 1) * cap, n_cells)
        if runs and runs[-1][1] == lo_c:
            runs[-1] = (runs[-1][0], hi_c, n_cells)
        else:
            runs.append((lo_c, hi_c, n_cells))
    return runs


def estimate_range_cells(
    array_dir: str, ranges=None, at: int | None = None
) -> int | None:
    """est_result_size analog (computeRecordsUB, ha_mytile.cc:1424-1468,
    which delegates to libtiledb's R-tree-based estimator): an UPPER
    BOUND on the cells matching ``ranges``, from fragment footers +
    R-tree leaf MBRs alone — no tile decoded.  Per fragment: the sum of
    intersecting leaf tiles' cell counts (tile-granular, so correlated
    secondary-dim ranges tighten it), falling back to the fragment's
    footer count when no R-tree is usable.  None = some fragment has no
    parseable footer (nothing metadata-only can be said)."""
    schema = parse_array_schema(_schema_path(array_dir))
    if schema.array_type == "DENSE":
        # dense reads materialize the written bounding box (fills
        # included): the bound is |bbox ∩ ranges|
        n = count_native_array(array_dir, at=at)
        if n is None or n == 0 or not ranges:
            return n
        boxes = [
            _dense_fragment_box(f, schema)
            for f in _fragment_dirs(array_dir, at=at)
        ]
        vol = 1
        for i, d in enumerate(schema.dims):
            lo = min(b[i][0] for b in boxes)
            hi = max(b[i][1] for b in boxes)
            rlo, rhi = ranges[i]
            if rlo is not None:
                lo = max(lo, rlo)
            if rhi is not None:
                hi = min(hi, rhi)
            if lo > hi:
                return 0
            vol *= hi - lo + 1
        return vol
    total = 0
    for frag in _fragment_dirs(array_dir, at=at):
        if not fragment_overlaps(frag, schema, ranges):
            continue
        n = fragment_cell_count(frag, schema)
        if n is None:
            return None
        runs = rtree_tile_runs(frag, schema, ranges)
        if runs is None:
            total += n
        else:
            total += sum(hi - lo for lo, hi, _nc in runs)
    return total


def dim0_tile_weights(
    array_dir: str, at: int | None = None
) -> list[tuple] | None:
    """Per-tile (dim0_lo, dim0_hi, cells) across visible fragments, from
    footers + R-tree leaf MBRs alone — the data-distribution sketch that
    lets split planning cut the domain at cell-count QUANTILES instead of
    uniform coordinate steps (straggler elimination on skewed
    coordinates).  None when any visible fragment lacks a trusted fixed
    dim0 MBR (callers fall back to uniform splits)."""
    schema = parse_array_schema(_schema_path(array_dir))
    if not schema.dims or schema.dims[0].is_var:
        return None
    out = []
    for frag in _fragment_dirs(array_dir, at=at):
        ent = _fmeta_entry(frag, schema)
        if ent is not None and "w0" in ent:
            # consolidated fragment metadata carries the per-tile
            # weights — no R-tree open (None = this fragment was
            # unprovable at fold time, same veto as the direct path)
            w = ent["w0"]
            if w is None:
                return None
            out.extend(
                (_fmeta_dec(a), _fmeta_dec(b), int(c)) for a, b, c in w
            )
            continue
        fm = os.path.join(frag, "__fragment_metadata.tdb")
        footer = parse_fragment_footer(fm, schema)
        if footer is None:
            return None
        w = _frag_dim0_weights(frag, schema, footer)
        if w is None:
            return None
        out.extend(w)
    return out


def _frag_dim0_weights(
    frag: str, schema: "NativeSchema", footer: "FragmentFooter"
) -> list[tuple] | None:
    """One fragment's (dim0_lo, dim0_hi, cells) per tile from its
    R-tree leaf MBRs (footer-only pseudo-tile when no usable R-tree);
    None = unprovable (vetoes quantile planning for the whole array,
    exactly as :func:`dim0_tile_weights` always treated it)."""
    if footer.sparse_tile_num == 0:
        return []
    mbrs = parse_rtree_leaf_mbrs(frag, schema)
    cap = schema.capacity
    n_cells = (footer.sparse_tile_num - 1) * cap + footer.last_tile_cell_num
    if mbrs is None:
        # footer-only fallback: one pseudo-tile over the fragment NED
        dom = footer.non_empty_domain[0]
        if dom is None:
            return None
        return [(dom[0], dom[1], n_cells)]
    out = []
    for k, mbr in enumerate(mbrs):
        if mbr[0] is None:
            return None
        out.append((mbr[0][0], mbr[0][1], min(cap, n_cells - k * cap)))
    return out


# ---------------------------------------------------------------------------
# Fragment ATTRIBUTE STATS (format v11+): per-field MIN/MAX/SUM/NULL_COUNT
# decoded from the footer-indexed generic tiles that modern TileDB writes
# alongside the R-tree (FragmentMetadata's tile_min/tile_max/tile_sum/
# tile_null_count sections plus the fragment-level
# fragment_min_max_sum_null_count tile).  Validated byte-exact against the
# committed obs (v19), var (v19), multi_attribute (v18) and enum (v20)
# fixtures: the obs fragment's decoded stats — including the float64 SUM's
# exact accumulation error — equal a full-scan recompute.
#
# Footer layout past last_tile_cell_num (raw footer, v11+):
#   [u8 has_timestamps (v>=11)][u8 has_delete_meta (v>=12)]
#   [file_sizes u64 x NF][file_var_sizes u64 x NF][file_validity_sizes x NF]
#   [rtree_off u64][tile_off x NF][tile_var_off x NF][tile_var_sizes x NF]
#   [tile_validity_off x NF][tile_min_off x NF][tile_max_off x NF]
#   [tile_sum_off x NF][tile_null_count_off x NF]
#   [fragment_min_max_sum_null_count u64][processed_conditions u64 (v>=16)]
# where NF = attrs + 1 (legacy combined-coords slot) + dims
#          + 2*has_timestamps + 2*has_delete_meta,
# field order [attrs..., __coords, dims..., extras...] — confirmed by the
# obs fixture (attr tiles first; the coords slot carries zero sizes).
#
# Stats tile payloads (after generic-tile unfiltering):
#   min/max:  [u64 fixed_size][u64 var_size][fixed buf][var buf]
#   sum:      [u64 n][n x 8-byte sums]          (f64 for floats, i64/u64 ints)
#   null:     [u64 n][n x u64 counts]
#   fmmsn:    per field [u64 min_size][min][u64 max_size][max][8-byte sum]
#             [u64 null_count]
#
# TRUST BOUNDARY: a size-0 min/max means the engine did not compute the
# stat (multi-value cells, UTF-8 strings, dense dims) — exposed as absent,
# never as zero.  SUM carries no presence flag on disk, so it is exposed
# only for fixed single-value numeric fields (the exact rule the engine
# uses to compute it); NULL_COUNT only for nullable attributes.  Any
# structural inconsistency (offsets not naming valid generic tiles, short
# payloads) returns None and callers fall back to decoding cells.
# ---------------------------------------------------------------------------

# dtype ids whose SUM the engine computes (fixed, single-value, numeric):
# int8..uint64, float32/float64, bool — datetimes excluded (no sum).
_SUMMABLE_DT = {0, 1, 2, 3, 5, 6, 7, 8, 9, 10, 40}
_UNSIGNED_DT = {6, 8, 9, 10, 40}


def _footer_field_names(schema: "NativeSchema") -> list[str]:
    return (
        [a.name for a in schema.attrs]
        + ["__coords"]
        + [d.name for d in schema.dims]
    )


def parse_footer_sections(fm_path: str, schema: "NativeSchema"):
    """Generic-tile offsets table of a v11+ fragment footer -> dict with
    ``fields`` (ordered names), per-section offset lists and the raw
    metadata buffer, or None when the era predates the table or any
    offset fails generic-tile validation."""
    try:
        buf = open(fm_path, "rb").read()
        (last,) = struct.unpack_from("<Q", buf, len(buf) - 8)
        if not (14 <= last <= len(buf) - 8):
            return None
        raw = buf[len(buf) - 8 - last : len(buf) - 8]
        pos = 0
        (ver,) = struct.unpack_from("<I", raw, pos)
        pos += 4
        if ver < 11:
            return None
        frag_ver = _frag_format_version(os.path.dirname(fm_path))
        if frag_ver and ver != frag_ver:
            return None
        (nl,) = struct.unpack_from("<Q", raw, pos)
        pos += 8
        if nl > len(raw):
            return None
        pos += nl
        dense = raw[pos]
        pos += 2  # dense + null_non_empty_domain
        for d in schema.dims:
            _n, _code, size = _DT[d.dtype_id]
            if d.is_var:
                dsize, _ssize = struct.unpack_from("<QQ", raw, pos)
                pos += 16 + dsize
            else:
                pos += 2 * size
        pos += 16  # sparse_tile_num + last_tile_cell_num
        has_ts = raw[pos]
        pos += 1
        has_del = 0
        if ver >= 12:
            has_del = raw[pos]
            pos += 1
        if has_ts not in (0, 1) or has_del not in (0, 1):
            return None
        names = _footer_field_names(schema)
        nf = len(names) + 2 * has_ts + 2 * has_del
        need = 8 * (3 * nf + 1 + 8 * nf + 1) + (8 if ver >= 16 else 0)
        if pos + need > len(raw):
            return None
        pos += 8 * 3 * nf  # file sizes / var sizes / validity sizes
        (rtree_off,) = struct.unpack_from("<Q", raw, pos)
        pos += 8
        sections = {}
        for key in (
            "tile_offsets", "tile_var_offsets", "tile_var_sizes",
            "tile_validity", "tile_min", "tile_max", "tile_sum",
            "tile_null_count",
        ):
            sections[key] = list(struct.unpack_from(f"<{nf}Q", raw, pos))
            pos += 8 * nf
        (fmmsn,) = struct.unpack_from("<Q", raw, pos)
        pos += 8
        pc = None
        if ver >= 16:
            (pc,) = struct.unpack_from("<Q", raw, pos)
            pos += 8
        footer_start = len(buf) - 8 - last
        for off in [rtree_off, fmmsn] + (
            [pc] if pc is not None else []
        ):
            span = _generic_tile_span(buf, off)
            if span is None or off + span > footer_start:
                return None
        from tiledb_mariadb_spark.sources.tiledb_native_crypto import (  # noqa: PLC0415
            key_for_path,
        )

        return {
            "version": ver,
            "dense": bool(dense),
            "fields": names,
            "num_fields": nf,
            "buf": buf,
            "rtree": rtree_off,
            "fmmsn": fmmsn,
            "processed_conditions": pc,
            "enc_key": key_for_path(fm_path),
            **sections,
        }
    except (OSError, struct.error, IndexError):
        return None


def _gtile_payload(buf: bytes, off: int, key: bytes | None = None) -> bytes | None:
    span = _generic_tile_span(buf, off)
    if span is None:
        return None
    enc = struct.unpack_from("<B", buf, off + 29)[0]
    if not enc:
        key = None  # plaintext embedded tile: never decrypt
    elif key is None:
        return None  # encrypted stats without the key: stats unavailable
    (plen,) = struct.unpack_from("<I", buf, off + 30)
    try:
        return b"".join(
            read_chunked_tile(buf[off + 34 + plen : off + span], key=key)
        )
    except (ValueError, struct.error, IndexError, NotImplementedError):
        return None


def _decode_stat_value(dtype_id: int, b: bytes):
    """One fixed min/max value from its on-disk bytes (strings as str)."""
    name, code, size = _DT[dtype_id]
    if code == "c":
        return b.decode("utf-8", "replace")
    if len(b) != size:
        return None
    return struct.unpack("<" + code, b)[0]


def _decode_sum(dtype_id: int, b: bytes):
    if len(b) != 8:
        return None
    if dtype_id in (2, 3):
        return struct.unpack("<d", b)[0]
    v = struct.unpack("<Q" if dtype_id in _UNSIGNED_DT else "<q", b)[0]
    # a sum sitting EXACTLY at the accumulator bound is the writer's
    # overflow saturation (libtiledb clamps the same way — the 8-byte
    # slot has no presence flag): distrust it so the aggregate path
    # recomputes instead of serving a silently-wrong total.  The cost
    # of a false positive (a genuine exactly-at-bound sum) is one
    # decode fallback, never a wrong answer.
    if dtype_id in _UNSIGNED_DT:
        return None if v == 2**64 - 1 else v
    return None if v in (2**63 - 1, -(2**63)) else v


def fragment_attr_stats(frag: str, schema: "NativeSchema"):
    """Per-field fragment-level stats from the fmmsn tile:
    ``{field: {"min":…, "max":…, "sum":…, "null_count":…}}`` with keys
    absent when the engine did not compute them (trust boundary above).
    None when the fragment predates v11 or fails validation.
    Served from ``__fragment_meta/*.meta`` when consolidated fragment
    metadata covers this fragment (same fallback-only contract as
    :func:`parse_fragment_footer`)."""
    ent = _fmeta_entry(frag, schema)
    if ent is not None and "stats" in ent:
        stats = ent["stats"]
        if stats is None:
            return None
        return {
            fld: {
                k: (int(tv) if k == "null_count" else _fmeta_dec(tv))
                for k, tv in stt.items()
            }
            for fld, stt in stats.items()
        }
    fm = os.path.join(frag, "__fragment_metadata.tdb")
    if not os.path.isfile(fm):
        return None
    sec = parse_footer_sections(fm, schema)
    if sec is None:
        return None
    payload = _gtile_payload(sec["buf"], sec["fmmsn"], key=sec.get("enc_key"))
    if payload is None:
        return None
    types = {a.name: (a.dtype_id, a.cell_val_num, a.nullable)
             for a in schema.attrs}
    types.update(
        {d.name: (d.dtype_id, d.cell_val_num, False) for d in schema.dims}
    )
    out, pos = {}, 0
    try:
        for i in range(sec["num_fields"]):
            (msz,) = struct.unpack_from("<Q", payload, pos)
            pos += 8
            mn = payload[pos : pos + msz]
            pos += msz
            (xsz,) = struct.unpack_from("<Q", payload, pos)
            pos += 8
            mx = payload[pos : pos + xsz]
            pos += xsz
            sm = payload[pos : pos + 8]
            pos += 8
            (nc,) = struct.unpack_from("<Q", payload, pos)
            pos += 8
            name = sec["fields"][i] if i < len(sec["fields"]) else None
            if name is None or name == "__coords":
                continue
            dtype_id, cvn, nullable = types[name]
            st = {}
            enum_of = {
                a.name: a.enumeration for a in schema.attrs
            }.get(name)
            if enum_of in schema.enumerations:
                # stored stats describe the ORDINALS; reads serve labels —
                # exposing ordinal min/max/sum would misdescribe the view
                out[name] = st
                continue
            if msz and xsz:
                lo = _decode_stat_value(dtype_id, mn)
                hi = _decode_stat_value(dtype_id, mx)
                if lo is not None and hi is not None:
                    st["min"], st["max"] = lo, hi
            if dtype_id in _SUMMABLE_DT and cvn == 1 and (
                # the 8-byte sum carries no presence flag: for NULLABLE
                # attrs a writer that saw NULLs withholds stats, and the
                # zeros would read as "sum = 0" — expose the sum only
                # when the fragment provably has no NULLs and min/max
                # were computed alongside it
                not nullable or (nc == 0 and "min" in st)
            ):
                s = _decode_sum(dtype_id, sm)
                if s is not None:
                    st["sum"] = s
            if nullable:
                st["null_count"] = nc
            out[name] = st
        if pos != len(payload):
            return None
    except (struct.error, IndexError, KeyError):
        return None
    return out


def fragment_tile_stats(frag: str, schema: "NativeSchema", field: str):
    """Per-TILE (min, max, sum, null_count) lists for one field from the
    tile_min/tile_max/tile_sum/tile_null_count sections — the
    intra-fragment attribute-pruning index.  Elements are None when the
    engine did not compute that stat.  None on any validation failure."""
    fm = os.path.join(frag, "__fragment_metadata.tdb")
    if not os.path.isfile(fm):
        return None
    sec = parse_footer_sections(fm, schema)
    if sec is None:
        return None
    try:
        idx = sec["fields"].index(field)
    except ValueError:
        return None
    types = {a.name: (a.dtype_id, a.cell_val_num, a.nullable)
             for a in schema.attrs}
    types.update(
        {d.name: (d.dtype_id, d.cell_val_num, False) for d in schema.dims}
    )
    dtype_id, cvn, nullable = types[field]
    _n, code, size = _DT[dtype_id]
    buf = sec["buf"]
    pmin = _gtile_payload(buf, sec["tile_min"][idx], key=sec.get("enc_key"))
    pmax = _gtile_payload(buf, sec["tile_max"][idx], key=sec.get("enc_key"))
    psum = _gtile_payload(buf, sec["tile_sum"][idx], key=sec.get("enc_key"))
    pnull = _gtile_payload(buf, sec["tile_null_count"][idx], key=sec.get("enc_key"))
    if None in (pmin, pmax, psum, pnull):
        return None
    try:
        mins = maxs = None
        (fsz,) = struct.unpack_from("<Q", pmin, 0)
        (fsz2,) = struct.unpack_from("<Q", pmax, 0)
        if fsz and fsz == fsz2 and code != "c" and fsz % size == 0:
            n = fsz // size
            mins = list(struct.unpack_from(f"<{n}{code}", pmin, 16))
            maxs = list(struct.unpack_from(f"<{n}{code}", pmax, 16))
        (ns,) = struct.unpack_from("<Q", psum, 0)
        sums = (
            [_decode_sum(dtype_id, psum[8 + 8 * i : 16 + 8 * i])
             for i in range(ns)]
            if dtype_id in _SUMMABLE_DT and cvn == 1 and ns
            else None
        )
        (nn,) = struct.unpack_from("<Q", pnull, 0)
        nulls = (
            list(struct.unpack_from(f"<{nn}Q", pnull, 8))
            if nullable and nn
            else None
        )
    except (struct.error, IndexError):
        return None
    counts = [len(x) for x in (mins, maxs, sums, nulls) if x is not None]
    if not counts or len(set(counts)) != 1:
        return None
    n = counts[0]
    return [
        (
            mins[i] if mins else None,
            maxs[i] if maxs else None,
            sums[i] if sums else None,
            nulls[i] if nulls else None,
        )
        for i in range(n)
    ]


def attr_stats_native_array(
    array_dir: str, at: int | None = None
) -> dict | None:
    """Metadata-only per-attribute MIN/MAX/SUM/NULL_COUNT of a native
    array — no data tile is read (the group_by_handler fast path,
    ha_mytile aggregate pushdown, answered from fragment metadata the
    way count_native_array answers COUNT).  Trust rules mirror
    count_native_array: None whenever the merged view could differ from
    the per-fragment stats — visible delete conditions, dense arrays
    (reads materialize fill values the stats never saw), overlapping
    sparse fragments without allows_dups (newest-wins overwrites), or
    any fragment predating the v11 stats sections.  MIN/MAX/SUM combine
    across fragments only when every fragment carries the stat."""
    schema = parse_array_schema(_schema_path(array_dir))
    if schema.array_type == "DENSE":
        return None
    frags = _fragment_dirs(array_dir, at=at)
    if not frags:
        return {}
    if _delete_conditions(array_dir, at, frags):
        return None
    per_frag = []
    for frag in frags:
        st = fragment_attr_stats(frag, schema)
        if st is None:
            return None
        per_frag.append(st)
    if len(per_frag) > 1 and not schema.allows_dups:
        footers = []
        for frag in frags:
            fm = os.path.join(frag, "__fragment_metadata.tdb")
            footers.append(parse_fragment_footer(fm, schema))
        if any(f is None for f in footers) or not _neds_pairwise_disjoint(
            footers
        ):
            return None
    merged: dict = {}
    for name in per_frag[0]:
        stats = [s.get(name, {}) for s in per_frag]
        st = {}
        if all("min" in s for s in stats):
            st["min"] = min(s["min"] for s in stats)
            st["max"] = max(s["max"] for s in stats)
        if all("sum" in s for s in stats):
            st["sum"] = sum(s["sum"] for s in stats)
        if all("null_count" in s for s in stats):
            st["null_count"] = sum(s["null_count"] for s in stats)
        merged[name] = st
    return merged


def plan_condition_skips(
    frag_list: list, schema: "NativeSchema", conditions: list
) -> set:
    """The set of fragments a read may SKIP for ``conditions``: refuted
    by stats/bloom AND shadow-safe to drop.  Two-pass: first find every
    refuted fragment, then admit a refuted fragment to the skip set iff
    dropping it cannot resurrect a cell that PASSES the filter — i.e.
    it overlaps no older-or-equal-ts SURVIVING (non-refuted) fragment.
    (A cell resurrected from another REFUTED fragment fails the
    condition by definition, so refuted-over-refuted shadows are free —
    this is what lets an absent-needle query skip EVERY fragment even
    when they all overlap.)

    DENSE arrays get NO condition skips: gap cells materialize as
    attribute FILLS that live in no fragment, so fragment-level
    refutation says nothing about the read's result (a filter on the
    fill value must still see the gaps)."""
    if not conditions or getattr(schema, "array_type", "SPARSE") != "SPARSE":
        return set()
    refuted = [
        f for f in frag_list
        if fragment_refutes_conditions(f, schema, conditions)
    ]
    if not refuted:
        return set()
    refuted_set = set(refuted)
    survivors = [f for f in frag_list if f not in refuted_set]
    footers: dict = {}  # one parse per fragment per PLAN, not per pair
    return {
        f for f in refuted
        if condition_skip_safe(f, schema, survivors, _footers=footers)
    }


def condition_skip_safe(
    frag: str, schema: "NativeSchema", frag_list: list,
    _footers: dict | None = None,
) -> bool:
    """True iff SKIPPING ``frag`` (because a condition refutes it)
    cannot change what the newest-wins merge makes visible.  The
    hazard: a refuted NEWER fragment may SHADOW an older surviving
    cell at the same coordinate; dropping it pre-merge would resurrect
    the shadowed cell, which could PASS the condition and appear even
    though the table's current value at that coordinate does not
    (r7 regression: tests/test_native_bloom.py::
    test_refuted_fragment_still_shadows).  Safe cases, metadata-only:
    allows_dups (nothing shadows), or no OLDER-or-equal-ts fragment of
    ``frag_list`` with a validated NED intersecting this fragment's
    NED (it can shadow none of them).  Callers pass the SURVIVING
    (non-refuted) fragments — refuted-over-refuted shadows are free
    (plan_condition_skips).  Unprovable footers → unsafe → no skip.
    ``_footers``: caller-scoped footer memo so a whole skip plan parses
    each fragment's metadata once, not once per (refuted, survivor)
    pair (fragment dirs are immutable, but the memo's lifetime is one
    planning call — no cross-call staleness to reason about)."""
    if getattr(schema, "allows_dups", False):
        return True

    def _footer(f):
        if _footers is not None and f in _footers:
            return _footers[f]
        out = parse_fragment_footer(
            os.path.join(f, "__fragment_metadata.tdb"), schema
        )
        if _footers is not None:
            _footers[f] = out
        return out

    my_name = os.path.basename(frag)
    my_ts = _frag_range(my_name)[1]
    my_footer = _footer(frag)
    if my_footer is None:
        return False
    my_ned = my_footer.non_empty_domain
    if any(n is None for n in my_ned):
        # integer NED unavailable (e.g. var string dims): fall back to
        # the var-NED pairs when every dim provides one
        vn = getattr(my_footer, "var_ned", None)
        my_var = list(vn) if vn else None
        if not my_var or any(v is None for v in my_var):
            return False
    else:
        my_var = None
    for other in frag_list:
        if other == frag:
            continue
        ots = _frag_range(os.path.basename(other))[1]
        if ots > my_ts:
            continue  # strictly newer than us: we cannot shadow it
        of = _footer(other)
        if of is None:
            return False  # unprovable neighbor: assume overlap
        if my_var is not None:
            ov = getattr(of, "var_ned", None)
            if not ov or any(v is None for v in ov):
                return False
            disjoint = any(
                a_hi < b_lo or b_hi < a_lo
                for (a_lo, a_hi), (b_lo, b_hi) in zip(my_var, ov)
            )
        else:
            oned = of.non_empty_domain
            if any(n is None for n in oned):
                return False
            disjoint = any(
                a_hi < b_lo or b_hi < a_lo
                for (a_lo, a_hi), (b_lo, b_hi) in zip(my_ned, oned)
            )
        if not disjoint:
            return False
    return True


def condition_tile_runs(
    frag: str, schema: "NativeSchema", conditions: list
):
    """TILE-level condition pruning index for one sparse fragment:
    cell-index RUNS ``[(lo, hi), ...]`` (half-open, merged-contiguous,
    ascending) covering exactly the tiles whose v11+ per-tile min/max
    stats CANNOT refute the AND-conditions — the intra-fragment twin of
    ``fragment_refutes_conditions``, same ``_stats_refute`` core, same
    3VL trust rules (enum attrs skipped — stats describe ordinals;
    missing/NaN stats keep the tile; var-length fields carry no fixed
    per-tile min/max and are never pruned).

    Returns None when nothing is prunable (no conditions, dense, no
    footer, every tile kept) — callers then read as before; ``[]``
    when every tile is refuted.  Cells inside a dropped tile provably
    fail the conditions, so dropping them early cannot change the
    filtered result — but CAN change the newest-wins merge: callers
    must gate on ``condition_skip_safe(frag, schema, other_read_frags)``
    exactly as fragment-level skips do (a dropped cell may no longer
    shadow an older fragment's passing cell).

    At 100 TB this is the needle path INSIDE a fragment: a bloom- or
    stats-confirmed fragment decodes only the tiles whose stat range
    reaches the predicate, not its whole cell span."""
    if not conditions or schema.array_type != "SPARSE":
        return None
    fm = os.path.join(frag, "__fragment_metadata.tdb")
    footer = parse_fragment_footer(fm, schema)
    if footer is None or footer.dense or footer.sparse_tile_num <= 1:
        return None  # one tile: fragment-level stats already decide
    n_tiles = footer.sparse_tile_num
    cap = schema.capacity
    last_n = footer.last_tile_cell_num
    attr_by = {a.name: a for a in schema.attrs}
    keep = [True] * n_tiles
    pruned = False
    tstats: dict = {}

    def _ts(col):
        if col not in tstats:
            tstats[col] = fragment_tile_stats(frag, schema, col)
            ts = tstats[col]
            if ts is not None and len(ts) != n_tiles:
                tstats[col] = None  # inconsistent sections: no proof
        return tstats[col]

    for cond in conditions:
        col = cond[0]
        attr = attr_by.get(col)
        if attr is not None and getattr(attr, "enumeration", None):
            continue  # stored stats describe ordinals, reads serve labels
        if len(cond) == 2:
            op = cond[1]
            if op != "is_null" or attr is None or not attr.nullable:
                continue  # is_not_null/unknown: fragment level decides
            ts = _ts(col)
            if ts is None:
                continue
            for t, (_mn, _mx, _sm, nc) in enumerate(ts):
                if keep[t] and nc == 0:
                    keep[t] = False
                    pruned = True
            continue
        _c, op, val = cond
        ts = _ts(col)
        if ts is None:
            continue
        fdt = (
            attr.dtype_id if attr is not None
            else next(
                (d.dtype_id for d in schema.dims if d.name == col), None
            )
        )
        if op in ("!=", "<>") and fdt in (2, 3):
            # float stats EXCLUDE NaN (writer min/max fallback), but
            # pandas keeps NaN through `!=` — a constant-tile proof
            # could drop a NaN cell the residual would keep
            continue
        nullable = bool(attr is not None and attr.nullable)
        for t, (mn, mx, _sm, nc) in enumerate(ts):
            if not keep[t] or mn is None or mx is None:
                continue
            if mn != mn or mx != mx:
                continue  # NaN-poisoned float stats prove nothing
            may_nulls = nullable and (nc is None or nc != 0)
            try:
                if op == "in":
                    if val and all(
                        _stats_refute("=", v, mn, mx, False) for v in val
                    ):
                        keep[t] = False
                        pruned = True
                elif _stats_refute(op, val, mn, mx, may_nulls):
                    keep[t] = False
                    pruned = True
            except TypeError:
                continue  # incomparable types: no proof
    if not pruned:
        return None
    runs: list = []
    for t, k in enumerate(keep):
        if not k:
            continue
        lo = t * cap
        hi = lo + (last_n if t == n_tiles - 1 else cap)
        if runs and runs[-1][1] == lo:
            runs[-1] = (runs[-1][0], hi)
        else:
            runs.append((lo, hi))
    return runs


def fragment_refutes_conditions(
    frag: str, schema: "NativeSchema", conditions: list
) -> bool:
    """True only when one AND-conjunct ``(col, op, value)`` is PROVABLY
    false for every cell of the fragment, from its v11+ min/max stats —
    the attribute-level fragment pruning libtiledb performs before tile
    IO.  Sound under SQL 3VL: a NULL cell fails every conjunct anyway,
    so null_count never blocks the proof; '!=' is refuted only when the
    whole fragment is the single constant value.  Missing stats (pre-v11
    eras, enumerated/var fields, uncomputed types) prove nothing."""
    stats = fragment_attr_stats(frag, schema)
    if not stats:
        return False
    for cond in conditions:
        if len(cond) == 2:  # (col, "is_null"/"is_not_null") — connector 3VL
            col, op = cond
            if op == "is_null":
                attr = next(
                    (a for a in schema.attrs if a.name == col), None
                )
                if attr is not None and not attr.nullable:
                    return True  # a non-nullable attr has no NULL cell
                if (stats.get(col) or {}).get("null_count") == 0:
                    return True
            continue
        col, op, val = cond
        st = stats.get(col) or {}
        if op == "in":
            # IN refutes iff EVERY member is provably absent — outside
            # [min,max] or absent from the bloom sidecar (either proof
            # suffices per member; an incomparable member blocks the
            # range proof for itself, never poisons the others)
            def _member_absent(v):
                if "min" in st:
                    try:
                        if _stats_refute("=", v, st["min"], st["max"],
                                         False):
                            return True
                    except TypeError:
                        pass
                return _bloom_refutes_eq(frag, schema, col, v)

            if val and all(_member_absent(v) for v in val):
                return True
            continue
        if "min" not in st:
            continue
        _fld = next(
            (a for a in (*schema.attrs, *schema.dims) if a.name == col),
            None,
        )
        if op in ("!=", "<>") and getattr(_fld, "dtype_id", None) in (2, 3):
            # float stats EXCLUDE NaN (writer fallback semantics), but
            # pandas keeps NaN through `!=` — a constant-fragment proof
            # could drop a NaN cell the residual filter would keep
            continue
        may_have_nulls = st.get("null_count", 0) != 0 or getattr(
            _fld, "nullable", False
        )
        try:
            if _stats_refute(op, val, st["min"], st["max"], may_have_nulls):
                return True
        except TypeError:
            continue  # incomparable types: no proof
    # equality conjuncts get a second, sharper proof from the optional
    # per-fragment Bloom sidecar (engine extension — min/max almost
    # never refute `=` on high-cardinality attrs; the bloom does)
    for cond in conditions:
        if len(cond) == 3 and cond[1] == "=":
            if _bloom_refutes_eq(frag, schema, cond[0], cond[2]):
                return True
    return False  # ("in" conjuncts consult the bloom in the loop above)


_BLOOM_CACHE: dict = {}


def _fragment_blooms(frag: str) -> dict:
    """{attr -> (m_bits, k, bitset bytes)} from the fragment's optional
    `__bloom.tdb` sidecar (layout documented on write_fragment_bloom).
    Cached per (path, mtime); missing/corrupt sidecars prove nothing."""
    path = os.path.join(frag, "__bloom.tdb")
    try:
        mtime = os.stat(path).st_mtime_ns
    except OSError:
        return {}
    key = (path, mtime)
    hit = _BLOOM_CACHE.get(key)
    if hit is not None:
        return hit
    try:
        payload = read_generic_tile(path)
        (nf,) = struct.unpack_from("<I", payload, 0)
        pos = 4
        out = {}
        for _ in range(nf):
            (nl,) = struct.unpack_from("<I", payload, pos)
            pos += 4
            name = payload[pos : pos + nl].decode()
            pos += nl
            m, k, _n_set = struct.unpack_from("<QBQ", payload, pos)
            pos += 17
            out[name] = (int(m), int(k), payload[pos : pos + m // 8])
            pos += m // 8
    except (OSError, ValueError, struct.error, UnicodeDecodeError):
        return {}
    if len(_BLOOM_CACHE) > 4096:
        _BLOOM_CACHE.clear()
    _BLOOM_CACHE[key] = out
    return out


def _bloom_refutes_eq(frag: str, schema: "NativeSchema", col, val) -> bool:
    """True iff the fragment's bloom filter for ``col`` PROVES ``col =
    val`` matches no cell.  Sound: a present value always probes
    positive (no false negatives); absence of a sidecar/field proves
    nothing."""
    blooms = _fragment_blooms(frag)
    entry = blooms.get(col)
    if entry is None:
        return False
    attr = next((a for a in schema.attrs if a.name == col), None)
    if attr is None or getattr(attr, "enumeration", None):
        return False
    from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
        _bloom_hashes,
        bloom_cell_bytes,
    )

    enc = bloom_cell_bytes(val, attr.dtype_id)
    if enc is None:
        return False
    m, k, bits = entry
    h1, h2 = _bloom_hashes(enc)
    for i in range(k):
        # mod-2^64 BEFORE mod-m: the writer computes the probe index in
        # uint64 arithmetic (vectorized), so the reader must wrap the
        # same way or present values could probe absent (unsound)
        idx = ((h1 + i * h2) & 0xFFFFFFFFFFFFFFFF) % m
        if not (bits[idx >> 3] >> (idx & 7)) & 1:
            return True  # one unset bit = provably absent
    return False


def _stats_refute(op, val, lo, hi, may_have_nulls: bool) -> bool:
    """Pure refutation core: True iff NO value v with lo <= v <= hi can
    satisfy ``v <op> val`` under the caller's filter semantics.  The one
    nullability wrinkle: pandas keeps NaN rows through a ``!=`` filter
    (unlike SQL 3VL), so '!=' is refutable only when the fragment
    provably holds no NULLs.  Property-fuzzed against brute force in
    tests/test_property_refute.py."""
    return (
        (op == "=" and (val < lo or val > hi))
        or (op == ">" and hi <= val)
        or (op == ">=" and hi < val)
        or (op == "<" and lo >= val)
        or (op == "<=" and lo > val)
        or (op in ("!=", "<>") and lo == hi == val and not may_have_nulls)
    )


def explain_native_pruning(
    array_dir: str,
    ranges: list[tuple] | None = None,
    conditions: list | None = None,
    at: int | None = None,
    encryption_key: "bytes | str | None" = None,
) -> list[dict]:
    """EXPLAIN TILES for a bare native array: per visible fragment, what
    a ranged+filtered read would do and WHY — decided from metadata only
    (footers, fragment stats, R-tree leaves; zero data tiles decoded).
    The native twin of the catalog's ``explain_pruning`` and the
    observable form of libtiledb's three pruning granularities.

    Each row: ``{fragment, cells (footer count or None), decision,
    reason, tiles_total, tiles_kept}`` where decision is one of
    ``'skip:footer'`` (non-empty domain disjoint from the ranges),
    ``'skip:stats'`` (v11+ MIN/MAX stats — or the optional bloom
    sidecar on `=` — refute a pushed condition),
    ``'read'``; tiles_kept counts R-tree leaf MBRs intersecting the
    ranges (None when the fragment has no usable R-tree).  At 100 TB
    this is the operator's layout-health check: a range query keeping
    ~100% of tiles means the write-time clustering is wrong."""
    if encryption_key is not None:
        open_encryption(array_dir, encryption_key)
    schema = parse_array_schema(_schema_path(array_dir))
    rngs = list(ranges) if ranges else [(None, None)] * len(schema.dims)
    out: list[dict] = []
    frags = _fragment_dirs(array_dir, at=at)
    cond_skips = (
        plan_condition_skips(frags, schema, conditions)
        if conditions else set()
    )
    for frag in frags:
        name = os.path.basename(frag)
        cells = fragment_cell_count(frag, schema)
        mbrs = (
            parse_rtree_leaf_mbrs(frag, schema)
            if schema.array_type == "SPARSE" else None
        )
        tiles_total = len(mbrs) if mbrs else None
        if frag in cond_skips:
            out.append({
                "fragment": name, "cells": cells,
                "decision": "skip:stats",
                "reason": "fragment MIN/MAX stats or bloom sidecar refute a pushed condition",
                "tiles_total": tiles_total, "tiles_kept": 0,
            })
            continue
        if not fragment_overlaps(frag, schema, rngs):
            out.append({
                "fragment": name, "cells": cells,
                "decision": "skip:footer",
                "reason": "non-empty domain disjoint from the ranges",
                "tiles_total": tiles_total, "tiles_kept": 0,
            })
            continue
        kept = None
        if mbrs:
            def _tile_hits(m):
                for (lo, hi), r in zip(
                    (b if b is not None else (None, None) for b in m), rngs
                ):
                    rlo, rhi = r
                    if lo is None:
                        continue  # untrusted dim: cannot prune on it
                    if rlo is not None and hi < rlo:
                        return False
                    if rhi is not None and lo > rhi:
                        return False
                return True

            kept = sum(1 for m in mbrs if _tile_hits(m))
        out.append({
            "fragment": name, "cells": cells, "decision": "read",
            "reason": "ranges intersect the fragment domain",
            "tiles_total": tiles_total, "tiles_kept": kept,
        })
    return out
