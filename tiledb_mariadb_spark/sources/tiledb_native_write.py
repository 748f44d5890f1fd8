"""Pure-Python WRITER for the TileDB on-disk fragment format — the
inverse of :mod:`tiledb_native`'s decoder, and the missing half of the
reference's storage engine surface (row buffering + fragment flush,
mytile/ha_mytile.cc:3158-3193 `mysql_row_to_tiledb_buffers`,
3273-3360 `flush_write`) re-expressed for Spark's write model: every
writer emits an INDEPENDENT fragment directory, so Spark partitions
write concurrently with zero coordination — exactly TileDB's
multi-writer concurrency model.

What it emits (public TileDB storage format, the same subset the sibling
decoder reads back byte-exact):

- **array schema blob** (``__array_schema.tdb``): a generic-tile
  container holding a version-7 schema (allows_dups, array type,
  tile/cell order, capacity, coords/offsets/validity pipelines, typed
  dims with domains/extents, attrs with fill + nullability);
- **fragment directories** ``__<t1>_<t2>_<uuid>_5`` with one chunked
  data file per field: fixed-width cells, var-length (uint64 start
  offsets + ``_var`` byte file), nullable (``_validity`` byte file);
- **filter pipelines**: every written field declares an explicit
  pipeline and chunks are stored with proper per-chunk part metadata
  ``[nm u32][nd u32][(orig,stored)...]`` — compression is real, and the
  explicit pipeline means the reader never has to sniff payload bytes
  (raw int cells can alias the zlib/zstd magic).  The writer emits the
  full filter matrix (r7): GZIP / ZSTD / LZ4 / BZIP2 / DELTA byte
  compressors, fixed-width and whole-cell var-string RLE, DICTIONARY
  encoding (the modern libtiledb string-dim defaults), BITSHUFFLE /
  BYTESHUFFLE / XOR / SCALE_FLOAT transforms, MD5 / SHA256 verify-on-
  read checksums, and windowed POSITIVE_DELTA — each symmetric with
  the sibling decoder (LZ4/BZIP2 are the real lz4-block/bz2 formats;
  the engine-defined layouts are documented on their decode fns);
- **dense fragments**: cells in row-major global order over the full
  domain (space tiles = whole domain, the fixture layout);
- **sparse fragments**: one coordinate file per dimension (2.x layout).

Scale shape: the writer is stateless per-fragment and streams one
column at a time; chunking is bounded (64 KiB input per chunk) so peak
memory is O(chunk), and concurrent fragment writers never touch shared
state (commit = directory rename-free append, newest-wins on read).
"""

from __future__ import annotations

import os
import struct
import uuid
import zlib
from typing import Any, Optional, Sequence

from tiledb_mariadb_spark.sources.tiledb_native import (
    _DT,
    _F_BITSHUFFLE,
    _F_BYTESHUFFLE,
    _F_BZIP2,
    _F_DELTA,
    _F_DICT,
    _F_GZIP,
    _F_LZ4,
    _F_MD5,
    _F_POSDELTA,
    _F_RLE,
    _F_SCALE_FLOAT,
    _F_SHA256,
    _F_XOR,
    _F_ZSTD,
    NativeAttr,
    NativeDim,
    NativeSchema,
    _codec,
    _fragment_dirs,
    _frag_range,
    _frag_ts,
    parse_array_schema,
    _schema_path,
)

_CHUNK_INPUT = 64 * 1024  # TileDB's default chunk granularity
_VAR = 0xFFFFFFFF

# DDL type -> (tiledb_datatype_t id, var-length?)
_DDL_TO_DT = {
    "int": (0, False), "integer": (0, False), "bigint": (1, False),
    "long": (1, False), "float": (2, False), "double": (3, False),
    "tinyint": (5, False), "smallint": (7, False), "boolean": (40, False),
    "string": (12, True), "binary": (39, True),
    # MariaDB GEOMETRY columns land as WKB blobs (mytile/mytile.cc:70,134)
    "geometry": (41, True),
}


def _pack_pipeline(filters: Sequence[tuple[int, bytes]]) -> bytes:
    out = struct.pack("<II", _CHUNK_INPUT, len(filters))
    for ftype, meta in filters:
        out += struct.pack("<BI", ftype, len(meta)) + meta
    return out


_W_TRANSFORMS = (_F_BITSHUFFLE, _F_BYTESHUFFLE, _F_SCALE_FLOAT, _F_XOR)
_W_COMPRESSORS = (
    _F_GZIP, _F_ZSTD, _F_LZ4, _F_BZIP2, _F_RLE, _F_DICT, _F_DELTA,
)
# meta-producing non-compressor filters (digest / window tables)
_W_META = (_F_MD5, _F_SHA256, _F_POSDELTA)


def _min_width(n: int) -> int:
    """Smallest of {1,2,4,8} bytes that holds ``n``."""
    for w in (1, 2, 4, 8):
        if n < (1 << (8 * w)):
            return w
    raise ValueError(f"value {n} exceeds u64")


def _rle_fixed_encode(part: bytes, width: int) -> bytes:
    """Fixed-width RLE records [value (width)][run u16 BE] — the layout
    the decoder pinned on the fixtures' validity tiles, generalized to
    any value width.  Runs cap at 65535; if the encoding lands on
    exactly len(part) bytes a zero-run record is appended so the
    reader's raw-part shortcut (len == orig → stored raw) can't
    misfire."""
    if width < 1 or len(part) % width:
        raise ValueError(f"RLE: payload not a multiple of width {width}")
    import numpy as np  # noqa: PLC0415

    n = len(part) // width
    if n == 0:
        return b""
    a = np.frombuffer(part, dtype=np.uint8).reshape(n, width)
    # run starts where the value differs from its predecessor
    starts = np.flatnonzero(np.r_[True, (a[1:] != a[:-1]).any(axis=1)])
    lens = np.diff(np.r_[starts, n])
    # split runs longer than the u16 record cap
    reps = -(-lens // 65535)
    rec_starts = np.repeat(starts, reps)
    rec_lens = np.full(int(reps.sum()), 65535, dtype=np.int64)
    tail_pos = np.cumsum(reps) - 1
    rec_lens[tail_pos] = lens - (reps - 1) * 65535
    vals = a[rec_starts]  # (records, width)
    be = np.empty((len(rec_lens), 2), dtype=np.uint8)
    be[:, 0] = rec_lens >> 8
    be[:, 1] = rec_lens & 0xFF
    out = np.concatenate([vals, be], axis=1).tobytes()
    if len(out) == len(part):  # collision with the raw-part shortcut
        out += part[:width] + b"\x00\x00"
    return out


def _arrow_cells(part: bytes, lens: Sequence[int]):
    """Zero-copy Arrow LargeBinaryArray over the chunk's cells."""
    import numpy as np  # noqa: PLC0415
    import pyarrow as pa  # noqa: PLC0415

    offs = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(np.asarray(lens, dtype=np.int64), out=offs[1:])
    if offs[-1] != len(part):
        raise ValueError("var cell lengths do not cover the chunk")
    return pa.LargeBinaryArray.from_buffers(
        pa.large_binary(), len(lens),
        [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(part)],
    )


def _rle_var_encode(part: bytes, lens: Sequence[int]) -> bytes:
    """Var-string RLE: runs over WHOLE cells.  Layout documented in the
    decoder (_rle_var_decode).  Run boundaries come from one vectorized
    Arrow not_equal over shifted slices; only the runs themselves are
    built in python (clustered data — RLE's use case — has few)."""
    import numpy as np  # noqa: PLC0415
    import pyarrow.compute as pc  # noqa: PLC0415

    runs: list[tuple[int, bytes]] = []
    arr = _arrow_cells(part, lens)
    if len(arr):
        neq = pc.not_equal(arr.slice(1), arr.slice(0, len(arr) - 1))
        starts = np.flatnonzero(
            np.r_[True, neq.to_numpy(zero_copy_only=False)]
        )
        bounds = np.r_[starts, len(arr)]
        for i, st in enumerate(starts):
            runs.append((int(bounds[i + 1] - st), arr[int(st)].as_py()))
    run_w = _min_width(max((r for r, _ in runs), default=1))
    len_w = _min_width(max((len(c) for _, c in runs), default=1))
    if 2 + 4 + sum(run_w + len_w + len(c) for _, c in runs) == len(part):
        runs.insert(0, (0, b""))  # zero-run pad: breaks the raw-part
        # shortcut collision (decodes to nothing)
    out = bytearray([run_w, len_w]) + struct.pack("<I", len(runs))
    for run, c in runs:
        out += run.to_bytes(run_w, "little")
        out += len(c).to_bytes(len_w, "little")
        out += c
    return bytes(out)


def _dict_encode(part: bytes, lens: Sequence[int]) -> bytes:
    """Dictionary encoding over whole var cells, first-occurrence order
    (Arrow's C dictionary_encode, which assigns codes in first-appearance
    order).  Layout documented in the decoder (_dict_decode)."""
    import numpy as np  # noqa: PLC0415

    arr = _arrow_cells(part, lens)
    denc = arr.dictionary_encode()
    entries = denc.dictionary.to_pylist()
    idx = denc.indices.to_numpy(zero_copy_only=False)
    cells_n = len(arr)
    idx_w = _min_width(max(len(entries) - 1, 1))
    len_w = _min_width(max((len(c) for c in entries), default=1))
    for w in (idx_w, idx_w * 2):  # widen indices on a size collision
        out = bytearray([w, len_w])
        out += struct.pack("<II", len(entries), cells_n)
        for c in entries:
            out += len(c).to_bytes(len_w, "little") + c
        out += np.asarray(idx, dtype=np.int64).astype(f"<u{w}").tobytes()
        if len(out) != len(part):  # avoid the raw-part shortcut
            return bytes(out)
    raise ValueError("dictionary part size collision")  # unreachable:
    # widening indices strictly grows the encoding


def _delta_encode(part: bytes, width: int) -> bytes:
    """DELTA: first element verbatim, then modular per-element
    differences at full width (decoder: _delta_decode)."""
    import numpy as np  # noqa: PLC0415

    if width not in (1, 2, 4, 8) or len(part) % width:
        raise ValueError(f"delta: bad element width {width}/{len(part)}")
    a = np.frombuffer(part, dtype=f"<u{width}")
    out = np.empty_like(a)
    if len(a):
        out[0] = a[0]
        out[1:] = a[1:] - a[:-1]  # modular wrap is the intent
    enc = out.tobytes()
    return enc


def _lz4_compress(part: bytes) -> bytes:
    """Real LZ4 block format via pyarrow's lz4_raw codec."""
    comp = _codec("lz4_raw").compress(part, asbytes=True)
    # len(comp) == len(part) would misfire the reader's raw-part
    # shortcut; one literal-only sequence (valid, uncompressed LZ4) is
    # always longer
    if len(comp) != len(part):
        return comp
    n = len(part)
    if n == 0:
        return b"\x00"
    head = bytearray([min(n, 15) << 4])
    if n >= 15:
        rem = n - 15
        while rem >= 255:
            head.append(255)
            rem -= 255
        head.append(rem)
    return bytes(head) + part


def _posdelta_forward(
    payload: bytes, width: int, max_window: int = 1024
) -> tuple[bytes, bytes]:
    """POSITIVE_DELTA forward: split into ``max_window``-byte windows
    (TILEDB_POSITIVE_DELTA_MAX_WINDOW, default 1024); per window emit
    [base u64][in_bytes u32] metadata and (count-1) non-negative deltas
    as data.  Raises on any negative delta (the filter's contract —
    matches libtiledb, which errors rather than storing a wrapped
    delta)."""
    import numpy as np  # noqa: PLC0415

    if width not in (1, 2, 4, 8) or len(payload) % width:
        raise ValueError(f"positive-delta: bad element width {width}")
    max_window = max(int(max_window), width)
    win = max_window - (max_window % width) or width
    meta = bytearray(struct.pack("<II", len(payload), 0))
    n_win = 0
    out = bytearray()
    for pos in range(0, len(payload), win):
        wbytes = payload[pos : pos + win]
        a = np.frombuffer(wbytes, dtype=f"<u{width}").astype(np.uint64)
        if len(a) > 1:
            deltas = a[1:] - a[:-1]
            if (a[1:] < a[:-1]).any():
                raise ValueError(
                    "positive-delta: input not non-decreasing within window"
                )
            out += deltas.astype(f"<u{width}").tobytes()
        meta += struct.pack("<QI", int(a[0]) if len(a) else 0, len(wbytes))
        n_win += 1
    struct.pack_into("<I", meta, 4, n_win)
    return bytes(meta), bytes(out)


def _encode_chunked(
    data: bytes,
    filters: Sequence[tuple[int, bytes]],
    elem: int = 8,
    key: Optional[bytes] = None,
    var_lens: Optional[Sequence[int]] = None,
) -> bytes:
    """Forward-apply a (possibly empty) filter pipeline and wrap as ONE
    chunked tile: [num_chunks u64] then per chunk
    [orig u32][filt u32][meta u32][meta][payload].  Supported pipeline
    shapes: [transforms...][meta-filters...][compressor?] where
    transforms are BITSHUFFLE / BYTESHUFFLE / XOR / SCALE_FLOAT,
    meta-filters (MD5 / SHA256 digests, POSITIVE_DELTA window tables)
    ride as metadata parts stacked LAST-FILTER-FIRST (the order
    _reverse_pipeline consumes them in), and a trailing compressor
    (GZIP / ZSTD / LZ4 / BZIP2 / RLE / DICTIONARY / DELTA) compresses
    all parts with the part table the reader expects.  Without a
    trailing compressor at most ONE meta-producing filter is allowed
    (the chunk header carries a single undelimited metadata block).
    ``var_lens`` gives per-cell byte lengths of ``data`` for var-length
    fields — required by the var-cell compressors (RLE on var data,
    DICTIONARY), whose chunks are then built on CELL boundaries so each
    part decodes self-contained (span reads stay O(chunks touched)).
    An empty pipeline stores raw chunks with filt == orig."""
    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        _bitshuffle,
        _byteshuffle,
        _scale_float_params,
        _xor_filter,
    )

    var_comp = var_lens is not None and len(var_lens) > 0 and any(
        f[0] in (_F_RLE, _F_DICT) for f in filters
    )
    n_meta = sum(1 for f in filters if f[0] in _W_META)
    has_comp = bool(filters) and filters[-1][0] in _W_COMPRESSORS
    n_comp = sum(1 for f in filters if f[0] in _W_COMPRESSORS)
    for ftype, _m in filters:
        if ftype not in (*_W_COMPRESSORS, *_W_META, *_W_TRANSFORMS):
            raise NotImplementedError(
                f"writer does not emit filter type {ftype} "
                "(decoder may still read it)"
            )
    if n_comp > (1 if has_comp else 0) and not has_comp:
        # compressor CHAINS are fine (each inner compressor's part
        # table rides as a metadata part of the next — the
        # DD+BWR+ZSTD convention) but only when a compressor
        # terminates the pipeline to carry the table
        raise NotImplementedError("compressor must be last in pipeline")
    if not has_comp and n_meta and (
        n_meta > 1 or filters[-1][0] not in _W_META
    ):
        # without a compressor the chunk header carries ONE undelimited
        # metadata block, which the reader hands to the LAST filter —
        # so a meta-producing filter must be last (and alone)
        raise NotImplementedError(
            "metadata-producing filters need a trailing compressor "
            "unless they are the pipeline's last filter"
        )
    if var_comp and len(filters) != 1:
        raise NotImplementedError(
            "var-cell compressors (RLE / DICTIONARY on var data) must be "
            "the only filter in the pipeline (TileDB's own string-dim "
            "defaults are single-filter)"
        )
    if var_lens is not None and sum(var_lens) != len(data):
        raise ValueError("var_lens do not cover the payload")
    if var_comp:
        # cell-aligned chunking: pack whole cells up to the chunk
        # budget.  Vectorized — one searchsorted per CHUNK over the
        # cumulative cell lengths, never a per-cell python loop.
        import numpy as np  # noqa: PLC0415

        lens_np = np.asarray(var_lens or [], dtype=np.int64)
        cum = np.cumsum(lens_np)
        chunks = []
        chunk_lens = []
        cell0 = 0
        n_cells_total = len(lens_np)
        while cell0 < n_cells_total:
            base = int(cum[cell0 - 1]) if cell0 else 0
            end = int(np.searchsorted(cum, base + _CHUNK_INPUT, "right"))
            if end == cell0:  # single cell larger than the budget
                end = cell0 + 1
            chunks.append(data[base : int(cum[end - 1])])
            chunk_lens.append(lens_np[cell0:end])
            cell0 = end
        if not chunks:
            chunks, chunk_lens = [b""], [[]]
    else:
        chunks = [
            data[i : i + _CHUNK_INPUT]
            for i in range(0, len(data), _CHUNK_INPUT)
        ] or [b""]
        chunk_lens = [[] for _ in chunks]
    out = struct.pack("<Q", len(chunks))
    for chunk, lens in zip(chunks, chunk_lens):
        # forward-apply the pipeline: transforms rewrite the payload
        # (tracking element width across SCALE_FLOAT), meta filters
        # PREPEND their metadata parts (last filter's meta must sit
        # first for the reader's reverse-order consumption), a trailing
        # compressor compresses all parts
        meta_parts: list[bytes] = []
        payload = chunk
        width = elem
        compressed = False
        # every non-compressor filter owns ONE metadata part (possibly
        # empty — transforms), stacked last-filter-first: the reader's
        # _reverse_pipeline consumes exactly one slot per filter as it
        # unwinds (the part-per-filter convention pinned against the
        # reference's DD+BWR+ZSTD offsets fixtures)
        for ftype, fmeta in filters:
            if ftype == _F_BITSHUFFLE:
                payload = _bitshuffle(payload, width, forward=True)
                meta_parts.insert(0, b"")
            elif ftype == _F_BYTESHUFFLE:
                payload = _byteshuffle(payload, width, forward=True)
                meta_parts.insert(0, b"")
            elif ftype == _F_XOR:
                payload = _xor_filter(payload, width, forward=True)
                meta_parts.insert(0, b"")
            elif ftype == _F_SCALE_FLOAT:
                import numpy as np  # noqa: PLC0415

                factor, offset, bw = _scale_float_params(fmeta)
                floats = np.frombuffer(payload, dtype=f"<f{width}")
                ints = np.rint((floats.astype(np.float64) - offset) / factor)
                payload = ints.astype(f"<i{bw}").tobytes()
                width = bw
                meta_parts.insert(0, b"")
            elif ftype in (_F_MD5, _F_SHA256):
                import hashlib  # noqa: PLC0415

                algo = hashlib.md5 if ftype == _F_MD5 else hashlib.sha256
                meta_parts.insert(0, algo(payload).digest())
            elif ftype == _F_POSDELTA:
                # schema-pipeline option = max window bytes (u32 LE, the
                # TILEDB_POSITIVE_DELTA_MAX_WINDOW serialization)
                (pwin,) = struct.unpack_from("<I", fmeta, 0) \
                    if len(fmeta) >= 4 else (1024,)
                pmeta, payload = _posdelta_forward(payload, width, pwin)
                meta_parts.insert(0, pmeta)
            else:  # trailing compressor; option = TILEDB_COMPRESSION_
                # LEVEL from the [compressor u8][level i32] option bytes
                # (-1/absent = codec default)
                level = _comp_level(ftype, fmeta)
                if ftype == _F_GZIP:
                    glv = level if 0 <= level <= 9 else 6
                    comp_fn = lambda b, _l=glv: zlib.compress(b, _l)  # noqa: E731
                elif ftype == _F_ZSTD:
                    import pyarrow as pa  # noqa: PLC0415

                    codec = pa.Codec(
                        "zstd", compression_level=level
                    ) if 1 <= level <= 22 else pa.Codec("zstd")
                    comp_fn = lambda b: codec.compress(b, asbytes=True)  # noqa: E731
                elif ftype == _F_LZ4:
                    comp_fn = _lz4_compress
                elif ftype == _F_BZIP2:
                    import bz2  # noqa: PLC0415

                    blv = level if 1 <= level <= 9 else 9
                    comp_fn = lambda b, _l=blv: bz2.compress(b, _l)  # noqa: E731
                elif ftype == _F_DELTA:
                    comp_fn = lambda b, _w=width: _delta_encode(b, _w)  # noqa: E731
                elif ftype == _F_RLE and len(lens):
                    comp_fn = lambda b, _l=lens: _rle_var_encode(b, _l)  # noqa: E731
                elif ftype == _F_RLE:
                    comp_fn = lambda b, _w=width: _rle_fixed_encode(b, _w)  # noqa: E731
                else:  # _F_DICT
                    if not len(lens) and payload:
                        raise NotImplementedError(
                            "DICTIONARY applies to var-length cells only"
                        )
                    # empty chunk (zero cells) encodes an empty dict part
                    comp_fn = lambda b, _l=lens: _dict_encode(b, _l)  # noqa: E731
                parts = meta_parts + [payload]
                comps = [comp_fn(p) for p in parts]
                meta = struct.pack("<II", len(meta_parts), 1)
                for p, c in zip(parts, comps):
                    meta += struct.pack("<II", len(p), len(c))
                payload = b"".join(comps)
                meta_parts = [meta]  # becomes THE chunk metadata
                compressed = True
        if compressed:
            meta = meta_parts[0]
        else:
            meta = b"".join(meta_parts)
        if key is not None:
            # AES-256-GCM rides the chunk format exactly like TileDB's
            # encryption filter: ciphertext replaces the payload at
            # IDENTICAL length, nonce+tag append to the metadata — tile
            # offsets/sizes stay valid (tiledb_native_crypto scheme)
            from tiledb_mariadb_spark.sources.tiledb_native_crypto import (  # noqa: PLC0415
                encrypt_chunk,
            )

            payload, trailer = encrypt_chunk(key, payload)
            meta += trailer
        out += struct.pack("<III", len(chunk), len(payload), len(meta))
        out += meta + payload
    return out


def _write_generic_tile(path: str, payload: bytes) -> None:
    """Generic-tile container (read_generic_tile's exact inverse):
    [version u32][persisted u64][tile_size u64][datatype u8]
    [cell_size u64][encryption u8][pipeline_len u32][pipeline]
    [chunked tile] — written with an empty pipeline (raw chunks).
    When the array's key is registered (encrypted array), the
    encryption byte is 1 (AES_256_GCM) and every chunk is sealed."""
    from tiledb_mariadb_spark.sources.tiledb_native_crypto import (  # noqa: PLC0415
        key_for_path,
    )

    key = key_for_path(path)
    chunked = _encode_chunked(payload, [], key=key)
    hdr = struct.pack(
        "<IQQBQB", 7, len(chunked), len(payload), 6, 1,
        1 if key is not None else 0,
    ) + struct.pack("<I", 0)
    with open(path, "wb") as f:
        f.write(hdr + chunked)


def _serialize_schema(schema: NativeSchema) -> bytes:
    """Array-schema blob, the exact field sequence parse_array_schema's
    ver>=5 path consumes.  Version 7 normally; version 20 when any
    attribute carries an enumeration link (2.17+ layout: per-attr data
    order + enum-name link, trailing dimension-label count and the
    enumeration name→path map — the t/enum.test storage shape)."""
    ver = (
        20
        if (
            schema.enumeration_paths
            or any(getattr(a, "enumeration", None) for a in schema.attrs)
        )
        else 7
    )
    out = struct.pack("<I", ver)
    out += struct.pack("<B", 1 if schema.allows_dups else 0)
    out += struct.pack("<B", 0 if schema.array_type == "DENSE" else 1)
    # tile_order ROW_MAJOR; cell_order as declared (0 ROW_MAJOR /
    # 4 HILBERT — the quickstart_sparse_hilbert fixture's id)
    out += struct.pack("<BB", schema.tile_order, schema.cell_order)
    out += struct.pack("<Q", schema.capacity)
    out += _pack_pipeline(schema.coords_filters)
    out += _pack_pipeline(schema.offsets_filters)
    out += _pack_pipeline(schema.validity_filters)
    out += struct.pack("<I", len(schema.dims))
    for d in schema.dims:
        name = d.name.encode()
        out += struct.pack("<I", len(name)) + name
        out += struct.pack("<B", d.dtype_id)
        out += struct.pack("<I", d.cell_val_num)
        out += _pack_pipeline(d.filters)
        _, code, size = _DT[d.dtype_id]
        if d.domain is None or d.is_var:
            out += struct.pack("<Q", 0)
        else:
            dom = struct.pack(f"<2{code}", d.domain[0], d.domain[1])
            out += struct.pack("<Q", len(dom)) + dom
        if d.extent is None:
            out += struct.pack("<B", 1)
        else:
            out += struct.pack("<B", 0) + struct.pack(f"<{code}", d.extent)
    out += struct.pack("<I", len(schema.attrs))
    for a in schema.attrs:
        name = a.name.encode()
        out += struct.pack("<I", len(name)) + name
        out += struct.pack("<B", a.dtype_id)
        out += struct.pack("<I", a.cell_val_num)
        out += _pack_pipeline(a.filters)
        fill = a.fill or b""
        out += struct.pack("<Q", len(fill)) + fill
        out += struct.pack("<BB", 1 if a.nullable else 0, 1)
        if ver >= 17:
            out += struct.pack("<B", 0)  # data order: UNORDERED_DATA
        if ver >= 20:
            en = (getattr(a, "enumeration", None) or "").encode()
            out += struct.pack("<I", len(en)) + en
    if ver >= 18:
        out += struct.pack("<I", 0)  # dimension labels: none
    if ver >= 20:
        out += struct.pack("<I", len(schema.enumeration_paths))
        for en, ep in schema.enumeration_paths.items():
            enb, epb = en.encode(), ep.encode()
            out += struct.pack("<I", len(enb)) + enb
            out += struct.pack("<I", len(epb)) + epb
    return out


def _write_enumeration_file(
    schema_dir: str, name: str, labels: Sequence[str]
) -> str:
    """One v20 enumeration label file under
    ``__schema/__enumerations/<path>`` — the exact layout
    _load_enumerations reads back ([u32 version][u32+name][u32+path]
    [u8 datatype][u32 cell_val_num][u8 ordered][u64 data_size][data]
    [u64 offsets_size][offsets]); VAR string labels, the only kind the
    reference maps to ENUM columns.  Returns the relative path for the
    schema's name→path map."""
    if not all(isinstance(lb, str) for lb in labels):
        raise ValueError(f"enumeration {name}: labels must be strings")
    rel = uuid.uuid4().hex
    edir = os.path.join(schema_dir, "__enumerations")
    os.makedirs(edir, exist_ok=True)
    nb, pb = name.encode(), rel.encode()
    blobs = [lb.encode() for lb in labels]
    data = b"".join(blobs)
    offs, pos = [], 0
    for b in blobs:
        offs.append(pos)
        pos += len(b)
    payload = struct.pack("<I", 0)
    payload += struct.pack("<I", len(nb)) + nb
    payload += struct.pack("<I", len(pb)) + pb
    payload += struct.pack("<BIB", 12, _VAR, 0)  # STRING_UTF8, var, unordered
    payload += struct.pack("<Q", len(data)) + data
    payload += struct.pack("<Q", 8 * len(offs))
    payload += struct.pack(f"<{len(offs)}Q", *offs)
    _write_generic_tile(os.path.join(edir, rel), payload)
    return rel


def create_native_array(
    array_dir: str,
    dims: Sequence[NativeDim],
    attrs: Sequence[NativeAttr],
    array_type: str = "SPARSE",
    capacity: int = 10000,
    compressor: str = "gzip",
    checksum: Optional[str] = None,
    allows_dups: bool = False,
    cell_order: str = "ROW_MAJOR",
    encryption_key: "Optional[bytes | str]" = None,
    enumerations: Optional[dict] = None,
    string_compressor: Optional[str] = None,
    coordinate_filters: Optional[str] = None,
    offset_filters: Optional[str] = None,
    validity_filters: Optional[str] = None,
    bloom_attrs=None,
) -> NativeSchema:
    """CREATE TABLE analog for a bare on-disk array: writes the schema
    blob and returns the schema AS PARSED BACK from disk (self-check —
    the writer's output is only trusted after the decoder re-reads it).
    Every field gets an explicit compressor pipeline (``gzip`` /
    ``zstd`` — TileDB's real default — / ``lz4`` / ``bzip2``) so reads
    use the explicit-pipeline path, never payload sniffing.
    ``checksum`` ('md5' | 'sha256') prepends a digest filter: chunk
    digests are stored as filter metadata and VERIFIED on every read
    (checksum-filter parity, mytile/mytile.cc filter map).
    ``string_compressor`` ('rle' | 'dictionary') switches VAR-STRING
    fields to whole-cell RLE / dictionary encoding — the 2.9+/2.10+
    libtiledb defaults for string dimensions (run/dictionary over cell
    values beats byte-stream gzip on low-cardinality label columns).
    Per-field ``filters`` may be the parsed ``[(id, meta)]`` list OR the
    reference's DDL CSV string (``'GZIP=6,BYTESHUFFLE'`` — the
    ``filters=`` column option, parse_filter_list parity); the
    ``coordinate_filters`` / ``offset_filters`` / ``validity_filters``
    table options take the same CSV."""
    comp_map = {
        "gzip": _F_GZIP, "zstd": _F_ZSTD, "lz4": _F_LZ4, "bzip2": _F_BZIP2,
    }
    gz = [(comp_map[compressor], b"")]
    if checksum:
        gz = [({"md5": _F_MD5, "sha256": _F_SHA256}[checksum], b"")] + gz
    str_f = None
    if string_compressor:
        str_f = [({"rle": _F_RLE, "dictionary": _F_DICT}[
            string_compressor], b"")]

    def _parse(f):
        return native_filters_from_csv(f) if isinstance(f, str) else f

    def _default(field) -> list:
        if str_f and field.cell_val_num == 0xFFFFFFFF and field.dtype_id in (
            4, 11, 12, 42
        ):
            return str_f
        return gz

    dims = [
        NativeDim(d.name, d.dtype_id, d.cell_val_num, d.domain, d.extent,
                  filters=_parse(d.filters) or _default(d))
        for d in dims
    ]
    attrs = [
        NativeAttr(a.name, a.dtype_id, a.cell_val_num, a.nullable, a.fill,
                   filters=_parse(a.filters) or _default(a),
                   enumeration=getattr(a, "enumeration", None))
        for a in attrs
    ]
    coords_f = (
        native_filters_from_csv(coordinate_filters)
        if coordinate_filters else gz
    )
    # offsets default: DELTA+ZSTD — global start offsets are monotone,
    # so delta coding collapses them to near-constant cell lengths
    # (probe: 17.8x vs gzip's 5.2x on 4M short cells, 5x faster encode;
    # BASELINE.md round-7 codec probe).  The real libtiledb default is
    # the richer DD+BWR+ZSTD (this engine reads it; its writer doesn't
    # emit DD/BWR).  An explicit offset_filters= CSV overrides.
    off_default = (gz[:1] if checksum else []) + [
        (_F_DELTA, _comp_meta(_F_DELTA)), (_F_ZSTD, _comp_meta(_F_ZSTD)),
    ]
    offsets_f = (
        native_filters_from_csv(offset_filters) if offset_filters
        else off_default
    )
    validity_f = (
        native_filters_from_csv(validity_filters) if validity_filters else gz
    )
    co = {"ROW_MAJOR": 0, "COL_MAJOR": 1, "HILBERT": 4}[cell_order]
    if co == 4 and (
        array_type != "SPARSE"
        or len(dims) != 2
        or any(d.is_var or d.domain is None for d in dims)
    ):
        raise ValueError(
            "HILBERT cell order: sparse array with exactly 2 fixed "
            "integer dims (the reference's supported surface, t/hilbert.test)"
        )
    if co == 1 and array_type != "SPARSE":
        raise ValueError(
            "COL_MAJOR cell order: sparse arrays only (the dense reader "
            "iterates row-major space tiles)"
        )
    # v20 enumerations (CREATE-with-ENUM parity, ha_mytile.cc:1330-1351):
    # attrs carry name links, labels land as __schema/__enumerations/
    # files, the blob serializes as version 20 with the name→path map
    linked = {
        a.enumeration for a in attrs if getattr(a, "enumeration", None)
    }
    enumerations = enumerations or {}
    unknown = linked - set(enumerations)
    if unknown:
        raise ValueError(
            f"attrs link enumerations with no labels: {sorted(unknown)}"
        )
    for en, labels in enumerations.items():
        dt = _DT[next(
            a.dtype_id for a in attrs if getattr(a, "enumeration", None) == en
        )] if en in linked else None
        if dt and dt[1] in ("c",):
            raise ValueError("enumeration attrs store integer ordinals")
        if not labels:
            raise ValueError(f"enumeration {en}: needs at least one label")
    schema = NativeSchema(
        7, array_type, capacity, list(dims), list(attrs),
        coords_filters=coords_f, offsets_filters=offsets_f,
        validity_filters=validity_f,
        allows_dups=allows_dups, cell_order=co,
    )
    os.makedirs(array_dir, exist_ok=True)
    if encryption_key is not None:
        # register BEFORE writing: _write_generic_tile seals the schema
        # blob (encryption byte = AES_256_GCM) when the key is registered
        # — CREATE-with-key parity, ha_mytile.cc:817-820.  Key is held in
        # process memory only, never persisted.
        from tiledb_mariadb_spark.sources.tiledb_native_crypto import (  # noqa: PLC0415
            set_encryption_key,
        )

        set_encryption_key(array_dir, encryption_key)
    else:
        # drop any stale registration for this path: a dropped-and-
        # recreated plaintext array at a previously-encrypted path must
        # NOT silently inherit the old key (the writer decides crypto
        # from the registry, so a leftover entry would seal the "new
        # plaintext" array with a key the caller never supplied)
        from tiledb_mariadb_spark.sources.tiledb_native_crypto import (  # noqa: PLC0415
            clear_encryption_key,
        )

        clear_encryption_key(array_dir)
    # modern (2.3+) directory layout: fragments under __fragments/,
    # commit markers under __commits/ — creating __commits activates the
    # reader's commit gating for every fragment this array will ever hold
    os.makedirs(os.path.join(array_dir, "__fragments"), exist_ok=True)
    os.makedirs(os.path.join(array_dir, "__commits"), exist_ok=True)
    if enumerations:
        # enum arrays use the timestamped __schema/ layout the v20
        # fixtures ship (labels resolve relative to the blob's dir)
        sdir = os.path.join(array_dir, "__schema")
        os.makedirs(sdir, exist_ok=True)
        schema.enumeration_paths = {
            en: _write_enumeration_file(sdir, en, labels)
            for en, labels in enumerations.items()
        }
        # __0_0_ prefix: the same oldest-entry convention evolve's flat-
        # blob migration uses, so a later evolution's 13-digit-timestamp
        # blob lexicographically (= numerically) wins newest-selection
        _write_generic_tile(
            os.path.join(sdir, f"__0_0_{uuid.uuid4().hex}"),
            _serialize_schema(schema),
        )
    else:
        _write_generic_tile(
            os.path.join(array_dir, "__array_schema.tdb"),
            _serialize_schema(schema),
        )
    if bloom_attrs:
        unknown = set(bloom_attrs) - {a.name for a in attrs}
        if unknown:
            raise ValueError(f"bloom_attrs name no attribute: {sorted(unknown)}")
        set_bloom_attrs(array_dir, list(bloom_attrs))
    return parse_array_schema(_schema_path(array_dir))


def _to_bytes_cell(v: Any, dtype_id: int) -> bytes:
    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        _TEXT_CODEC,
    )

    if dtype_id in _TEXT_CODEC:  # char/UTF-8/WKT/UTF-16/32/UCS text
        return (
            v.encode(_TEXT_CODEC[dtype_id])
            if isinstance(v, str) else bytes(v)
        )
    return bytes(v)


def _pack_fixed(vals: Sequence, dtype_id: int, cvn: int) -> bytes:
    _, code, size = _DT[dtype_id]
    if dtype_id in (4, 11, 12, 13, 14, 15, 16):  # fixed-width text cells
        cb = cvn * size  # cvn counts CODE UNITS (2/4 bytes for UTF-16/32)
        from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
            _TEXT_CODEC,
        )

        codec = _TEXT_CODEC[dtype_id]
        enc = [
            b"" if v is None
            else v.encode(codec) if isinstance(v, str)
            else bytes(v)
            for v in vals
        ]
        import numpy as np  # noqa: PLC0415

        oversized = (
            np.nonzero(
                np.fromiter(map(len, enc), dtype=np.int64, count=len(enc))
                > cb
            )[0]
            if enc
            else ()
        )
        # only OVERSIZED cells need the per-cell boundary-safe
        # truncation (a data-quality edge, round 10: previously one
        # long cell sent the WHOLE batch to a python ljust loop);
        # after the cut every cell is <= cb, and numpy's S-dtype
        # zero-pads to cb at construction (embedded and trailing NULs
        # preserved) — byte-identical to the old ljust loop.
        for idx in oversized:
            b = enc[idx][:cb]
            # never split a multi-unit character at the truncation
            # boundary — read-back would yield U+FFFD (silent
            # mangling, r8 ADVICE).  UTF-32 units are whole code
            # points, so unit-boundary cuts are always clean there.
            if dtype_id in (13, 15) and cb >= 2:  # UTF-16-LE
                u = int.from_bytes(b[cb - 2:cb], "little")
                if 0xD800 <= u <= 0xDBFF:  # dangling high surrogate
                    b = b[:cb - 2]
            elif dtype_id in (4, 11, 12):  # UTF-8
                i = len(b)
                while i > 0 and (b[i - 1] & 0xC0) == 0x80:
                    i -= 1  # trailing continuation bytes
                if i > 0 and (b[i - 1] & 0xC0) == 0xC0:
                    lead = b[i - 1]
                    need = (
                        2 if lead >> 5 == 0b110
                        else 3 if lead >> 4 == 0b1110 else 4
                    )
                    if len(b) - (i - 1) < need:  # sequence got cut
                        b = b[:i - 1]
            enc[idx] = b
        return np.array(enc, dtype=f"|S{cb}").tobytes()
    if cvn == 1 and code != "c":
        # vectorized scalar pack: numpy's little-endian buffer is
        # byte-identical to struct.pack for these widths.  Casts that
        # could silently change a value (float→int truncation, integer
        # downcast wrap) are round-trip-verified — numpy casts never
        # raise on lossy conversion, so without the check bad input
        # would corrupt written data instead of failing loudly.  Exotic
        # values (None, Decimal, out-of-range python int) fall through
        # to the exact python packer.
        try:
            import numpy as np  # noqa: PLC0415

            src = (
                vals
                if isinstance(vals, np.ndarray)
                else (np.asarray(vals) if not any(v is None for v in vals)
                      else None)
            )
            if src is not None and src.dtype.kind in "iuf":
                arr = np.ascontiguousarray(src, dtype="<" + code)
                if arr.dtype != src.dtype and not np.array_equal(
                    arr.astype(src.dtype), src
                ):
                    raise ValueError(
                        f"lossy cast packing {src.dtype} values into "
                        f"dtype code {code!r} (non-integral float or "
                        "out-of-range integer)"
                    )
                return arr.tobytes()
        except (OverflowError, TypeError):
            pass
    if cvn != 1 and code != "c":
        # vectorized multi-value pack (vector/embedding cells): one 2-D
        # numpy cast replaces the per-cell flatten + struct loop.  Same
        # guard discipline as the scalar tier above — the round-trip
        # check turns silently-lossy casts into a loud ValueError, and
        # anything exotic (None cells, ragged rows, object dtype) falls
        # through to the exact python packer, which also owns the
        # per-cell length error message.  MEASURED gate: a 2-D ndarray
        # packs 13x faster; a python list-of-lists only pays when
        # asarray lands on the target dtype already (no cast, no verify
        # pass) — asarray+cast+round-trip on nested lists times SLOWER
        # than the struct loop, so that shape keeps the exact packer.
        import numpy as np  # noqa: PLC0415

        src = None
        if isinstance(vals, np.ndarray):
            src = vals if vals.ndim == 2 else None
        else:
            try:
                # O(cvn) first-cell probe before the O(n*cvn) asarray:
                # a list whose promoted dtype won't land on the target
                # skips conversion entirely instead of paying for it
                if len(vals) and np.asarray(vals[0]).dtype == np.dtype(
                    "<" + code
                ) and not any(v is None for v in vals):
                    a = np.asarray(vals)
                    if a.ndim == 2 and a.dtype == np.dtype("<" + code):
                        src = a
            except (OverflowError, ValueError, TypeError):
                src = None
        if (
            src is not None
            and src.ndim == 2
            and src.shape[1] == cvn
            and len(src) == len(vals)
            and src.dtype.kind in "iuf"
        ):
            try:
                arr = np.ascontiguousarray(src, dtype="<" + code)
            except (OverflowError, TypeError):
                arr = None
            if arr is not None:
                if arr.dtype != src.dtype and not np.array_equal(
                    arr.astype(src.dtype), src
                ):
                    raise ValueError(
                        f"lossy cast packing {src.dtype} values into "
                        f"dtype code {code!r} (non-integral float or "
                        "out-of-range integer)"
                    )
                return arr.tobytes()
    flat = []
    for v in vals:
        if cvn != 1:
            cell = list(v) if v is not None else [0] * cvn
            if len(cell) != cvn:
                raise ValueError(f"cell has {len(cell)} values, want {cvn}")
            flat.extend(cell)
        else:
            flat.append(v if v is not None else 0)
    if code in ("f", "d"):
        flat = [float(x) for x in flat]
    elif code != "c":
        conv = []
        for x in flat:
            ix = int(x)
            if isinstance(x, float) and ix != x:
                raise ValueError(
                    f"non-integral float {x!r} cannot pack into integer "
                    f"dtype code {code!r}"
                )
            conv.append(ix)
        flat = conv
    return struct.pack(f"<{len(flat)}{code}", *flat)


def _frag_root(array_dir: str) -> str:
    """Where fragment directories live: ``__fragments/`` in the modern
    layout (arrays this writer creates, 2.3+ fixtures), the array root in
    earlier eras — the same resolution the reader uses."""
    root = os.path.join(array_dir, "__fragments")
    return root if os.path.isdir(root) else array_dir


def _next_fragment_dir(
    array_dir: str,
    ts: Optional[int],
    ts_range: Optional[tuple[int, int]] = None,
    version: int = 5,
) -> str:
    """Allocate a fragment directory name strictly newer (ts-wise) than
    every committed fragment when `ts` is None, so appends always win the
    newest-fragment merge; an explicit `ts` is taken verbatim (tests and
    time-travel fixtures need pinned timestamps).  ``ts_range`` names a
    CONSOLIDATED fragment spanning [t1, t2] — the range the reader's
    coverage rule keys on."""
    if ts_range is not None:
        name = f"__{ts_range[0]}_{ts_range[1]}_{uuid.uuid4().hex}_{version}"
    else:
        if ts is None:
            import time  # noqa: PLC0415

            existing = [
                _frag_ts(os.path.basename(f))
                for f in _fragment_dirs(array_dir)
            ]
            ts = max([int(time.time() * 1000)] + [e + 1 for e in existing])
        name = f"__{ts}_{ts}_{uuid.uuid4().hex}_{version}"
    path = os.path.join(_frag_root(array_dir), name)
    os.makedirs(path)
    return path


def _check_explicit_ts_not_shadowed(array_dir: str, ts: int) -> None:
    """Refuse an explicit-timestamp write whose point range [ts, ts]
    falls inside a WIDER consolidated span — visible, staged (a
    consolidation currently in flight: wide fragment dirs with no
    marker yet), or recorded by a ``__commits/*.con`` group.  The
    reader's coverage rule would treat the new fragment as already
    merged into the wider one and silently hide it (libtiledb shares
    the caveat; until round 7 this engine documented it without a
    guard).  Pick a ts outside consolidated spans, or write with
    ts=None (always strictly newest).  Dotted ``.tmp`` staging files
    (a crashed consolidation's torn artifact) never block — they are
    invisible to readers and must not trap future writes."""
    spans: list[tuple[int, int, str]] = []
    root = _frag_root(array_dir)
    skip = {"__meta", "__schema", "__commits", "__fragments", "__labels"}
    for d in os.listdir(root):
        if (
            d.startswith("__") and d not in skip
            and os.path.isdir(os.path.join(root, d))
        ):
            t1, t2 = _frag_range(d)
            spans.append((t1, t2, d))
    commits = os.path.join(array_dir, "__commits")
    if os.path.isdir(commits):
        for e in os.listdir(commits):
            if e.endswith(".con") and not e.startswith("."):
                t1, t2 = _frag_range(e[:-4])
                spans.append((t1, t2, e))
    for t1, t2, src in spans:
        if t1 <= ts <= t2 and t2 > t1:
            raise ValueError(
                f"explicit-ts write at {ts} falls inside the "
                f"consolidated span [{t1}, {t2}] ({src}): the coverage "
                "rule would hide it; choose a ts outside consolidated "
                "spans or write with ts=None"
            )


def _commit_fragment(array_dir: str, frag: str) -> None:
    """Make a fully-staged fragment visible: touch the zero-length
    ``__commits/<name>.wrt`` marker (the LAST write, so a crash at any
    earlier point leaves an invisible staged directory, never a torn
    fragment).  Legacy arrays without a ``__commits/`` dir skip the
    marker — there, directory presence is the era's visibility rule."""
    commits = os.path.join(array_dir, "__commits")
    if os.path.isdir(commits):
        open(os.path.join(commits, os.path.basename(frag) + ".wrt"), "w").close()


def _write_field_files(
    frag: str,
    schema: NativeSchema,
    field,
    vals: Sequence,
    slices: Optional[Sequence[tuple[int, int]]] = None,
    base: Optional[str] = None,
) -> dict:
    """One field -> its data file(s): `<name>.tdb` (+ `_var`, `_validity`),
    each chunk-encoded through the schema-declared pipeline for that tile
    kind (data = field.filters, offsets = schema.offsets_filters,
    validity = schema.validity_filters) — mirroring how the decoder picks
    pipelines per tile kind.

    ``slices`` = the fragment's capacity-packed TILE boundaries (cell
    ranges): each slice becomes its own chunked tile, and the tiles are
    concatenated in the file — the multi-tile layout real TileDB writes
    (the bank fixture: 5 tiles per field) and the decoder's
    _walk_tile_file already reads.  Var-cell offsets stay GLOBAL across
    tiles (the 2.0-era convention the whole-file decode path assumes).

    ``base`` overrides the file name (v10+ fragments use POSITIONAL
    names d<i>.tdb / a<i>.tdb).  Returns per-tile encoded byte sizes —
    {"data": [...], "var": [...], "var_sizes": [...], "validity": [...]}
    — the numbers the v11+ metadata sections record."""
    from tiledb_mariadb_spark.sources.tiledb_native_crypto import (  # noqa: PLC0415
        key_for_path,
    )

    base = base or os.path.join(frag, f"{field.name}.tdb")
    ekey = key_for_path(base)  # encrypted array → seal every data tile
    dtype_id, cvn = field.dtype_id, field.cell_val_num
    _nm, _code, elem = _DT[dtype_id]
    nullable = getattr(field, "nullable", False)
    slices = list(slices) if slices else [(0, len(vals))]
    info: dict = {"data": [], "var": [], "var_sizes": [], "validity": []}
    if nullable:
        validity = bytes(0 if v is None else 1 for v in vals)
        with open(base[:-4] + "_validity.tdb", "wb") as f:
            for s, e in slices:
                enc = _encode_chunked(
                    validity[s:e], schema.validity_filters, elem=1, key=ekey
                )
                info["validity"].append(len(enc))
                f.write(enc)
    if cvn == _VAR:
        if dtype_id in (4, 11, 12, 39, 41, 42):
            # inline _to_bytes_cell: the per-cell function call + codec
            # lookup dominated var-column packing (byte-identical)
            from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
                _TEXT_CODEC,
            )

            codec = _TEXT_CODEC.get(dtype_id)
            blobs = [
                b"" if v is None
                else v.encode(codec)
                if codec is not None and isinstance(v, str)
                else bytes(v)
                for v in vals
            ]
        else:
            blobs = None
            if vals and not any(v is None for v in vals):
                # vectorized var-cell pack (numeric list cells): ONE
                # _pack_fixed over the concatenated values rides its
                # ndarray fast path + round-trip guard, then the bytes
                # split back per cell — byte-identical to per-cell
                # packing (same little-endian elements in the same
                # order; same lossy-cast ValueError contract).  Cells
                # with None (→ b"") or non-sized values keep the loop.
                try:
                    cell_lens = [len(v) for v in vals]
                except TypeError:
                    cell_lens = None
                if cell_lens is not None:
                    flat = [x for v in vals for x in v]
                    packed = _pack_fixed(flat, dtype_id, 1)
                    blobs, pos = [], 0
                    for ln in cell_lens:
                        nb = ln * elem
                        blobs.append(packed[pos:pos + nb])
                        pos += nb
            if blobs is None:
                blobs = [
                    b"" if v is None else _pack_fixed(v, dtype_id, 1)
                    for v in vals
                ]
        # vectorized global start-offsets (byte-identical to the
        # struct.pack loop: u64 little-endian exclusive prefix sum)
        import numpy as np  # noqa: PLC0415

        lens = np.fromiter((len(b) for b in blobs), dtype="<u8",
                           count=len(blobs))
        offs_np = np.zeros(len(blobs), dtype="<u8")
        if len(blobs) > 1:
            np.cumsum(lens[:-1], out=offs_np[1:])
        with open(base, "wb") as f:
            for s, e in slices:
                enc = _encode_chunked(
                    offs_np[s:e].tobytes(),
                    schema.offsets_filters,
                    elem=8,
                    key=ekey,
                )
                info["data"].append(len(enc))
                f.write(enc)
        needs_lens = any(
            ft in (_F_RLE, _F_DICT) for ft, _m in (field.filters or [])
        )
        with open(base[:-4] + "_var.tdb", "wb") as f:
            for s, e in slices:
                raw = b"".join(blobs[s:e])
                enc = _encode_chunked(
                    raw, field.filters, elem=elem, key=ekey,
                    var_lens=[len(b) for b in blobs[s:e]]
                    if needs_lens else None,
                )
                info["var"].append(len(enc))
                info["var_sizes"].append(len(raw))
                f.write(enc)
    else:
        packed = _pack_fixed(vals, dtype_id, cvn)
        w = len(packed) // len(vals) if len(vals) else 0
        with open(base, "wb") as f:
            for s, e in slices:
                enc = _encode_chunked(
                    packed[s * w : e * w], field.filters, elem=elem, key=ekey
                )
                info["data"].append(len(enc))
                f.write(enc)
    return info


def write_native_fragment(
    array_dir: str,
    columns: dict[str, Sequence],
    ts: Optional[int] = None,
    subarray: Optional[Sequence[tuple]] = None,
    ts_range: Optional[tuple[int, int]] = None,
    version: int = 5,
    encryption_key: "Optional[bytes | str]" = None,
    commit: bool = True,
    bloom_attrs=None,
) -> str:
    """Append one fragment to an existing native array (INSERT analog,
    flush_write ha_mytile.cc:3273-3360).  ``columns`` maps every dim and
    attr name to an equal-length value sequence; sparse fragments get one
    coordinate file per dim, dense fragments must supply the FULL domain
    in row-major order (the decoder's global cell order).  Returns the
    fragment directory path.

    ``version=19`` emits the MODERN fragment layout: positional field
    files (d<i>.tdb / a<i>.tdb; dense fragments write attrs only,
    space-tile sliced over the written box), and a
    __fragment_metadata.tdb carrying the full v11+ generic-tile section
    table — R-tree, tile offsets/sizes, per-tile MIN/MAX/SUM/NULL_COUNT,
    the fragment_min_max_sum_null_count tile, processed conditions, and
    a size-era footer with the gt-offsets table — so engine-written
    arrays serve metadata-only aggregates and attribute pruning exactly
    like the reference's v19 fixtures.

    ``encryption_key`` (or a key already registered for this array)
    seals every data tile and metadata section with AES-256-GCM; a key
    on an unencrypted array — or none on an encrypted one — fails
    loudly (open_encryption contract)."""
    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        open_encryption,
    )

    open_encryption(array_dir, encryption_key)
    if commit and ts is not None and ts_range is None:
        # consolidation paths stage with commit=False / ts_range=, so
        # only user-facing pinned-timestamp writes pay this check
        _check_explicit_ts_not_shadowed(array_dir, ts)
    schema = parse_array_schema(_schema_path(array_dir))
    names = [d.name for d in schema.dims] + [a.name for a in schema.attrs]
    if schema.array_type == "DENSE":
        # dense fragments store no coordinates; dim columns are optional
        names = [n for n in names if n in columns or n in
                 {a.name for a in schema.attrs}]
        missing = [a.name for a in schema.attrs if a.name not in columns]
    else:
        missing = [n for n in names if n not in columns]
    if missing:
        raise ValueError(f"missing columns: {missing}")
    lengths = {n: len(columns[n]) for n in names}
    if len(set(lengths.values())) != 1:
        raise ValueError(f"ragged columns: {lengths}")
    n = lengths[names[0]]
    # enum-linked attrs store MariaDB ENUM ordinals (1-based, 0 = '');
    # accept labels (mapped) or ints (validated) — the INSERT semantics
    # of ha_mytile's enum columns, inverse of the reader's
    # _apply_enumeration
    for a in schema.attrs:
        en = getattr(a, "enumeration", None)
        if not en or en not in schema.enumerations:
            continue
        ord_of = {lb: i + 1 for i, lb in enumerate(schema.enumerations[en])}
        ord_of[""] = 0
        mapped = []
        for v in columns[a.name]:
            if v is None:
                mapped.append(None)
            elif isinstance(v, str):
                if v not in ord_of:
                    raise ValueError(
                        f"{a.name}: {v!r} is not a label of "
                        f"enumeration {en}"
                    )
                mapped.append(ord_of[v])
            else:
                if not 0 <= int(v) <= len(ord_of) - 1:
                    raise ValueError(
                        f"{a.name}: ordinal {v} out of range for "
                        f"enumeration {en}"
                    )
                mapped.append(int(v))
        columns = {**columns, a.name: mapped}
    box = ned = None
    if schema.array_type == "DENSE":
        # dense SUBARRAY write (dense_writes.test): dims are NOT
        # supplied, cells arrive in ROW-MAJOR subarray order and are
        # laid down in the box's global tile order.  An UNALIGNED
        # subarray is expanded outward to space-tile boundaries
        # (libtiledb's Domain::expand_to_tiles) with its edge tiles
        # padded by attribute fill values; the footer NED records the
        # caller's true subarray so readers never surface the padding.
        # Default box = the full domain.
        ned = [tuple(b) for b in subarray] if subarray else [
            tuple(d.domain) for d in schema.dims
        ]
        ned_size = 1
        for d, (blo, bhi) in zip(schema.dims, ned):
            lo, hi = d.domain
            if blo < lo or bhi > hi or blo > bhi:
                raise ValueError(
                    f"dimension {d.name}: subarray [{blo}, {bhi}] outside "
                    f"domain [{lo}, {hi}]"
                )
            ned_size *= bhi - blo + 1
        if n != ned_size:
            raise ValueError(
                f"dense fragment must cover its subarray "
                f"({ned_size} cells), got {n}"
            )
        from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
            _dense_layout_box,
            _fill_value,
            _rm_window_indices,
        )

        box = _dense_layout_box(schema, ned)
        if box != ned:
            import numpy as np  # noqa: PLC0415

            box_size = 1
            for blo, bhi in box:
                box_size *= bhi - blo + 1
            scatter = _rm_window_indices(np, ned, box)
            padded: dict[str, Sequence] = dict(columns)
            for a in schema.attrs:
                fill = _fill_value(a)
                vals = columns[a.name]
                if (
                    isinstance(vals, np.ndarray)
                    and vals.dtype.kind in "iufb"
                    and np.isscalar(fill)
                ):
                    full = np.full(box_size, fill, dtype=vals.dtype)
                    full[scatter] = vals
                else:
                    full = [fill] * box_size
                    for i, j in enumerate(scatter):
                        full[j] = vals[i]
                padded[a.name] = full
            columns = padded
            n = box_size
    elif subarray is not None:
        raise ValueError("subarray= applies to DENSE arrays only")
    if schema.array_type == "DENSE" and n > 1:
        # permute ROW-MAJOR box order -> the box's global TILE order.
        # Identity whenever the box is row-major on disk (1-D arrays
        # with any extent, one-tile-column boxes, full-axis extents) —
        # _dense_box_row_major, the same test the columnar reader uses.
        # Otherwise the permutation is BUILT VECTORIZED (per space tile,
        # the row-major indices of its cells) — the old per-cell python
        # loop dominated large dense writes.
        from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
            _dense_box_row_major,
            _rm_window_indices,
        )

        if not _dense_box_row_major(schema, box):
            import itertools  # noqa: PLC0415

            import numpy as np  # noqa: PLC0415

            axes = []
            for d, (blo, bhi) in zip(schema.dims, box):
                lo, hi = d.domain
                ext = d.extent or (hi - lo + 1)
                spans = []
                for tstart in range(lo, hi + 1, ext):
                    s, e = max(tstart, blo), min(tstart + ext - 1, bhi)
                    if s <= e:
                        spans.append((s, e))
                axes.append(spans)
            perm = np.concatenate([
                _rm_window_indices(np, combo, box)
                for combo in itertools.product(*axes)
            ])

            def _permute(vals):
                if (
                    isinstance(vals, np.ndarray)
                    and vals.dtype.kind in "iufb"
                ):
                    return vals[perm]
                if len(vals) and all(
                    type(v) in (int, float, bool) for v in vals
                ):
                    try:
                        return np.asarray(vals)[perm].tolist()
                    except (ValueError, TypeError):
                        pass
                return [vals[i] for i in perm]

            columns = {
                a.name: _permute(columns[a.name]) for a in schema.attrs
            }
    for d in schema.dims:
        if d.domain is None or schema.array_type == "DENSE":
            continue
        lo, hi = d.domain
        vals = columns[d.name]
        try:
            import numpy as np  # noqa: PLC0415

            arr = np.asarray(vals)
            if arr.dtype.kind in "iuf":
                # vectorized min/max bounds check — a per-cell python
                # loop would dominate large fragment writes
                if len(arr) and (arr.min() < lo or arr.max() > hi):
                    bad = arr[(arr < lo) | (arr > hi)][0]
                    raise ValueError(
                        f"dimension {d.name}: coordinate {bad!r} outside "
                        f"the declared domain [{lo}, {hi}] (the reference "
                        "rejects out-of-domain writes, ha_mytile.cc "
                        "bounds checks)"
                    )
                continue
        except (TypeError,):
            pass
        for v in vals:
            if v < lo or v > hi:
                raise ValueError(
                    f"dimension {d.name}: coordinate {v!r} outside the "
                    f"declared domain [{lo}, {hi}] (the reference rejects "
                    "out-of-domain writes, ha_mytile.cc bounds checks)"
                )
    if schema.array_type == "SPARSE" and n > 1:
        # TileDB sparse fragments store cells in GLOBAL ORDER: row-major
        # over the dims, or along the 2-D Hilbert curve when the schema
        # declares cell_order=HILBERT (locality in BOTH dims — tiles get
        # compact MBRs on every axis, so R-tree pruning works for box
        # queries regardless of which dim the range lands on).  Sorting
        # before writing keeps the on-disk layout format-faithful and
        # coordinate chunks monotone in the declared order.
        if schema.cell_order == 4:  # HILBERT
            from tiledb_mariadb_spark.operators.zorder import (  # noqa: PLC0415
                hilbert2_py,
            )

            d0, d1 = schema.dims
            span = max(
                d0.domain[1] - d0.domain[0], d1.domain[1] - d1.domain[0]
            )
            bits = max(1, span.bit_length())

            def _key(i):
                return hilbert2_py(
                    columns[d0.name][i] - d0.domain[0],
                    columns[d1.name][i] - d1.domain[0],
                    bits,
                )

            order = sorted(range(n), key=_key)
        else:
            # ROW_MAJOR (primary = first dim) / COL_MAJOR (primary =
            # last dim).  Numeric scalar dims take the vectorized path:
            # np.lexsort is stable like sorted(), so the permutation —
            # and therefore every byte written — is identical.
            key_dims = (
                list(schema.dims) if schema.cell_order != 1
                else list(reversed(schema.dims))
            )
            order = None
            if all(
                d.cell_val_num == 1 and _DT[d.dtype_id][1] != "c"
                for d in key_dims
            ):
                try:
                    import numpy as np  # noqa: PLC0415

                    # lexsort: LAST key is primary → reverse.  Kept as
                    # an ndarray — tolist() of a multi-million-cell
                    # permutation costs real time
                    order = np.lexsort(
                        [
                            np.asarray(columns[d.name])
                            for d in reversed(key_dims)
                        ]
                    )
                except (ValueError, TypeError):
                    order = None
            if order is None:
                order = sorted(
                    range(n),
                    key=lambda i: tuple(
                        columns[d.name][i] for d in key_dims
                    ),
                )
        import numpy as np  # noqa: PLC0415

        idx = np.asarray(order)
        if not np.array_equal(idx, np.arange(n)):

            def _reindex(vals):
                # numpy gather for pure-numeric columns only: bytes/str
                # arrays strip trailing NULs on round-trip (would corrupt
                # WKB blobs), None/list cells need the python path
                if isinstance(vals, np.ndarray) and vals.dtype.kind in "iufb":
                    return vals[idx]
                if len(vals) and all(
                    type(v) in (int, float, bool) for v in vals
                ):
                    try:
                        return np.asarray(vals)[idx].tolist()
                    except (ValueError, TypeError):
                        pass
                return [vals[i] for i in order]

            columns = {nm: _reindex(columns[nm]) for nm in names}
    frag = _next_fragment_dir(array_dir, ts, ts_range=ts_range, version=version)
    # capacity-packed tile boundaries (sparse): every tile holds exactly
    # `capacity` cells except the last — the invariant the footer's
    # (sparse_tile_num, last_tile_cell_num) pair encodes and metadata-only
    # counting relies on.  Dense v19 fragments tile by SPACE TILE (the
    # extent grid over the written box — per-tile stats and O(tile)
    # chunk framing, ha_mytile.cc:3287-3314 dense subarray parity);
    # dense v5 keeps the one-space-tile legacy layout the fixtures use.
    if schema.array_type == "SPARSE" and n > 0:
        cap = schema.capacity or n
        slices = [(s, min(s + cap, n)) for s in range(0, n, cap)]
    elif (
        schema.array_type == "DENSE" and version >= 10 and n > 0
    ):
        slices = _dense_tile_slices(schema, box)
    else:
        slices = [(0, n)]
    try:
        infos: dict[str, dict] = {}
        if schema.array_type == "SPARSE":
            for i, d in enumerate(schema.dims):
                infos[d.name] = _write_field_files(
                    frag, schema, d, columns[d.name], slices=slices,
                    base=os.path.join(frag, f"d{i}.tdb")
                    if version >= 10 else None,
                )
        for i, a in enumerate(schema.attrs):
            infos[a.name] = _write_field_files(
                frag, schema, a, columns[a.name], slices=slices,
                base=os.path.join(frag, f"a{i}.tdb")
                if version >= 10 else None,
            )
        if version >= 10:
            _write_fragment_metadata_v19(
                frag, schema, columns, n, slices=slices, infos=infos,
                version=version,
                dense_box=ned if schema.array_type == "DENSE" else None,
            )
        else:
            _write_fragment_footer(frag, schema, columns, n,
                                    ntiles=len(slices), slices=slices,
                                    box=ned)
        battrs = (
            bloom_attrs if bloom_attrs is not None
            else bloom_attrs_of(array_dir)
        )
        if battrs and n > 0:
            write_fragment_bloom(frag, schema, columns, set(battrs))
    except Exception:
        import shutil  # noqa: PLC0415

        shutil.rmtree(frag, ignore_errors=True)
        raise
    if commit:
        _commit_fragment(array_dir, frag)
    # commit=False stages an INVISIBLE fragment (no .wrt marker): the
    # caller makes a whole group visible atomically with one
    # __commits/*.con file (distributed consolidation's crash contract)
    return frag


_RTREE_FANOUT = 10


def _serialize_rtree(
    schema: NativeSchema, columns: dict, slices
) -> bytes:
    """Fragment R-tree (v5 layout the decoder's parse_rtree_leaf_mbrs
    reads back, byte-compatible with the bank fixture's tree): leaf
    level = one MBR per capacity-packed tile, parents merge groups of
    ``fanout``, serialized ROOT->LEAF as
    [u32 fanout][u32 levels][per level: u64 count + MBRs]."""

    import numpy as np  # noqa: PLC0415

    def mbr_of(s: int, e: int) -> list:
        out = []
        for d in schema.dims:
            sl = columns[d.name][s:e]
            if isinstance(sl, np.ndarray) and sl.dtype.kind in "iuf":
                out.append((sl.min().item(), sl.max().item()))
            else:
                out.append((min(sl), max(sl)))
        return out

    def merge(group: list) -> list:
        return [
            (min(m[i][0] for m in group), max(m[i][1] for m in group))
            for i in range(len(schema.dims))
        ]

    levels = [[mbr_of(s, e) for s, e in slices]]
    while len(levels[0]) > 1:
        cur = levels[0]
        levels.insert(
            0,
            [
                merge(cur[i : i + _RTREE_FANOUT])
                for i in range(0, len(cur), _RTREE_FANOUT)
            ],
        )
    out = struct.pack("<II", _RTREE_FANOUT, len(levels))
    for lvl in levels:
        out += struct.pack("<Q", len(lvl))
        for mbr in lvl:
            for d, (lo, hi) in zip(schema.dims, mbr):
                _nm, code, _size = _DT[d.dtype_id]
                if d.is_var:
                    lo_b = lo.encode() if isinstance(lo, str) else bytes(lo)
                    hi_b = hi.encode() if isinstance(hi, str) else bytes(hi)
                    out += struct.pack(
                        "<QQ", len(lo_b) + len(hi_b), len(lo_b)
                    )
                    out += lo_b + hi_b
                else:
                    out += struct.pack(f"<2{code}", lo, hi)
    return out


def _write_fragment_footer(
    frag: str, schema: NativeSchema, columns: dict, n: int,
    ntiles: int = 1, slices=None, box=None,
) -> None:
    """__fragment_metadata.tdb (offset-era layout the decoder's
    parse_fragment_footer reads back): [R-tree generic tile][raw footer:
    version, dense, null_ned, per-dim non-empty domain, sparse_tile_num,
    last_tile_cell_num][u64 footer-section offset = 0].  The per-fragment
    non-empty domain is what lets readers SKIP this fragment without
    decoding any of it (libtiledb fragment pruning parity).  The footer
    version matches the fragment-name suffix (_5) — the parser
    cross-checks them."""
    empty = n == 0 and schema.array_type != "DENSE"
    raw = struct.pack("<I", 5)
    raw += struct.pack(
        "<BB", 1 if schema.array_type == "DENSE" else 0, 1 if empty else 0
    )
    for di, d in enumerate(schema.dims):
        _nm, code, size = _DT[d.dtype_id]
        if schema.array_type == "DENSE":
            # NED = the written subarray box (full domain by default)
            vals = list(box[di]) if box else [d.domain[0], d.domain[1]]
        elif empty:
            vals = None  # null non-empty domain: placeholder bytes only
        else:
            vals = columns[d.name]
        if d.is_var:
            if vals is None:
                raw += struct.pack("<QQ", 0, 0)
                continue
            los = min(vals)
            his = max(vals)
            lo_b = los.encode() if isinstance(los, str) else bytes(los)
            hi_b = his.encode() if isinstance(his, str) else bytes(his)
            raw += struct.pack("<QQ", len(lo_b) + len(hi_b), len(lo_b))
            raw += lo_b + hi_b
        elif vals is None:
            raw += struct.pack(f"<2{code}", 0, 0)
        else:
            raw += struct.pack(f"<2{code}", min(vals), max(vals))
    # capacity-packed tiles: every tile full except the last, so the
    # footer pair (ntiles, last_tile_cell_num) pins the exact cell count
    last = n - (ntiles - 1) * schema.capacity if n else 0
    if ntiles > 1 and not (0 < last <= schema.capacity):
        raise ValueError(f"tile packing broke: n={n} ntiles={ntiles}")
    raw += struct.pack("<QQ", ntiles, last if ntiles > 1 else n)
    # real R-tree (leaf MBR per tile) for sparse non-empty fragments;
    # dense/empty keep the empty placeholder (parse returns None there)
    if schema.array_type == "SPARSE" and n > 0 and slices:
        rpayload = _serialize_rtree(schema, columns, slices)
    else:
        rpayload = b""
    from tiledb_mariadb_spark.sources.tiledb_native_crypto import (  # noqa: PLC0415
        key_for_path,
    )

    ekey = key_for_path(frag)  # encrypted array: seal the R-tree (MBRs
    # are data-derived); the raw footer stays plaintext like libtiledb's
    rtree = _encode_chunked(rpayload, [], key=ekey)
    hdr = struct.pack(
        "<IQQBQB", 5, len(rtree), len(rpayload), 6, 1,
        1 if ekey is not None else 0,
    ) + struct.pack("<I", 0)
    with open(os.path.join(frag, "__fragment_metadata.tdb"), "wb") as f:
        f.write(hdr + rtree + raw + struct.pack("<Q", 0))


def array_info_to_native(dims, attrs) -> tuple[list, list]:
    """Connector ArrayInfo (Spark DDL types) -> native dim/attr defs.
    Integer dims carry their declared domain; var-typed (string/binary)
    dims have no domain."""
    ndims = []
    for d in dims:
        dtype_id, is_var = _DDL_TO_DT[d.dtype.lower()]
        if is_var:
            ndims.append(NativeDim(d.name, 11, _VAR, None, None))
        else:
            lo, hi = d.domain
            ndims.append(
                NativeDim(d.name, dtype_id, 1, (int(lo), int(hi)), None)
            )
    nattrs = []
    for a in attrs:
        dtype_id, is_var = _DDL_TO_DT[a.dtype.lower()]
        nattrs.append(
            NativeAttr(a.name, dtype_id, _VAR if is_var else 1, a.nullable,
                       None)
        )
    return ndims, nattrs


_DELETE_OPS = {"=", "!=", "<", "<=", ">", ">=", "in", "is_null",
               "is_not_null"}


def write_delete_condition(
    array_dir: str,
    conditions,
    ts: Optional[int] = None,
) -> str:
    """DELETE-by-condition as a commit-level artifact (TileDB's delete
    commits): no fragment is rewritten — a ``__commits/<ts>.del`` file
    records the predicate, and every read from then on filters cells
    written at-or-before ``ts`` through it.  O(1) regardless of array
    size, which is the only delete that makes sense at 100 TB; the
    physical purge happens at the next consolidate+vacuum, which bakes
    visible deletes into the merged fragment and vacuums the ``.del``.

    ``conditions`` is the connector's pushdown shape — an AND list of
    ``(col, op, value)`` with ops {'=','!=','<','<=','>','>=','in','is_null',
    'is_not_null'} — serialized as JSON inside a generic tile.  Sparse
    arrays only (a dense read materializes fills for every cell, so
    cell-level deletes have no dense semantics — libtiledb has the same
    restriction)."""
    import json  # noqa: PLC0415

    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        parse_array_schema,
        _schema_path,
    )

    schema = parse_array_schema(_schema_path(array_dir))
    if schema.array_type != "SPARSE":
        raise ValueError("delete conditions: sparse arrays only")
    commits = os.path.join(array_dir, "__commits")
    if not os.path.isdir(commits):
        raise ValueError(
            "delete conditions need the __commits layout (arrays created "
            "by this writer); legacy-era arrays predate delete commits"
        )
    known = {d.name for d in schema.dims} | {a.name for a in schema.attrs}
    conds = []
    for cond in conditions:
        col, op, *rest = cond
        if col not in known:
            raise ValueError(f"unknown column {col!r}")
        if op not in _DELETE_OPS:
            raise ValueError(f"unsupported op {op!r}")
        conds.append([col, op] + list(rest[:1]))
    if ts is None:
        import time  # noqa: PLC0415

        existing = [
            _frag_ts(os.path.basename(f)) for f in _fragment_dirs(array_dir)
        ] + [
            _frag_ts(e) for e in os.listdir(commits) if e.endswith(".del")
        ]
        ts = max([int(time.time() * 1000)] + [e + 1 for e in existing])
    path = os.path.join(commits, f"__{ts}_{ts}_{uuid.uuid4().hex}_5.del")
    _write_generic_tile(
        path, json.dumps({"version": 1, "conditions": conds}).encode()
    )
    return path


def consolidate_native_array(array_dir: str) -> Optional[str]:
    """TileDB fragment consolidation for native arrays: materialize the
    newest-wins merged state as ONE new fragment whose name spans the
    consolidated [t1, t2] timestamp range, so reads touch a single
    fragment.  The old fragments stay on disk — the reader's coverage
    rule skips them at full view while time travel INSIDE the range still
    reaches them — until :func:`vacuum_native_array` removes everything
    listed in the ``.vac`` file this writes (TileDB's
    consolidate-then-vacuum two-step).  Returns the new fragment dir, or
    None when there is nothing to merge (zero or one visible fragment
    and no rows)."""
    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        _delete_conditions,
        _frag_range,
        read_native_array,
    )

    old = _fragment_dirs(array_dir)
    dels = _delete_conditions(array_dir, None, old)
    if len(old) < 2 and not dels:
        return None  # a single fragment is already consolidated
    schema, rows = read_native_array(array_dir)  # deletes applied = baked
    if not rows:
        return None
    names = [d.name for d in schema.dims] + [a.name for a in schema.attrs]
    cols = {n: list(vals) for n, vals in zip(names, zip(*rows))}
    rngs = [_frag_range(os.path.basename(f)) for f in old]
    t1 = min(r[0] for r in rngs)
    t2 = max(r[1] for r in rngs)
    # a delete newer than every fragment is baked in too — widen the
    # range over it so the coverage rule retires the .del as well
    t2 = max([t2] + [dts for dts, _c in dels])
    box = None
    if schema.array_type == "DENSE":
        # the merged rows ARE the bounding box of the written subarrays
        # (contiguous, tile-aligned: min/max of aligned box edges)
        nd = len(schema.dims)
        box = [
            (min(r[i] for r in rows), max(r[i] for r in rows))
            for i in range(nd)
        ]
    # the consolidated fragment carries the MODERN (v19) layout — a
    # consolidated array must not LOSE the stats/R-tree pruning tier
    # its pre-consolidation v19 fragments had (round 6; before this the
    # merge emitted the legacy v5 layout with no metadata sections)
    frag = write_native_fragment(array_dir, cols, subarray=box,
                                 ts_range=(t1, t2), version=19)
    commits = os.path.join(array_dir, "__commits")
    if os.path.isdir(commits):
        # the vacuum manifest: every artifact the consolidated fragment
        # supersedes, as root-relative URIs (fragment dirs + their
        # commit markers)
        with open(
            os.path.join(commits, os.path.basename(frag) + ".vac"), "w"
        ) as f:
            for o in old:
                name = os.path.basename(o)
                f.write(f"{os.path.relpath(o, array_dir)}\n")
                f.write(f"__commits/{name}.wrt\n")
            for e in os.listdir(commits):
                # baked-in deletes (ts inside the new fragment's range)
                # are superseded artifacts too
                if e.endswith(".del") and t1 <= _frag_ts(e) <= t2:
                    f.write(f"__commits/{e}\n")
    return frag


def vacuum_native_array(array_dir: str) -> int:
    """Apply the ``.vac`` manifests consolidation wrote: physically
    remove the superseded fragment directories and commit markers, then
    the manifests themselves.  Destroys time travel INTO the vacuumed
    range by design, exactly like TileDB's vacuum; the consolidated
    fragment keeps the merged state.  Arrays with no manifest (legacy
    layout) fall back to the COVERAGE rule: remove exactly the fragments
    whose [t1, t2] range is strictly contained in a wider fragment's
    range (i.e. merged into a consolidated fragment) — a vacuum with
    nothing consolidated is a no-op, never a data loss.  Returns
    fragments removed."""
    import shutil  # noqa: PLC0415

    removed = 0
    # array-METADATA consolidation manifests (__meta/*.vac): retire the
    # folded entry files; targets are processed in manifest order
    # (sorted = oldest first), so a crash mid-vacuum always leaves a
    # SUFFIX of the originals — which replays correctly over the
    # merged file — and the kept .vac lets a re-run finish the job
    meta_dir = os.path.join(array_dir, "__meta")
    if os.path.isdir(meta_dir):
        for v in sorted(e for e in os.listdir(meta_dir)
                        if e.endswith(".vac")):
            vp = os.path.join(meta_dir, v)
            with open(vp) as f:
                targets = [ln.strip() for ln in f if ln.strip()]
            for rel in targets:
                p = os.path.join(array_dir, rel)
                if os.path.isfile(p):
                    os.unlink(p)
                    removed += 1
            os.unlink(vp)
    # consolidated FRAGMENT metadata (__fragment_meta/*.meta): retire a
    # fold whose [t1, t2] range a strictly WIDER fold contains — the
    # wider one answers for every fragment the narrow one covered (the
    # .meta tier is a pure cache, so removal is always safe; TileDB's
    # fragment_meta vacuum mode)
    fmeta_dir = os.path.join(array_dir, "__fragment_meta")
    if os.path.isdir(fmeta_dir):
        metas = [
            e for e in os.listdir(fmeta_dir)
            if e.startswith("__") and e.endswith(".meta")
        ]
        rngs = {e: _frag_range(e[: -len(".meta")]) for e in metas}
        for e in metas:
            t1, t2 = rngs[e]
            covered_by_wider = any(
                g != e
                and rngs[g][0] <= t1 and t2 <= rngs[g][1]
                and (rngs[g][1] - rngs[g][0]) > (t2 - t1)
                for g in metas
            )
            # equal-range folds are re-runs over an unchanged layout
            # (periodic maintenance on a quiet array): keep only the
            # newest name so they can't accumulate unboundedly —
            # removal is always safe, the fold tier is a pure cache
            superseded_twin = any(
                g != e and rngs[g] == (t1, t2) and g > e for g in metas
            )
            if covered_by_wider or superseded_twin:
                os.unlink(os.path.join(fmeta_dir, e))
                removed += 1
    commits = os.path.join(array_dir, "__commits")
    vacs = (
        [e for e in os.listdir(commits) if e.endswith(".vac")]
        if os.path.isdir(commits)
        else []
    )
    if vacs:
        for v in vacs:
            vp = os.path.join(commits, v)
            with open(vp) as f:
                targets = [ln.strip() for ln in f if ln.strip()]
            for rel in targets:
                p = os.path.join(array_dir, rel)
                if os.path.isdir(p):
                    shutil.rmtree(p, ignore_errors=True)
                    removed += 1
                elif os.path.isfile(p):
                    os.unlink(p)
            os.unlink(vp)
        return removed
    # raw listing (not _fragment_dirs — that already hides covered
    # fragments from readers; vacuum is what physically removes them)
    root = os.path.join(array_dir, "__fragments")
    if not os.path.isdir(root):
        root = array_dir
    skip = {"__meta", "__schema", "__commits", "__fragments", "__labels"}
    names = [
        d
        for d in os.listdir(root)
        if d.startswith("__")
        and d not in skip
        and os.path.isdir(os.path.join(root, d))
    ]
    rng = {d: _frag_range(d) for d in names}
    for d in names:
        t1, t2 = rng[d]
        covered = any(
            g != d
            and rng[g][0] <= t1
            and t2 <= rng[g][1]
            and (rng[g][1] - rng[g][0]) > (t2 - t1)
            for g in names
        )
        if covered:
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)
            removed += 1
    return removed


def expire_native_fragments(array_dir: str, before: int) -> int:
    """TTL RETENTION: physically remove every committed fragment whose
    WHOLE timestamp range [t1, t2] lies strictly before ``before``
    (unix millis) — the age-based data-expiry op a 100 TB time-series
    deployment runs daily (keep N days, drop the rest) without
    rewriting a byte of surviving data.

    Rules, all metadata-only decisions:

    - a fragment with ``t2 < before`` is removed (its own ``.wrt`` or
      ``.con`` marker first — markered eras lose visibility atomically
      before the directory unlink — then the directory; fragments
      whose markers live inside a commits-consolidation ``.con`` group
      lose visibility when the directory disappears, the same rule
      readers already apply to vacuumed members);
    - a fragment SPANNING the cutoff (``t1 < before <= t2`` — e.g. a
      consolidated range) is kept whole: expiry never splits data;
    - a ``.del`` commit older than the cutoff is removed only when NO
      surviving fragment has ``t1 <= its ts`` (deletes affect cells
      written at-or-before them, so once every older cell is gone the
      condition can never match again);
    - ``__fragment_meta`` folds wholly before the cutoff are dropped
      (pure cache — staleness costs IO, never correctness).

    Time travel to ``at < before`` is DESTROYED by design, exactly like
    TileDB's vacuum semantics for consolidated ranges; reads at or
    after the cutoff are bit-identical before/after (pinned in
    tests/test_retention.py).  Returns fragments removed."""
    import shutil  # noqa: PLC0415

    root = _frag_root(array_dir)
    skip = {"__meta", "__schema", "__commits", "__fragments", "__labels"}
    names = [
        d
        for d in os.listdir(root)
        if d.startswith("__")
        and d not in skip
        and os.path.isdir(os.path.join(root, d))
    ]
    commits = os.path.join(array_dir, "__commits")
    removed = 0
    kept_t1 = []
    for d in names:
        t1, t2 = _frag_range(d)
        if t2 < before:
            if os.path.isdir(commits):
                for ext in (".wrt", ".con"):
                    m = os.path.join(commits, d + ext)
                    if os.path.isfile(m):
                        os.unlink(m)
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)
            removed += 1
        else:
            kept_t1.append(t1)
    min_kept_t1 = min(kept_t1) if kept_t1 else None
    if os.path.isdir(commits):
        for e in list(os.listdir(commits)):
            if not e.endswith(".del"):
                continue
            dts = _frag_ts(e)
            if dts < before and (
                min_kept_t1 is None or min_kept_t1 > dts
            ):
                os.unlink(os.path.join(commits, e))
    fmeta_dir = os.path.join(array_dir, "__fragment_meta")
    if os.path.isdir(fmeta_dir):
        for e in list(os.listdir(fmeta_dir)):
            if e.startswith("__") and e.endswith(".meta"):
                _t1, t2 = _frag_range(e[: -len(".meta")])
                if t2 < before:
                    os.unlink(os.path.join(fmeta_dir, e))
    return removed


def consolidate_commits(array_dir: str) -> Optional[str]:
    """COMMITS consolidation (TileDB's commits mode): fold every
    per-fragment zero-length ``.wrt`` marker into ONE ``.con`` file
    whose payload lists them — at millions of fragments the
    ``__commits`` listing is itself a scale cost, and one file replaces
    N.  A ``.vac`` manifest retires the folded ``.wrt`` files via
    :func:`vacuum_native_array`.  Visibility is unchanged at every
    point: the reader unions ``.wrt`` markers with ``.con`` listings
    (``_committed_names``), so before vacuum both artifacts agree, and
    concurrent writers' NEW ``.wrt`` markers are untouched.  Existing
    ``.con`` files (fragment consolidation's atomic group commits) are
    left alone.  Returns the ``.con`` path, or None with <2 markers."""
    commits = os.path.join(array_dir, "__commits")
    if not os.path.isdir(commits):
        return None
    wrts = sorted(e for e in os.listdir(commits) if e.endswith(".wrt"))
    if len(wrts) < 2:
        return None
    rngs = [_frag_range(e[: -len(".wrt")]) for e in wrts]
    t1 = min(a for a, _b in rngs)
    t2 = max(b for _a, b in rngs)
    name = f"__{t1}_{t2}_{uuid.uuid4().hex}.con"
    tmp = os.path.join(commits, "." + name + ".tmp")
    with open(tmp, "w") as f:
        for e in wrts:
            f.write(f"__commits/{e}\n")
    os.replace(tmp, os.path.join(commits, name))
    with open(os.path.join(commits, name[:-4] + ".vac"), "w") as f:
        for e in wrts:
            f.write(f"__commits/{e}\n")
    return os.path.join(commits, name)


def consolidate_array_metadata(array_dir: str) -> Optional[str]:
    """Array-METADATA consolidation (TileDB's array_meta consolidation
    mode): fold every ``__meta`` entry file — later files override,
    tombstones delete — into ONE merged entry file spanning
    ``[t1, t2]``, preserving each surviving key's RAW typed encoding
    (never the rendered string), plus a ``.vac`` manifest so
    :func:`vacuum_native_array` can retire the originals.  Readers stay
    correct at every point: before vacuum the merged file replays with
    the originals and converges to the same dict (each key's final
    state is its LAST operation, which lives either in the replayed
    suffix or already in the fold).  Returns the merged file path, or
    None with <2 entry files."""
    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        _Cursor,
        _DT,
        read_generic_tile,
    )

    meta_dir = os.path.join(array_dir, "__meta")
    if not os.path.isdir(meta_dir):
        return None
    entries = sorted(
        fn for fn in os.listdir(meta_dir)
        if os.path.isfile(os.path.join(meta_dir, fn))
        and fn.startswith("__") and not fn.endswith(".vac")
    )
    if len(entries) < 2:
        return None
    merged: dict[str, bytes] = {}  # key -> raw [type u8][num u32][vals]
    for fn in entries:
        c = _Cursor(read_generic_tile(os.path.join(meta_dir, fn)))
        while c.pos < len(c.buf):
            key = c.raw(c.u("I")).decode()
            if c.u("B"):  # tombstone
                merged.pop(key, None)
                continue
            start = c.pos
            dtype_id = c.u("B")
            num = c.u("I")
            _n, _code, size = _DT[dtype_id]
            c.raw(num * size)
            merged[key] = c.buf[start:c.pos]
    ts_list = [_frag_range(fn) for fn in entries]
    t1 = min(a for a, _b in ts_list)
    t2 = max(b for _a, b in ts_list)
    payload = b""
    for key in sorted(merged):
        kb = key.encode()
        payload += struct.pack("<I", len(kb)) + kb
        payload += struct.pack("<B", 0) + merged[key]
    name = f"__{t1}_{t2}_{uuid.uuid4().hex}"
    path = os.path.join(meta_dir, name)
    # stage dotted, then atomic rename: a reader listing __meta must
    # never parse a torn merged file (readers skip dotfiles)
    tmp = os.path.join(meta_dir, "." + name + ".tmp")
    _write_generic_tile(tmp, payload)
    os.replace(tmp, path)
    with open(os.path.join(meta_dir, name + ".vac"), "w") as f:
        for fn in entries:
            f.write(f"__meta/{fn}\n")
    return path


def _fmeta_entry_of(frag: str, schema: NativeSchema) -> Optional[dict]:
    """One fragment's consolidated-metadata entry (footer + stats +
    dim0 tile weights), or None when its footer is unparseable (the
    fragment then stays a per-fragment read)."""
    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        _fmeta_enc,
        _frag_dim0_weights,
        fragment_attr_stats,
        parse_fragment_footer,
    )

    fm = os.path.join(frag, "__fragment_metadata.tdb")
    f = parse_fragment_footer(fm, schema)
    if f is None:
        return None
    stats = fragment_attr_stats(frag, schema)
    entry = {
        "name": os.path.basename(frag),
        "footer": {
            "version": f.version,
            "dense": bool(f.dense),
            "ned": [
                [_fmeta_enc(p[0]), _fmeta_enc(p[1])]
                if p is not None else None
                for p in f.non_empty_domain
            ],
            "var_ned": [
                [_fmeta_enc(p[0]), _fmeta_enc(p[1])]
                if p is not None else None
                for p in f.var_ned
            ],
            "stn": f.sparse_tile_num,
            "ltcn": f.last_tile_cell_num,
        },
        "stats": None if stats is None else {
            fld: {
                k: (v if k == "null_count" else _fmeta_enc(v))
                for k, v in stt.items()
            }
            for fld, stt in stats.items()
        },
    }
    if schema.dims and not schema.dims[0].is_var:
        # per-tile dim0 weights (quantile split planning) — fold these
        # too so the planner never opens per-fragment R-trees
        w = _frag_dim0_weights(frag, schema, f)
        entry["w0"] = None if w is None else [
            [_fmeta_enc(a), _fmeta_enc(b), int(c)] for a, b, c in w
        ]
    return entry


def consolidate_fragment_meta(
    array_dir: str,
    encryption_key: "Optional[bytes | str]" = None,
    spark=None,
    target_splits: int = 16,
) -> Optional[str]:
    """Fragment-METADATA consolidation (TileDB's ``fragment_meta``
    consolidation mode; the reference exposes it through libtiledb's
    consolidation config): fold every visible fragment's parsed footer
    (NED / var-NED / tile counts) and fmmsn stats into ONE
    ``__fragment_meta/__t1_t2_uuid.meta`` generic-tile file, so
    planning reads — window/condition NEDs, metadata-only COUNT,
    stats refutation — open O(1) objects instead of one per fragment.
    At 100 TB the driver plans every query from this tier; with
    thousands of fragments on object storage the per-file latency IS
    the planning cost.

    Data files are untouched (this consolidates metadata only, exactly
    like libtiledb's mode) and readers treat the fold as a pure cache:
    fragments written AFTER it simply miss and parse their own
    metadata, so no vacuum step is required for correctness —
    re-consolidating after appends re-covers everything, and
    :func:`vacuum_native_array` retires folds a wider one covers.
    Encrypted arrays seal the fold with the registered key (fragment
    stats of an encrypted array never reach disk in plaintext).
    ``spark``: distribute the per-fragment footer/stats parsing over
    executors (order-preserving) — at 100k fragments on object storage
    the fold build is latency-bound per fragment, so executors do the
    opens and only compact JSON entries return to the driver.
    Returns the .meta path, or None with <2 parseable fragments."""
    import json  # noqa: PLC0415

    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        _fmeta_schema_fp,
        open_encryption,
    )

    open_encryption(array_dir, encryption_key)
    schema = parse_array_schema(_schema_path(array_dir))
    frags = _fragment_dirs(array_dir)
    if spark is not None and len(frags) > 1:
        import pandas as pd  # noqa: PLC0415

        key = encryption_key

        def build(batches):
            from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
                open_encryption as _oe,
            )

            _oe(array_dir, key)
            s = parse_array_schema(_schema_path(array_dir))
            for pdf in batches:
                out = []
                names = []
                for fi in pdf["frag_idx"]:
                    frag = frags[int(fi)]
                    e = _fmeta_entry_of(frag, s)
                    names.append(frag)
                    out.append(None if e is None else json.dumps(e))
                yield pd.DataFrame({"frag": names, "entry": out})

        from tiledb_mariadb_spark.sources.tiledb_array import (  # noqa: PLC0415
            _seed_partitions,
        )

        n_parts = max(1, min(int(target_splits), len(frags)))
        # seed frag INDEXES over exactly n_parts shuffle-free partitions
        # (range slices are contiguous and balanced — the old
        # repartition-by-frag-string hashing could leave partitions
        # empty while doubling up others)
        built = (
            _seed_partitions(spark, len(frags), colname="frag_idx",
                             num_partitions=n_parts)
            .mapInPandas(build, schema="frag string, entry string")
            .collect()
        )
        by_frag = {r["frag"]: r["entry"] for r in built}
        entries = [
            json.loads(by_frag[f]) for f in frags
            if by_frag.get(f) is not None
        ]
    else:
        entries = [
            e for e in (_fmeta_entry_of(frag, schema) for frag in frags)
            if e is not None
        ]
    if len(entries) < 2:
        return None
    rngs = [_frag_range(e["name"]) for e in entries]
    t1 = min(a for a, _b in rngs)
    t2 = max(b for _a, b in rngs)
    doc = {
        "format": 1,
        "schema_fp": _fmeta_schema_fp(schema),
        "fragments": entries,
    }
    mdir = os.path.join(array_dir, "__fragment_meta")
    os.makedirs(mdir, exist_ok=True)
    name = f"__{t1}_{t2}_{uuid.uuid4().hex}.meta"
    # stage dotted, atomic rename — readers skip non-__ names
    tmp = os.path.join(mdir, "." + name + ".tmp")
    _write_generic_tile(tmp, json.dumps(doc).encode())
    os.replace(tmp, os.path.join(mdir, name))
    return os.path.join(mdir, name)


def write_array_metadata(
    array_dir: str, items: dict, ts: Optional[int] = None
) -> str:
    """Array-metadata write (Array::put_metadata / delete_metadata
    analog, t/metadata.test surface): one timestamped __meta entry file
    whose records the decoder's read_array_metadata reads back —
    [key_len u32][key][del u8][type u8][num u32][values].  Later files
    override earlier ones, so updates and deletes (value=None) are
    APPENDS, never rewrites — the same immutable-entry model as
    fragments.  Values: str, int, float, or a homogeneous list of
    int/float."""
    import time  # noqa: PLC0415

    payload = b""
    for key, v in items.items():
        kb = key.encode()
        payload += struct.pack("<I", len(kb)) + kb
        if v is None:  # tombstone: delete_metadata
            payload += struct.pack("<B", 1)
            continue
        payload += struct.pack("<B", 0)
        if isinstance(v, str):
            vb = v.encode()
            payload += struct.pack("<BI", 12, len(vb)) + vb
        else:
            vals = list(v) if isinstance(v, (list, tuple)) else [v]
            if not vals:
                raise ValueError(f"metadata {key}: empty value list")
            if all(isinstance(x, int) and not isinstance(x, bool) for x in vals):
                payload += struct.pack(f"<BI{len(vals)}q", 1, len(vals), *vals)
            else:
                payload += struct.pack(
                    f"<BI{len(vals)}d", 3, len(vals),
                    *[float(x) for x in vals],
                )
    if ts is None:
        ts = int(time.time() * 1000)
    meta_dir = os.path.join(array_dir, "__meta")
    os.makedirs(meta_dir, exist_ok=True)
    path = os.path.join(meta_dir, f"__{ts}_{ts}_{uuid.uuid4().hex}")
    _write_generic_tile(path, payload)
    return path


def evolve_native_schema(
    array_dir: str,
    add_attrs: Sequence[NativeAttr] = (),
    drop_attrs: Sequence[str] = (),
    ts: Optional[int] = None,
) -> NativeSchema:
    """ALTER TABLE ADD/DROP COLUMN at format level (TileDB
    ArraySchemaEvolution; t/schema_evolution.test is the SQL surface):
    writes a NEW timestamped schema blob under __schema/ — the old blob
    is KEPT, so this is an append like everything else in the format.
    Readers use the newest schema: attrs evolved in after a fragment was
    written read as their fill value (NULL when nullable) on that
    fragment; dropped attrs simply stop being requested, their old data
    files stay untouched.

    Supported for arrays whose fragments use name-based data files (our
    writer's v5 era).  Positional-file fragments (format >= 10) bind
    columns by schema INDEX, which evolution would shift — rejected."""
    import time  # noqa: PLC0415

    for frag in _fragment_dirs(array_dir):
        tail = os.path.basename(frag).rsplit("_", 1)[-1]
        if tail.isdigit() and int(tail) >= 10:
            raise NotImplementedError(
                "schema evolution over positional-file fragments (>=v10)"
            )
    schema = parse_array_schema(_schema_path(array_dir))
    drop = set(drop_attrs)
    have = {a.name for a in schema.attrs}
    missing = drop - have
    if missing:
        raise ValueError(f"cannot drop unknown attrs: {sorted(missing)}")
    dim_names = {d.name for d in schema.dims}
    clash = [a.name for a in add_attrs if a.name in have or a.name in dim_names]
    if clash:
        raise ValueError(f"attrs already exist: {clash}")
    if not set(a.name for a in schema.attrs) - drop and not add_attrs:
        raise ValueError("evolution would leave the schema attr-less")
    if any(getattr(a, "enumeration", None) for a in add_attrs):
        raise NotImplementedError(
            "evolving IN a new enumerated attr (existing enum attrs and "
            "their label files are preserved; create-time only)"
        )
    gz = [(_F_GZIP, b"")]
    new_attrs = [a for a in schema.attrs if a.name not in drop] + [
        NativeAttr(a.name, a.dtype_id, a.cell_val_num, a.nullable, a.fill,
                   filters=a.filters or gz)
        for a in add_attrs
    ]
    evolved = NativeSchema(
        7, schema.array_type, schema.capacity, schema.dims, new_attrs,
        coords_filters=schema.coords_filters or gz,
        offsets_filters=schema.offsets_filters or gz,
        validity_filters=schema.validity_filters or gz,
        allows_dups=schema.allows_dups,
        tile_order=schema.tile_order, cell_order=schema.cell_order,
        # kept enum attrs retain their links; the label files already
        # live in __schema/__enumerations/ and the new blob lands beside
        # them, so name→path resolution is unchanged
        enumeration_paths=schema.enumeration_paths,
    )
    sdir = os.path.join(array_dir, "__schema")
    os.makedirs(sdir, exist_ok=True)
    flat = os.path.join(array_dir, "__array_schema.tdb")
    if os.path.isfile(flat):
        # migrate the flat blob into __schema/ as the OLDEST entry so
        # history is preserved and newest-wins selection keeps working
        os.replace(flat, os.path.join(sdir, f"__0_0_{uuid.uuid4().hex}"))
    if ts is None:
        ts = int(time.time() * 1000)
    _write_generic_tile(
        os.path.join(sdir, f"__{ts}_{ts}_{uuid.uuid4().hex}"),
        _serialize_schema(evolved),
    )
    return parse_array_schema(_schema_path(array_dir))


# ---------------------------------------------------------------------------
# MODERN (v11+) fragment metadata — the generic-tile section table the
# decoder's parse_footer_sections / fragment_attr_stats / R-tree readers
# consume, byte-layout-compatible with the reference's v18/v19/v20
# fixtures (obs/var/multi_attribute probes pinned every shape):
#   [rtree gt][tile_offsets gt x NF][tile_var_offsets x NF]
#   [tile_var_sizes x NF][tile_validity x NF][tile_min x NF]
#   [tile_max x NF][tile_sum x NF][tile_null_count x NF][fmmsn gt]
#   [processed_conditions gt][raw footer][u64 footer_size]
# NF = attrs + 1 (legacy __coords slot, all-zero) + dims; payload shapes
# documented in tiledb_native's stats section.
# ---------------------------------------------------------------------------


def _gtile_bytes(
    payload: bytes, version: int, key: Optional[bytes] = None
) -> bytes:
    chunked = _encode_chunked(payload, [], key=key)
    return (
        struct.pack(
            "<IQQBQB", version, len(chunked), len(payload), 4, 1,
            1 if key is not None else 0,
        )
        + struct.pack("<I", 0)
        + chunked
    )


def _seq_float_sum(vals) -> float:
    """Sequential float64 accumulation in cell order (np.cumsum is a
    strict running sum, so its last element is bit-identical to the
    python loop — used when the column coerces cleanly)."""
    import numpy as np  # noqa: PLC0415

    try:
        arr = np.asarray(vals)
        if arr.dtype.kind in "iuf":
            return float(np.cumsum(arr, dtype=np.float64)[-1])
    except (TypeError, ValueError):
        pass
    acc = 0.0
    for v in vals:
        acc += float(v)
    return acc


def _field_tile_stats(field, vals, slices):
    """Per-tile (mins, maxs, sums, null_counts) with None for whatever
    the engine rules don't compute: only fixed single-value non-string
    fields get min/max, only _SUMMABLE ones get sums, only nullable
    fields get null counts — and a fragment containing any NULL skips
    min/max/sum entirely (the stats must describe decodable cells)."""
    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        _SUMMABLE_DT,
    )

    dtype_id, cvn = field.dtype_id, field.cell_val_num
    nullable = getattr(field, "nullable", False)
    code = _DT[dtype_id][1]
    nulls = (
        [sum(1 for v in vals[s:e] if v is None) for s, e in slices]
        if nullable
        else None
    )
    is_text = dtype_id in (4, 11, 12, 42)  # CHAR/ASCII/UTF-8/WKT
    if (cvn != 1 and not is_text) or len(vals) == 0:  # len(): ndarray-ok
        return None, None, None, nulls
    if nullable and any(v is None for v in vals):
        return None, None, None, nulls
    if is_text:
        # TEXT min/max (round 7 — the reference pushes string MIN/MAX
        # through the group_by_handler, ha_mytile.cc:480-487): per-tile
        # string extrema; no sum.  Mixed str/bytes cells (the writer
        # accepts both) have no total order — skip stats, never guess.
        try:
            mins = [min(vals[s:e]) for s, e in slices]
            maxs = [max(vals[s:e]) for s, e in slices]
        except TypeError:
            return None, None, None, nulls
        return mins, maxs, None, nulls
    # vectorized tier for numeric columns (per-cell python min/max/sum
    # dominated large fragment writes — 85% of a 4M-row write was this
    # function).  Exactness contracts preserved: np.cumsum accumulates
    # STRICTLY SEQUENTIALLY, so float sums keep the engine's exact
    # cell-order result bit-for-bit (pinned by test_native_write_v19);
    # int sums fall back to python's arbitrary-precision sum whenever a
    # magnitude bound says int64 could overflow; NaNs fall back (python
    # min/max order semantics).
    import numpy as np  # noqa: PLC0415

    arr = None
    try:
        cand = np.asarray(vals)
        if cand.dtype.kind in "iuf" and not (
            cand.dtype.kind == "f" and np.isnan(cand).any()
        ):
            arr = cand
    except (TypeError, ValueError):
        arr = None
    if arr is not None:
        mins = [arr[s:e].min().item() for s, e in slices]
        maxs = [arr[s:e].max().item() for s, e in slices]
        sums = None
        if dtype_id in _SUMMABLE_DT:
            if dtype_id in (2, 3):
                sums = [
                    float(np.cumsum(arr[s:e], dtype=np.float64)[-1])
                    for s, e in slices
                ]
            else:
                bound = max(abs(int(min(mins))), abs(int(max(maxs))))
                cells = max(e - s for s, e in slices)
                if bound * cells < 2**62:
                    sums = [
                        int(arr[s:e].sum(dtype=np.int64))
                        for s, e in slices
                    ]
                else:  # could overflow int64: exact python sum
                    sums = [
                        sum(int(v) for v in vals[s:e]) for s, e in slices
                    ]
        return mins, maxs, sums, nulls
    mins = [min(vals[s:e]) for s, e in slices]
    maxs = [max(vals[s:e]) for s, e in slices]
    sums = None
    if dtype_id in _SUMMABLE_DT:
        if dtype_id in (2, 3):
            # float64 accumulation in cell order — the engine's (and the
            # reader recompute's) exact sequential result
            sums = []
            for s, e in slices:
                acc = 0.0
                for v in vals[s:e]:
                    acc += float(v)
                sums.append(acc)
        else:
            sums = [sum(int(v) for v in vals[s:e]) for s, e in slices]
    return mins, maxs, sums, nulls


def _pack_sum(dtype_id: int, v) -> bytes:
    """The 8-byte fmmsn sum slot has no presence flag, so an
    accumulator overflow SATURATES at the bound (libtiledb clamps the
    same way); the reader's `_decode_sum` treats exactly-at-bound sums
    as absent, so a saturated total falls back to decode instead of
    serving a wrong aggregate."""
    if dtype_id in (2, 3):
        return struct.pack("<d", v)
    if dtype_id in (6, 8, 9, 10, 40):
        return struct.pack("<Q", min(max(int(v), 0), 2**64 - 1))
    return struct.pack("<q", min(max(int(v), -(2**63)), 2**63 - 1))


def _dense_tile_slices(schema: NativeSchema, box) -> list[tuple[int, int]]:
    """Cell-index slices of one space tile each, in the global tile
    order `_dense_coords_box` decodes (tiles row-major over the
    domain-aligned extent grid clipped to ``box``, cells row-major
    within a tile).  The writer permutes columns into exactly this
    order before packing, so slice k holds tile k's cells."""
    import itertools  # noqa: PLC0415

    axes = []
    for d, (blo, bhi) in zip(schema.dims, box):
        lo, hi = d.domain
        ext = d.extent or (hi - lo + 1)
        spans = []
        for t in range(lo, hi + 1, ext):
            s, e = max(t, blo), min(t + ext - 1, bhi)
            if s <= e:
                spans.append(e - s + 1)
        axes.append(spans)
    slices, pos = [], 0
    for combo in itertools.product(*axes):
        c = 1
        for span in combo:
            c *= span
        slices.append((pos, pos + c))
        pos += c
    return slices


def _write_fragment_metadata_v19(
    frag: str,
    schema: NativeSchema,
    columns: dict,
    n: int,
    slices,
    infos: dict,
    version: int = 19,
    dense_box=None,
) -> None:
    names = (
        [a.name for a in schema.attrs]
        + ["__coords"]
        + [d.name for d in schema.dims]
    )
    fields = {a.name: a for a in schema.attrs}
    fields.update({d.name: d for d in schema.dims})
    _nmcode = {nm: _DT[fields[nm].dtype_id][1] for nm in fields}

    import numpy as np  # noqa: PLC0415

    from tiledb_mariadb_spark.sources.tiledb_native_crypto import (  # noqa: PLC0415
        key_for_path,
    )

    ekey = key_for_path(frag)  # encrypted array: every metadata section
    # gtile (R-tree MBRs, tile min/max/sum — all data-derived) is sealed;
    # only the raw offsets footer stays plaintext (libtiledb parity)
    tiles: list[bytes] = []
    offsets: list[int] = []
    pos = 0

    def add(payload: bytes) -> int:
        nonlocal pos
        b = _gtile_bytes(payload, version, key=ekey)
        tiles.append(b)
        offsets.append(pos)
        pos += len(b)
        return offsets[-1]

    # R-tree FIRST (offset 0 in every era — parse_rtree_leaf_mbrs);
    # dense fragments have no coordinate MBRs (the footer NED box is
    # their pruning surface) — empty placeholder, like libtiledb
    rpayload = (
        _serialize_rtree(schema, columns, slices)
        if n > 0 and dense_box is None
        else b""
    )
    rtree_off = add(rpayload)

    def counted(vals8: list[bytes]) -> bytes:
        return struct.pack("<Q", len(vals8)) + b"".join(vals8)

    def prefix_offsets(sizes: list[int]) -> bytes:
        offs, p = [], 0
        for sz in sizes:
            offs.append(p)
            p += sz
        return counted([struct.pack("<Q", o) for o in offs])

    sec: dict[str, dict[str, int]] = {k: {} for k in (
        "tile_offsets", "tile_var_offsets", "tile_var_sizes",
        "tile_validity", "tile_min", "tile_max", "tile_sum",
        "tile_null_count",
    )}
    stats: dict[str, tuple] = {}
    empty = struct.pack("<Q", 0)
    for nm in names:
        info = infos.get(nm, {"data": [], "var": [], "var_sizes": [],
                              "validity": []})
        sec["tile_offsets"][nm] = add(
            prefix_offsets(info["data"]) if info["data"] else empty
        )
    for nm in names:
        info = infos.get(nm) or {}
        sec["tile_var_offsets"][nm] = add(
            prefix_offsets(info["var"]) if info.get("var") else empty
        )
    for nm in names:
        info = infos.get(nm) or {}
        sec["tile_var_sizes"][nm] = add(
            counted([struct.pack("<Q", v) for v in info["var_sizes"]])
            if info.get("var_sizes") else empty
        )
    for nm in names:
        info = infos.get(nm) or {}
        sec["tile_validity"][nm] = add(
            prefix_offsets(info["validity"]) if info.get("validity")
            else empty
        )
    for nm in names:
        stats[nm] = (
            _field_tile_stats(fields[nm], columns.get(nm, []), slices)
            if nm in fields else (None, None, None, None)
        )
    for key, idx in (("tile_min", 0), ("tile_max", 1)):
        for nm in names:
            vals = stats[nm][idx]
            # TEXT extrema live only in the fragment-level fmmsn tile
            # (var-size per-TILE sections would need the offsets+var
            # layout; fragment-level is what the aggregate path reads)
            if vals is None or fields[nm].dtype_id in (4, 11, 12, 42):
                sec[key][nm] = add(struct.pack("<QQ", 0, 0))
            else:
                dtype_id = fields[nm].dtype_id
                _c, code, size = _DT[dtype_id]
                buf = struct.pack(f"<{len(vals)}{code}", *vals)
                sec[key][nm] = add(
                    struct.pack("<QQ", len(buf), 0) + buf
                )
    for nm in names:
        sums = stats[nm][2]
        if sums is None:
            sec["tile_sum"][nm] = add(empty)
        else:
            dtype_id = fields[nm].dtype_id
            sec["tile_sum"][nm] = add(
                counted([_pack_sum(dtype_id, v) for v in sums])
            )
    for nm in names:
        nulls = stats[nm][3]
        sec["tile_null_count"][nm] = add(
            counted([struct.pack("<Q", v) for v in nulls])
            if nulls is not None else empty
        )
    # fragment-level min/max/sum/null tile
    fm = b""
    for nm in names:
        mins, maxs, sums, nulls = stats[nm]
        if mins is None:
            fm += struct.pack("<QQ", 0, 0)
        elif fields[nm].dtype_id in (4, 11, 12, 42):
            # TEXT extrema: length-prefixed utf-8 (the fmmsn layout's
            # var form; _decode_stat_value reads it back as str)
            lo, hi = min(mins), max(maxs)
            lo_b = lo.encode() if isinstance(lo, str) else bytes(lo)
            hi_b = hi.encode() if isinstance(hi, str) else bytes(hi)
            fm += struct.pack("<Q", len(lo_b)) + lo_b
            fm += struct.pack("<Q", len(hi_b)) + hi_b
        else:
            dtype_id = fields[nm].dtype_id
            _c, code, size = _DT[dtype_id]
            lo, hi = min(mins), max(maxs)
            fm += struct.pack("<Q", size) + struct.pack("<" + code, lo)
            fm += struct.pack("<Q", size) + struct.pack("<" + code, hi)
        if sums is None:
            fm += b"\x00" * 8
        else:
            dtype_id = fields[nm].dtype_id
            if dtype_id in (2, 3):
                # one float64 pass over the WHOLE column in cell order:
                # sum(per-tile sums) re-rounds at every tile boundary
                # and can land a ulp away from the reader's full-scan
                # sequential recompute (the exactness contract pinned
                # by test_v19_stats_fuzz_match_recompute)
                total = _seq_float_sum(columns.get(nm, []))
            else:
                total = sum(sums)
            fm += _pack_sum(dtype_id, total)
        fm += struct.pack("<Q", sum(stats[nm][3] or [0]))
    fmmsn_off = add(fm)
    pc_off = add(struct.pack("<Q", 0))  # no processed delete conditions

    # raw footer (size era: trailing u64 = footer byte length)
    name_b = os.path.basename(frag).encode()
    raw = struct.pack("<I", version)
    raw += struct.pack("<Q", len(name_b)) + name_b
    raw += struct.pack(
        "<BB",
        1 if dense_box is not None else 0,
        1 if (n == 0 and dense_box is None) else 0,  # null NED?
    )
    for di, d in enumerate(schema.dims):
        _c, code, size = _DT[d.dtype_id]
        if dense_box is not None:
            # dense NED = the written subarray box (what
            # _dense_fragment_box reads back for fill semantics)
            raw += struct.pack(f"<2{code}", *dense_box[di])
            continue
        vals = columns.get(d.name) if n else None
        empty = vals is None or len(vals) == 0  # len(): ndarray-safe
        if d.is_var:
            if empty:
                raw += struct.pack("<QQ", 0, 0)
                continue
            lo = min(vals)
            hi = max(vals)
            lo_b = lo.encode() if isinstance(lo, str) else bytes(lo)
            hi_b = hi.encode() if isinstance(hi, str) else bytes(hi)
            raw += struct.pack("<QQ", len(lo_b) + len(hi_b), len(lo_b))
            raw += lo_b + hi_b
        elif empty:
            raw += struct.pack(f"<2{code}", 0, 0)
        elif isinstance(vals, np.ndarray) and vals.dtype.kind in "iuf":
            raw += struct.pack(
                f"<2{code}", vals.min().item(), vals.max().item()
            )
        else:
            raw += struct.pack(f"<2{code}", min(vals), max(vals))
    if dense_box is not None:
        # sparse_tile_num is sparse-specific; dense cell counts derive
        # from the NED box (count_cells' f.dense branch)
        raw += struct.pack("<QQ", 0, 0)
    else:
        last = n - (len(slices) - 1) * (schema.capacity or n) if n else 0
        raw += struct.pack("<QQ", len(slices) if n else 0,
                           last if len(slices) > 1 else n)
    raw += struct.pack("<BB", 0, 0)  # has_timestamps, has_delete_meta
    file_sizes, fvs, fvals = [], [], []
    for nm in names:
        info = infos.get(nm) or {}
        file_sizes.append(sum(info.get("data") or []))
        fvs.append(sum(info.get("var") or []))
        fvals.append(sum(info.get("validity") or []))
    for arr in (file_sizes, fvs, fvals):
        raw += struct.pack(f"<{len(arr)}Q", *arr)
    raw += struct.pack("<Q", rtree_off)
    for key in ("tile_offsets", "tile_var_offsets", "tile_var_sizes",
                "tile_validity", "tile_min", "tile_max", "tile_sum",
                "tile_null_count"):
        raw += struct.pack(
            f"<{len(names)}Q", *[sec[key][nm] for nm in names]
        )
    raw += struct.pack("<QQ", fmmsn_off, pc_off)

    path = os.path.join(frag, "__fragment_metadata.tdb")
    with open(path, "wb") as f:
        f.write(b"".join(tiles) + raw + struct.pack("<Q", len(raw)))
    # writer self-check: the sibling decoder must read back exactly what
    # was just written (stats tier is an optimization, but a torn table
    # here would PRUNE WRONGLY — fail the write instead)
    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        parse_footer_sections,
    )

    got = parse_footer_sections(path, schema)
    if got is None or got["fmmsn"] != fmmsn_off:
        raise RuntimeError("v19 metadata self-check failed")


# --- DDL filter surface (parse_filter_list / filter_list_to_str parity) ------

#: tiledb_filter_type_to_str vocabulary (tiledb.h) — the names the
#: reference's DDL accepts (mytile/mytile.cc:1308-1413 parse_filter_list)
#: and its discovery prints back (mytile-discovery.cc:249-267).
_FILTER_NAME_TO_ID = {
    "NONE": 0,
    "GZIP": _F_GZIP,
    "ZSTD": _F_ZSTD,
    "LZ4": _F_LZ4,
    "RLE": _F_RLE,
    "BZIP2": _F_BZIP2,
    "DOUBLE_DELTA": 6,
    "BIT_WIDTH_REDUCTION": 7,
    "BITSHUFFLE": _F_BITSHUFFLE,
    "BYTESHUFFLE": _F_BYTESHUFFLE,
    "POSITIVE_DELTA": _F_POSDELTA,
    "CHECKSUM_MD5": _F_MD5,
    "CHECKSUM_SHA256": _F_SHA256,
    "DICTIONARY_ENCODING": _F_DICT,
    "DICTIONARY": _F_DICT,  # accepted alias (colfilters vocabulary)
    "SCALE_FLOAT": _F_SCALE_FLOAT,
    "XOR": _F_XOR,
    "WEBP": 18,
    "DELTA": _F_DELTA,
}
_FILTER_ID_TO_NAME = {
    v: k for k, v in _FILTER_NAME_TO_ID.items() if k != "DICTIONARY"
}
_LEVELED = {_F_GZIP, _F_ZSTD, _F_LZ4, _F_BZIP2, _F_DELTA, _F_RLE,
            _F_DICT, 6}
#: filter id -> tiledb::sm::Compressor enum — the leading byte of a
#: compressor filter's schema-blob option serialization
#: ([compressor u8][level i32], pinned against the obs fixture's
#: ZSTD/DOUBLE_DELTA entries)
_COMPRESSOR_ENUM = {
    _F_GZIP: 1, _F_ZSTD: 2, _F_LZ4: 3, _F_RLE: 4, _F_BZIP2: 5, 6: 6,
    _F_DICT: 7, _F_DELTA: 8,
}


def _comp_meta(fid: int, level: int = -1) -> bytes:
    """Compressor option bytes exactly as real schema blobs store them."""
    return struct.pack("<Bi", _COMPRESSOR_ENUM[fid], level)


def _comp_level(fid: int, meta: bytes) -> int:
    """Level from compressor option bytes: the real 5-byte
    [compressor u8][level i32] layout, or a legacy bare i32."""
    if len(meta) >= 5:
        return struct.unpack_from("<i", meta, 1)[0]
    if len(meta) >= 4:
        return struct.unpack_from("<i", meta, 0)[0]
    return -1


def native_filters_from_csv(
    filter_csv: str, for_write: bool = True
) -> list:
    """The reference's ``parse_filter_list`` for the NATIVE tier
    (mytile/mytile.cc:1308 — ``"GZIP=6,BYTESHUFFLE"``-style CSV from the
    ``filters=`` column option / ``coordinate_filters`` etc. table
    options) → ``[(filter_id, option_bytes)]`` pipelines whose option
    encodings match the schema-blob filter-metadata serialization the
    decoder already reads back: compressors carry the i32
    TILEDB_COMPRESSION_LEVEL, BIT_WIDTH_REDUCTION / POSITIVE_DELTA the
    u32 max-window, SCALE_FLOAT the (factor f64, offset f64,
    byte_width u64) triple.

    ``SCALE_FLOAT=(bw-factor-offset)`` parses all THREE values — the
    reference's own parser reads ``values[0]`` for each (an upstream
    bug); we implement the evident intent and document the deviation.

    ``for_write`` additionally refuses filters the engine's writer
    cannot emit (BIT_WIDTH_REDUCTION, DOUBLE_DELTA, WEBP — decoder-only
    / unsupported), so a CREATE fails at DDL time, not first INSERT."""
    out = []
    for filter_str in str(filter_csv).split(","):
        filter_str = filter_str.strip()
        if not filter_str:
            continue
        name, _, optstr = filter_str.partition("=")
        name = name.strip().upper()
        fid = _FILTER_NAME_TO_ID.get(name)
        if fid is None:
            raise ValueError(f"Unknown or unsupported filter type: {name}")
        if fid == 0:  # NONE: contributes nothing
            continue
        meta = b""
        if fid in _COMPRESSOR_ENUM:
            meta = _comp_meta(fid, int(optstr) if optstr else -1)
        elif optstr:
            if fid in (7, _F_POSDELTA):  # max window (u32)
                meta = struct.pack("<I", int(optstr))
            elif fid == _F_SCALE_FLOAT:
                vals = optstr.strip().strip("()").split("-")
                if len(vals) != 3:
                    raise ValueError(
                        "SCALE_FLOAT expects (byte_width-factor-offset)"
                    )
                bw, factor, offset = (
                    int(vals[0]), float(vals[1]), float(vals[2])
                )
                if bw not in (1, 2, 4, 8):
                    raise ValueError(f"SCALE_FLOAT byte_width {bw}")
                meta = struct.pack("<ddQ", factor, offset, bw)
            # other filters have no options (parse_filter_list's
            # "following have no filter options" arm) — ignore like the
            # reference ignores unknown trailing options
        elif fid == _F_SCALE_FLOAT:
            raise ValueError(
                "SCALE_FLOAT requires (byte_width-factor-offset) options"
            )
        if for_write and fid in (6, 7, 18):
            raise ValueError(
                f"filter {name} is read-only in this engine (decoder "
                "reads it; the writer does not emit it)"
            )
        out.append((fid, meta))
    return out


def native_filters_to_csv(filters) -> str:
    """``filter_list_to_str`` parity (mytile/mytile.cc:1416): render a
    native pipeline back to the DDL CSV, options included — what the
    discovery handler prints into SHOW CREATE TABLE
    (mytile-discovery.cc:249-267)."""
    parts = []
    for fid, meta in filters or []:
        name = _FILTER_ID_TO_NAME.get(fid, f"FILTER_{fid}")
        if meta:
            if fid in _COMPRESSOR_ENUM:
                lv = _comp_level(fid, meta)
                if lv >= 0:  # -1 = codec default: no suffix (the
                    name += f"={lv}"  # reference prints defaults too,
                    # but its own fixtures carry -1 everywhere)
            elif fid in (7, _F_POSDELTA) and len(meta) >= 4:
                (w,) = struct.unpack_from("<I", meta, 0)
                name += f"={w}"
            elif fid == _F_SCALE_FLOAT and len(meta) >= 24:
                factor, offset, bw = struct.unpack_from("<ddQ", meta, 0)
                name += f"=({bw}-{factor:g}-{offset:g})"
        parts.append(name)
    return ",".join(parts)


def show_create_native_array(array_dir: str, name: str = None) -> str:
    """Assisted discovery over a REAL on-disk array: synthesize the
    CREATE TABLE the reference's discovery handler would print
    (mytile-discovery.cc:54-473), with every field's actual filter
    pipeline rendered via filter_list_to_str parity — including arrays
    this engine never wrote."""
    schema = parse_array_schema(_schema_path(array_dir))
    name = name or os.path.basename(array_dir.rstrip("/"))
    lines = [f"CREATE TABLE `{name}` ("]
    cols = []
    for d in schema.dims:
        dt = _DT.get(d.dtype_id, ("?",))[0]
        opts = [f"`{d.name}` {dt} NOT NULL dimension=1"]
        if d.domain is not None:
            opts.append(f"lower_bound='{d.domain[0]}'")
            opts.append(f"upper_bound='{d.domain[1]}'")
        if d.extent is not None:
            opts.append(f"tile_extent='{d.extent}'")
        if d.filters:
            opts.append(f"filters='{native_filters_to_csv(d.filters)}'")
        cols.append("  " + " ".join(opts))
    for a in schema.attrs:
        dt = _DT.get(a.dtype_id, ("?",))[0]
        null_sql = "" if not a.nullable else " NULL"
        extra = ""
        if a.filters:
            extra = f" filters='{native_filters_to_csv(a.filters)}'"
        cols.append(f"  `{a.name}` {dt}{null_sql}{extra}")
    pk = ", ".join(f"`{d.name}`" for d in schema.dims)
    cols.append(f"  PRIMARY KEY ({pk})")
    lines.append(",\n".join(cols))
    tail = (
        f") uri='{array_dir}' array_type='{schema.array_type}'"
        f" capacity={schema.capacity}"
    )
    for opt, fl in (
        ("coordinate_filters", schema.coords_filters),
        ("offset_filters", schema.offsets_filters),
        ("validity_filters", getattr(schema, "validity_filters", None)),
    ):
        if fl:
            tail += f" {opt}='{native_filters_to_csv(fl)}'"
    lines.append(tail)
    return "\n".join(lines)


# --- per-fragment attribute BLOOM filters (engine scale extension) ------------
# The v11+ min/max fragment stats refute RANGE predicates; equality on a
# high-cardinality attribute (doc ids, hashes, URLs) almost never falls
# outside a fragment's [min,max], so point lookups still touch every
# fragment.  An opt-in per-fragment Bloom filter closes that: ~1.2
# bytes/cell at 1% FPP buys provable fragment skips for `=` conjuncts —
# at 100 TB a needle query reads the handful of fragments that MAY hold
# the key instead of all of them.  Engine extension (no reference
# analog; real TileDB readers ignore the sidecar file), same sidecar
# style as the repo's R-tree/stats tiles: a generic-tile container
# `__bloom.tdb` inside the fragment directory.

_BLOOM_FILE = "__bloom.tdb"
_BLOOM_K = 7
_BLOOM_BITS_PER_CELL = 9.585  # ~1% FPP at k=7
_BLOOM_META_KEY = "__engine:bloom_attrs"


def bloom_cell_bytes(v, dtype_id: int) -> Optional[bytes]:
    """Canonical hash encoding of one cell — DTYPE-driven so the writer
    (column values) and the reader (a predicate literal, possibly of a
    sibling python type: int 5 probing a float64 column) encode
    identical bytes.  None (NULL) returns None: a NULL cell fails every
    `=` conjunct under 3VL, so it never enters the filter."""
    if v is None:
        return None
    try:
        if dtype_id in (2, 3):  # float family → one canonical width
            return struct.pack("<d", float(v))
        if dtype_id in (4, 11, 12, 13, 14, 15, 16, 42):
            # string family → CANONICAL utf-8 (both the writer's column
            # values and the reader's probe literal are python str, so
            # the storage codec of UTF-16/32 attrs never enters the hash)
            return v.encode("utf-8") if isinstance(v, str) else None
        if dtype_id in (39, 41):  # blob / WKB → raw bytes
            return bytes(v) if isinstance(v, (bytes, bytearray)) else None
        # integer family (incl. datetime ticks, bool): 64-bit LE
        return struct.pack("<q", int(v))
    except (TypeError, ValueError, OverflowError, AttributeError):
        return None  # lists / exotic cells: not bloom-indexable


def _bloom_hashes(data: bytes) -> tuple[int, int]:
    import hashlib  # noqa: PLC0415

    d = hashlib.blake2b(data, digest_size=16, key=b"tmspark-bloom").digest()
    return (
        int.from_bytes(d[:8], "little"),
        int.from_bytes(d[8:], "little") | 1,  # odd: full-period stride
    )


def _build_bloom(vals, dtype_id: int):
    """(m_bits, k, n_set, bitset bytes) over the non-NULL cells, or
    None when no cell is bloom-indexable."""
    import numpy as np  # noqa: PLC0415

    encs = []
    for v in vals:
        b = bloom_cell_bytes(v, dtype_id)
        if b is not None:
            encs.append(b)
    if not encs:
        return None
    m = max(64, ((int(len(encs) * _BLOOM_BITS_PER_CELL) + 63) // 64) * 64)
    bits = np.zeros(m // 8, dtype=np.uint8)
    # per-cell blake2b stays (stable across library versions — the
    # sidecar persists, so the hash family must never drift), but the
    # k probe indexes and bit sets are one vectorized pass
    h1s = np.empty(len(encs), dtype=np.uint64)
    h2s = np.empty(len(encs), dtype=np.uint64)
    import hashlib  # noqa: PLC0415

    blake = hashlib.blake2b
    fb = int.from_bytes
    for j, b in enumerate(encs):
        d = blake(b, digest_size=16, key=b"tmspark-bloom").digest()
        h1s[j] = fb(d[:8], "little")
        h2s[j] = fb(d[8:], "little") | 1
    ks = np.arange(_BLOOM_K, dtype=np.uint64)
    idx = (h1s[:, None] + ks[None, :] * h2s[:, None]) % np.uint64(m)
    flat = idx.ravel()
    np.bitwise_or.at(
        bits, (flat >> np.uint64(3)).astype(np.int64),
        np.left_shift(
            np.uint8(1), (flat & np.uint64(7)).astype(np.uint8)
        ),
    )
    return m, _BLOOM_K, len(encs), bits.tobytes()


def write_fragment_bloom(
    frag: str, schema: NativeSchema, columns: dict, attrs
) -> Optional[str]:
    """Emit the fragment's `__bloom.tdb` sidecar for the named attrs.
    Layout (generic-tile payload): [u32 n_fields] then per field
    [u32 name_len][name][u64 m_bits][u8 k][u64 n_set][bitset].
    Enum-linked attrs are skipped (their columns hold ordinals while
    read-side conditions compare labels)."""
    payload = struct.pack("<I", 0)
    n_fields = 0
    body = b""
    for a in schema.attrs:
        if a.name not in attrs or a.name not in columns:
            continue
        if getattr(a, "enumeration", None):
            continue
        built = _build_bloom(columns[a.name], a.dtype_id)
        if built is None:
            continue
        m, k, n_set, bits = built
        nb = a.name.encode()
        body += struct.pack("<I", len(nb)) + nb
        body += struct.pack("<QBQ", m, k, n_set) + bits
        n_fields += 1
    if not n_fields:
        return None
    payload = struct.pack("<I", n_fields) + body
    path = os.path.join(frag, _BLOOM_FILE)
    _write_generic_tile(path, payload)
    return path


def set_bloom_attrs(array_dir: str, attrs) -> None:
    """Persist the array's bloom-attr list as an (engine-namespaced)
    array-metadata entry — every subsequent fragment write reads it and
    emits the sidecar (the CREATE-option surface)."""
    write_array_metadata(array_dir, {_BLOOM_META_KEY: ",".join(attrs)})


def bloom_attrs_of(array_dir: str) -> list[str]:
    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        read_array_metadata,
    )

    try:
        raw = read_array_metadata(array_dir).get(_BLOOM_META_KEY)
    except (OSError, ValueError):
        return []
    return [a for a in str(raw or "").split(",") if a]
