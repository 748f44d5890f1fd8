"""Native-format encryption at rest (AES-256-GCM) — create/write/read
round-trips, negative key cases, metadata/stat tiles sealed, span reads,
and the no-persistence guarantee.

Parity target: mytile/ha_mytile.cc:75 (encryption_key table option),
792-795 (open with AES_256_GCM), 817-820 (create), and the negative
cases of mysql-test/mytile/t/encryption.test (wrong/missing key fails,
key on an unencrypted array fails).
"""

import os
import struct

import pytest

from tiledb_mariadb_spark.sources import tiledb_native_crypto as crypto
from tiledb_mariadb_spark.sources.tiledb_native import (
    NativeAttr,
    NativeDim,
    count_native_array,
    fragment_attr_stats,
    open_encryption,
    parse_array_schema,
    parse_rtree_leaf_mbrs,
    read_array_metadata,
    read_byte_span,
    read_native_array,
    _schema_path,
)
from tiledb_mariadb_spark.sources.tiledb_native_write import (
    consolidate_native_array,
    create_native_array,
    evolve_native_schema,
    vacuum_native_array,
    write_array_metadata,
    write_delete_condition,
    write_native_fragment,
)

from .native_model import range_rows

KEY = b"0123456789abcdef0123456789abcdef"


@pytest.fixture(autouse=True)
def _clean_registry():
    yield
    crypto._KEYS.clear()


def _mk(tmp_path, name="arr", **kw):
    d = str(tmp_path / name)
    create_native_array(
        d,
        [NativeDim("d0", 1, 1, (0, 10**6), 1000)],
        [
            NativeAttr("a0", 1, 1, False, 0),
            NativeAttr("s0", 12, 0xFFFFFFFF, True, ""),
        ],
        compressor="zstd",
        encryption_key=KEY,
        **kw,
    )
    return d


def _cols(n=100):
    return {
        "d0": list(range(n)),
        "a0": [i * 7 for i in range(n)],
        "s0": [None if i % 10 == 0 else f"s{i}" for i in range(n)],
    }


def test_encrypted_roundtrip_v19(tmp_path):
    d = _mk(tmp_path)
    schema = parse_array_schema(_schema_path(d))
    assert schema.encryption == crypto.AES_256_GCM
    write_native_fragment(d, _cols(), version=19)
    s2, rows = read_native_array(d)
    assert len(rows) == 100
    assert rows[1] == (1, 7, "s1")
    assert rows[10][2] is None  # validity tile decrypts too
    # projection + range through the O(split) reader
    names, r = range_rows(d, ranges=[(10, 20)], columns=["a0"])
    assert names == ["d0", "a0"] and len(r) == 11


def test_wrong_and_missing_key(tmp_path):
    d = _mk(tmp_path)
    write_native_fragment(d, _cols(5), version=19)
    crypto._KEYS.clear()  # simulate a fresh process
    with pytest.raises(ValueError, match="encrypted"):
        read_native_array(d)
    with pytest.raises(ValueError, match="wrong encryption key"):
        read_native_array(d, encryption_key=b"x" * 32)
    # correct key recovers
    _, rows = read_native_array(d, encryption_key=KEY)
    assert len(rows) == 5


def test_key_on_unencrypted_array_rejected(tmp_path):
    d = str(tmp_path / "plain")
    create_native_array(
        d, [NativeDim("d0", 1, 1, (0, 100), 10)],
        [NativeAttr("a0", 1, 1, False, 0)],
    )
    with pytest.raises(ValueError, match="not encrypted"):
        read_native_array(d, encryption_key=KEY)
    # and the array still opens cleanly without one
    write_native_fragment(d, {"d0": [1], "a0": [2]})
    _, rows = read_native_array(d)
    assert rows == [(1, 2)]


def test_key_must_be_32_bytes(tmp_path):
    with pytest.raises(ValueError, match="32 bytes"):
        create_native_array(
            str(tmp_path / "a"), [NativeDim("d0", 1, 1, (0, 9), 1)],
            [NativeAttr("a0", 1, 1, False, 0)], encryption_key=b"short",
        )


def test_key_and_plaintext_never_on_disk(tmp_path):
    d = _mk(tmp_path)
    write_native_fragment(d, _cols(), version=19)
    write_array_metadata(d, {"owner": "alice"})
    blob = b""
    for root, _dirs, files in os.walk(d):
        for f in files:
            blob += open(os.path.join(root, f), "rb").read()
    assert KEY not in blob
    assert b"s55" not in blob  # var-string cell
    assert b"alice" not in blob  # array metadata value
    # int attr cells (a0 = i*7 ascending) must not appear as a plain run
    assert struct.pack("<3q", 0, 7, 14) not in blob


def test_metadata_sections_sealed_but_usable(tmp_path):
    d = _mk(tmp_path)
    frag = write_native_fragment(d, _cols(), version=19)
    schema = parse_array_schema(_schema_path(d))
    st = fragment_attr_stats(frag, schema)
    assert st["a0"] == {"min": 0, "max": 693, "sum": 34650}
    mbrs = parse_rtree_leaf_mbrs(frag, schema)
    assert mbrs and mbrs[0][0] == (0, 99)
    assert count_native_array(d) == 100
    # without the key the same metadata is unreadable, not wrong
    crypto._KEYS.clear()
    assert fragment_attr_stats(frag, schema) is None
    assert parse_rtree_leaf_mbrs(frag, schema) is None


def test_span_read_decrypts_only_selected_chunks(tmp_path):
    d = _mk(tmp_path)
    frag = write_native_fragment(d, _cols(100), version=19)
    # a0 lives in a0-positional file; whole file decode == span decode
    schema = parse_array_schema(_schema_path(d))
    path = os.path.join(frag, "a1.tdb" if schema.attrs[0].name != "a0" else "a0.tdb")
    if not os.path.isfile(path):
        path = os.path.join(frag, "a0.tdb")
    raw = read_byte_span(path, 0, 8, filters=schema.attrs[0].filters, elem=8)
    assert struct.unpack("<q", raw)[0] == 0


def test_lifecycle_ops_under_encryption(tmp_path):
    d = _mk(tmp_path, name="life")
    write_native_fragment(d, {"d0": [1, 2, 3], "a0": [10, 20, 30],
                              "s0": ["a", "b", "c"]}, version=19)
    write_native_fragment(d, {"d0": [4, 5], "a0": [40, 50],
                              "s0": ["d", "e"]}, version=19)
    write_delete_condition(d, [("a0", "=", 20)])
    _, rows = read_native_array(d)
    assert sorted(r[0] for r in rows) == [1, 3, 4, 5]
    assert consolidate_native_array(d)
    assert vacuum_native_array(d) >= 1
    _, rows = read_native_array(d)
    assert sorted(r[0] for r in rows) == [1, 3, 4, 5]
    write_array_metadata(d, {"k": "7"})
    assert read_array_metadata(d) == {"k": "7"}


def test_evolution_under_encryption(tmp_path):
    d = str(tmp_path / "evo")
    create_native_array(
        d, [NativeDim("d0", 1, 1, (0, 100), 10)],
        [NativeAttr("a0", 1, 1, False, 0)], encryption_key=KEY,
    )
    write_native_fragment(d, {"d0": [1], "a0": [10]}, version=5)
    evolve_native_schema(
        d, add_attrs=[NativeAttr("b0", 1, 1, False, struct.pack("<q", -1))]
    )
    write_native_fragment(d, {"d0": [2], "a0": [20], "b0": [200]}, version=5)
    _, rows = read_native_array(d)
    assert sorted(rows) == [(1, 10, -1), (2, 20, 200)]


def test_generic_tile_header_byte(tmp_path):
    d = _mk(tmp_path, name="hdr")
    assert crypto.generic_tile_encryption(_schema_path(d)) == 1
    # ciphertext really is unparseable: read the schema with no key
    crypto._KEYS.clear()
    with pytest.raises(ValueError, match="encrypted"):
        parse_array_schema(_schema_path(d))


def test_open_encryption_registers_for_children(tmp_path):
    d = _mk(tmp_path, name="reg")
    write_native_fragment(d, _cols(3), version=19)
    crypto._KEYS.clear()
    assert open_encryption(d, KEY) == KEY
    # child paths resolve through the prefix registry
    frag = [f for f in os.listdir(os.path.join(d, "__fragments"))][0]
    child = os.path.join(d, "__fragments", frag, "a0.tdb")
    assert crypto.key_for_path(child) == KEY


def test_tampered_ciphertext_detected(tmp_path):
    """GCM is authenticated: flipping ONE payload byte in any data file
    of an encrypted array fails the read loudly — corruption can never
    silently decode to wrong values."""
    d = _mk(tmp_path, name="tamper")
    write_native_fragment(d, _cols(50), version=19)
    # locate a data file and flip a byte inside a chunk payload (skip
    # the first 32 bytes so chunk framing itself stays parseable)
    frag_root = os.path.join(d, "__fragments")
    frag = os.path.join(frag_root, os.listdir(frag_root)[0])
    target = os.path.join(frag, "a0.tdb")
    blob = bytearray(open(target, "rb").read())
    blob[len(blob) // 2] ^= 0xFF
    open(target, "wb").write(bytes(blob))
    with pytest.raises(ValueError, match="wrong encryption key|chunk"):
        read_native_array(d)


def test_encrypt_chunk_roundtrip_fuzz():
    """Property: encrypt_chunk/decrypt_chunk round-trip any payload size
    (incl. empty), ciphertext length equals plaintext length, a fresh
    nonce appears per call, and the wrong key always fails."""
    import random

    from tiledb_mariadb_spark.sources.tiledb_native_crypto import (
        META_TRAILER,
        decrypt_chunk,
        encrypt_chunk,
    )

    rng = random.Random(42)
    key, wrong = b"a" * 32, b"b" * 32
    seen_nonces = set()
    for size in (0, 1, 7, 64, 1024, 65536, rng.randint(2, 100_000)):
        payload = rng.randbytes(size)
        ct, trailer = encrypt_chunk(key, payload)
        assert len(ct) == len(payload)
        assert len(trailer) == META_TRAILER
        assert trailer[:12] not in seen_nonces
        seen_nonces.add(trailer[:12])
        meta = b"somefiltermeta" + trailer
        fmeta, pt = decrypt_chunk(key, ct, meta)
        assert pt == payload and fmeta == b"somefiltermeta"
        with pytest.raises(ValueError, match="wrong encryption key"):
            decrypt_chunk(wrong, ct, meta)
        if size:  # tamper one ciphertext byte
            bad = bytearray(ct)
            bad[size // 2] ^= 1
            with pytest.raises(ValueError, match="wrong encryption key"):
                decrypt_chunk(key, bytes(bad), meta)


def test_concurrent_encrypted_writers(tmp_path):
    """TileDB's multi-writer model under encryption: N threads append
    fragments to one encrypted array with no coordination; every row
    lands, every fragment seals, the merged read is complete."""
    import threading

    d = str(tmp_path / "conc")
    create_native_array(
        d, [NativeDim("k", 1, 1, (0, 10**6), None)],
        [NativeAttr("v", 1, 1, False, None)],
        compressor="zstd", encryption_key=KEY,
    )
    errs = []

    def writer(i):
        try:
            keys = list(range(i * 1000, i * 1000 + 200))
            write_native_fragment(
                d, {"k": keys, "v": [k * 3 for k in keys]}, version=19
            )
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    _, rows = read_native_array(d)
    assert len(rows) == 8 * 200
    assert all(r[1] == r[0] * 3 for r in rows)
