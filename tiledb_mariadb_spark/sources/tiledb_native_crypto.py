"""Native-format encryption at rest — AES-256-GCM, per chunk.

Parity target: the reference opens and creates AES_256_GCM-encrypted
arrays at the storage-format level (mytile/ha_mytile.cc:75
HA_TOPTION_STRING("encryption_key"), ha_mytile.cc:792-795 open /
817-820 create → ``sm.encryption_type = AES_256_GCM``; negative cases
in mysql-test/mytile/t/encryption.test).  This module is the format
tier's key plumbing; the parquet-fragment tier has its own sealing in
``operators/encryption.py``.

On-disk scheme (mirrors how TileDB's EncryptionAES256GCM filter rides
the chunk format: IV + tag live in the chunk's filter-metadata section,
ciphertext replaces the filtered payload at IDENTICAL length):

- **generic tiles** (schema blobs, fragment metadata sections, array
  metadata, delete conditions): the header's ``encryption`` byte is 1
  (TILEDB_AES_256_GCM); each chunk of the chunked tile stores
  ``[...filter metadata][nonce 12][tag 16]`` as metadata and the GCM
  ciphertext of the filtered payload as data.  Chunk framing
  (orig/filtered/metadata sizes) stays plaintext, so seek-based walks
  and the size-era footer's offsets remain valid.
- **data tile files** (d<i>.tdb / a<i>.tdb / *_var / *_validity): same
  per-chunk scheme; whether a file is encrypted is governed by the
  array schema (an encrypted array encrypts EVERY fragment), exactly
  like libtiledb.  Because GCM ciphertext length equals plaintext
  length, tile offsets/sizes in fragment metadata are unchanged and
  sub-fragment ``read_byte_span`` reads stay O(split) — each chunk
  decrypts independently, so at 100 TB decrypt parallelism equals scan
  parallelism.
- the raw fragment-metadata FOOTER (offsets table, versions,
  non-empty domain) stays plaintext, matching libtiledb's unfiltered
  footer.

The key is 32 bytes (AES-256), held ONLY in process memory via a
path-keyed registry — never persisted, never logged.  Executors get it
through the pickled backend/task closure (each task registers before
decoding).  A wrong key fails GCM authentication loudly; a missing key
fails at schema open; a key supplied for an UNENCRYPTED array is
rejected (t/encryption.test's negative pair).
"""

from __future__ import annotations

import os
import struct
from typing import Optional, Union

from tiledb_mariadb_spark.operators.encryption import normalize_key

# tiledb_encryption_type_t (tiledb.h): 0 = NO_ENCRYPTION, 1 = AES_256_GCM
AES_256_GCM = 1
NONCE_LEN = 12
TAG_LEN = 16
META_TRAILER = NONCE_LEN + TAG_LEN  # appended to each chunk's metadata
_AAD = b"tiledb-native-chunk\x01"  # domain separation vs the parquet tier

# process-local registry: normalized array dir -> 32-byte key.  Never
# written anywhere; executors populate their own copy per task.
_KEYS: dict[str, bytes] = {}


def _norm(path: str) -> str:
    return os.path.realpath(os.path.abspath(path))


def set_encryption_key(array_dir: str, key: Union[str, bytes]) -> bytes:
    kb = normalize_key(key)
    _KEYS[_norm(array_dir)] = kb
    return kb


def clear_encryption_key(array_dir: str) -> None:
    _KEYS.pop(_norm(array_dir), None)


def clear_encryption_keys() -> None:
    """Forget every registered key (the resident JVM bridge runs this
    before each request it serves)."""
    _KEYS.clear()


def key_for_path(path: str) -> Optional[bytes]:
    """Longest registered array-dir prefix covering ``path`` (files of
    an array live under its directory; __schema/ and __fragments/
    children match by prefix)."""
    if not _KEYS:  # no keys registered (the common case): skip the
        return None  # realpath() syscall walk — it can't match anything
    p = _norm(path)
    best = None
    for d, k in _KEYS.items():
        if (p == d or p.startswith(d + os.sep)) and (
            best is None or len(d) > len(best[0])
        ):
            best = (d, k)
    return best[1] if best else None


def encrypt_chunk(key: bytes, payload: bytes) -> tuple[bytes, bytes]:
    """(ciphertext, nonce+tag 28B metadata trailer) for one filtered
    chunk payload.  len(ciphertext) == len(payload) — GCM keeps tile
    offsets/sizes valid."""
    from cryptography.hazmat.primitives.ciphers.aead import (  # noqa: PLC0415
        AESGCM,
    )

    nonce = os.urandom(NONCE_LEN)
    ct_tag = AESGCM(key).encrypt(nonce, bytes(payload), _AAD)
    return ct_tag[:-TAG_LEN], nonce + ct_tag[-TAG_LEN:]


def decrypt_chunk(key: bytes, payload: bytes, meta: bytes) -> tuple[bytes, bytes]:
    """Inverse of :func:`encrypt_chunk`: strips the 28-byte nonce+tag
    trailer from ``meta`` and returns (remaining filter metadata,
    plaintext payload).  GCM authentication failure = wrong key."""
    from cryptography.exceptions import InvalidTag  # noqa: PLC0415
    from cryptography.hazmat.primitives.ciphers.aead import (  # noqa: PLC0415
        AESGCM,
    )

    if len(meta) < META_TRAILER:
        raise ValueError("encrypted chunk missing nonce+tag metadata")
    nonce = meta[-META_TRAILER:-TAG_LEN]
    tag = meta[-TAG_LEN:]
    try:
        pt = AESGCM(key).decrypt(nonce, bytes(payload) + tag, _AAD)
    except InvalidTag:
        raise ValueError(
            "wrong encryption key (GCM authentication failed)"
        ) from None
    return meta[:-META_TRAILER], pt


def generic_tile_encryption(path_or_buf, off: int = 0) -> int:
    """The ``encryption`` byte of a generic-tile header (offset 29:
    version u32 + persisted u64 + tile_size u64 + datatype u8 +
    cell_size u64)."""
    if isinstance(path_or_buf, (bytes, bytearray, memoryview)):
        return struct.unpack_from("<B", path_or_buf, off + 29)[0]
    with open(path_or_buf, "rb") as f:
        f.seek(off + 29)
        return f.read(1)[0]
