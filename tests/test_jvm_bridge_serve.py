"""The resident bridge loop (``jvm_bridge serve``): framed requests on
stdin, framed replies plus a ``{rc, stderr}`` status frame on stdout.
These tests speak the wire directly, with no JVM, so they pin what the
Java pool relies on: one process answers many requests, each request is
isolated from the last, and stdin EOF ends the loop cleanly."""

from __future__ import annotations

import json
import os
import struct
import subprocess
import sys

import pyarrow as pa
import pytest

from tiledb_mariadb_spark.sources.tiledb_native import NativeAttr, NativeDim
from tiledb_mariadb_spark.sources.tiledb_native_write import (
    create_native_array,
    write_native_fragment,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KEY = "0123456789abcdef0123456789abcdef"


def _frame(b: bytes) -> bytes:
    return struct.pack(">I", len(b)) + b


class _Bridge:
    """One ``serve`` process and a client for its wire."""

    def __init__(self):
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "tiledb_mariadb_spark.tools.jvm_bridge",
             "serve"],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=subprocess.PIPE, env=dict(os.environ, PYTHONPATH=ROOT),
        )

    def _read_frame(self) -> bytes:
        (n,) = struct.unpack(">I", self.proc.stdout.read(4))
        return self.proc.stdout.read(n)

    def send(self, argv, payload: bytes = b"") -> None:
        msg = _frame(json.dumps(argv).encode())
        if payload:
            msg += _frame(payload)
        self.proc.stdin.write(msg + _frame(b""))
        self.proc.stdin.flush()

    def reply(self):
        out = b""
        while chunk := self._read_frame():
            out += chunk
        return out, json.loads(self._read_frame())

    def ask(self, argv, payload: bytes = b""):
        self.send(argv, payload)
        return self.reply()

    def close(self) -> int:
        self.proc.stdin.close()
        rc = self.proc.wait(timeout=60)
        self.proc.stdout.close()
        self.proc.stderr.close()
        return rc


@pytest.fixture
def bridge():
    b = _Bridge()
    yield b
    if b.proc.poll() is None:
        b.proc.kill()
        b.proc.wait()
    for f in (b.proc.stdin, b.proc.stdout, b.proc.stderr):
        f.close()


def _mk(tmp_path, name="arr", n=100, **kw):
    uri = str(tmp_path / name)
    create_native_array(
        uri,
        [NativeDim("k", 1, 1, (0, 10**6), None)],
        [NativeAttr("v", 3, 1, False, None)],
        **kw,
    )
    write_native_fragment(
        uri, {"k": list(range(n)), "v": [i * 0.5 for i in range(n)]},
        ts=10, version=19, **kw,
    )
    return uri


def _count(bridge, uri, *extra):
    out, st = bridge.ask(["agg", "--uri", uri, "--aggs", "count", *extra])
    assert st["rc"] == 0, st
    reply = json.loads(out)
    assert reply["ok"], reply
    return reply["values"][0]


def _rows(bridge, uri, *extra):
    out, st = bridge.ask(["rows", "--uri", uri, "--columns", '["k"]', *extra])
    assert st["rc"] == 0, st
    return sorted(pa.ipc.open_stream(out).read_all().column("k").to_pylist())


def test_serve_exits_zero_on_eof(tmp_path):
    """EOF before any request, and EOF after a few, both end the loop
    with exit status 0."""
    assert _Bridge().close() == 0
    uri = _mk(tmp_path)
    b = _Bridge()
    assert _count(b, uri) == 100
    assert _rows(b, uri) == list(range(100))
    assert b.close() == 0


def test_serve_status_carries_stderr(bridge, tmp_path):
    """A failing request replies a nonzero status with its stderr, and
    the process goes on serving."""
    out, st = bridge.ask(["rows", "--uri", str(tmp_path / "missing")])
    assert out == b"" and st["rc"] != 0
    assert "rows bridge" in st["stderr"] and "missing" in st["stderr"]
    out, st = bridge.ask(["nosuchcmd", "--uri", "x"])
    assert st["rc"] == 2 and "invalid choice" in st["stderr"]
    assert _count(bridge, _mk(tmp_path)) == 100


def test_serve_isolates_encryption_keys(bridge, tmp_path):
    """A key registered by one request is gone for the next: an
    unkeyed request on the same process cannot read the encrypted
    array."""
    uri = _mk(tmp_path, "enc", encryption_key=KEY)
    assert _count(bridge, uri, "--encryption-key", KEY) == 100
    out, st = bridge.ask(["agg", "--uri", uri, "--aggs", "count"])
    assert st["rc"] != 0 and "requires encryption_key" in st["stderr"]
    out, st = bridge.ask(["rows", "--uri", uri])
    assert st["rc"] != 0 and "requires encryption_key" in st["stderr"]
    out, st = bridge.ask(["schema", "--uri", uri])
    reply = json.loads(out)
    assert not reply["ok"] and "requires encryption_key" in reply["reason"]
    # planning fails the request too, instead of replying one
    # unbounded split that only the row scan would then reject
    out, st = bridge.ask(["splits", "--uri", uri])
    assert out == b"" and st["rc"] != 0
    assert "requires encryption_key" in st["stderr"]
    # the keyed request still works after the refusals
    assert _count(bridge, uri, "--encryption-key", KEY) == 100


def test_serve_sees_fragment_written_between_requests(bridge, tmp_path):
    """Decoder caches in the resident process never hide a fragment
    committed after an earlier request read the array."""
    uri = _mk(tmp_path)
    assert _count(bridge, uri) == 100
    assert _rows(bridge, uri) == list(range(100))
    write_native_fragment(
        uri, {"k": [500, 501], "v": [1.0, 2.0]}, ts=20, version=19,
    )
    assert _count(bridge, uri) == 102
    assert _rows(bridge, uri) == list(range(100)) + [500, 501]
    assert _count(bridge, uri, "--conditions", '[["k", ">=", 400]]') == 2


def test_serve_write_payload_and_abort(bridge, tmp_path):
    """``write`` rows ride payload frames and stage one fragment; a
    caller that dies mid-payload stages nothing, and the bridge exits
    instead of treating the cut as the end of the rows."""
    uri = _mk(tmp_path)
    frags = os.path.join(uri, "__fragments")
    before = set(os.listdir(frags))
    out, st = bridge.ask(
        ["write", "--uri", uri], b"[200, 1.5]\n[201, 2.5]\n"
    )
    assert st["rc"] == 0, st
    reply = json.loads(out)
    assert reply["ok"] and reply["staged"]
    assert set(os.listdir(frags)) - before == {reply["frag"]}
    out, st = bridge.ask(["commitfrags", "--uri", uri, "--frags",
                          json.dumps([reply["frag"]])])
    assert st["rc"] == 0 and json.loads(out)["committed"] == 1
    assert _count(bridge, uri) == 102
    # a second write whose caller dies before the payload's end frame
    staged = set(os.listdir(frags))
    bridge.proc.stdin.write(
        _frame(json.dumps(["write", "--uri", uri]).encode())
        + _frame(b"[300, 1.0]\n")
    )
    bridge.proc.stdin.close()
    assert bridge.proc.wait(timeout=60) != 0
    assert set(os.listdir(frags)) == staged


def test_splits_bytes_dim_is_one_unbounded_split(bridge, tmp_path):
    """Split bounds that JSON cannot carry (a bytes dimension) plan one
    unbounded split; the keyed split plan of a numeric array is a list
    of bounded ranges."""
    uri = str(tmp_path / "bdim")
    create_native_array(
        uri, [NativeDim("g", 39, 0xFFFFFFFF, None, None)],
        [NativeAttr("v", 1, 1, False, None)],
    )
    write_native_fragment(
        uri, {"g": [b"a", b"b", b"c"], "v": [1, 2, 3]}, ts=10, version=19,
    )
    out, st = bridge.ask(["splits", "--uri", uri])
    assert st["rc"] == 0, st
    assert json.loads(out)["splits"] == [None]
    out, st = bridge.ask(["splits", "--uri", _mk(tmp_path)])
    assert st["rc"] == 0, st
    splits = json.loads(out)["splits"]
    assert splits and all(s is not None for s in splits)
