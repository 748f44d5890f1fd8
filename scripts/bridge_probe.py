#!/usr/bin/env python
"""JVM bridge probe: one-shot ``jvm_bridge agg`` spawns against one
resident ``jvm_bridge serve`` process answering the same requests.

Usage: bridge_probe.py [n_requests] [cells]   (default 20 1000000)

Builds a scratch sparse array shaped like perfbench native_mixed's read
array (``cells`` cells in 8 range-disjoint zstd fragments, gapped int64
keys, a bloom-filtered int64 ``v``, int32 ``q``, float64 ``x``), then
sends ``n_requests`` windowed ``agg`` requests with the aggregate and
filter shape the benchmark's SQL pushes (COUNT(*), SUM(q), MIN(x),
MAX(x) over ``k BETWEEN lo AND hi``) two ways, and prints each way's
median wall time and the number of processes it started.  The process
count is the check that host-speed drift cannot touch: n_requests
spawns against 1.  Both ways must return identical values.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import struct
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402

from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: E402
    NativeAttr,
    NativeDim,
)
from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: E402
    create_native_array,
    write_native_fragment,
)

FRAGMENTS = 8
BRIDGE = [sys.executable, "-m", "tiledb_mariadb_spark.tools.jvm_bridge"]
ENV = dict(os.environ, PYTHONPATH=ROOT)


def build(uri: str, cells: int) -> np.ndarray:
    rng = np.random.default_rng(1)
    per = cells // FRAGMENTS
    span = per * 2
    create_native_array(
        uri,
        [NativeDim("k", 1, 1, (0, 2**40), 4096)],
        [NativeAttr("v", 1, 1, False, None),
         NativeAttr("q", 0, 1, False, None),
         NativeAttr("x", 3, 1, False, None)],
        compressor="zstd", bloom_attrs=["v"],
    )
    keys = []
    for f in range(FRAGMENTS):
        k = np.sort(rng.choice(span, per, replace=False)) + f * span
        keys.append(k)
        write_native_fragment(
            uri,
            {"k": k.astype(np.int64),
             "v": rng.integers(0, 10**12, per, dtype=np.int64),
             "q": rng.integers(0, 1000, per, dtype=np.int32),
             "x": rng.random(per)},
            ts=1 + f, version=19,
        )
    return np.concatenate(keys)


def requests(uri: str, keys: np.ndarray, n: int) -> list[list[str]]:
    rng = np.random.default_rng(2)
    out = []
    for _ in range(n):
        w = int(rng.integers(len(keys) // 20, len(keys) // 2))
        i = int(rng.integers(0, len(keys) - w))
        conds = [["k", ">=", int(keys[i])], ["k", "<=", int(keys[i + w - 1])]]
        out.append(["agg", "--uri", uri, "--aggs", "count;sum:q;min:x;max:x",
                    "--conditions", json.dumps(conds)])
    return out


def one_shot(reqs) -> tuple[list[float], list[bytes], int]:
    times, replies = [], []
    for argv in reqs:
        t0 = time.perf_counter()
        r = subprocess.run(BRIDGE + argv, env=ENV, capture_output=True,
                           check=True)
        times.append(time.perf_counter() - t0)
        replies.append(r.stdout)
    return times, replies, len(reqs)


def _read_frame(f) -> bytes:
    (n,) = struct.unpack(">I", f.read(4))
    return f.read(n)


def resident(reqs) -> tuple[list[float], list[bytes], int]:
    p = subprocess.Popen(BRIDGE + ["serve"], env=ENV,
                         stdin=subprocess.PIPE, stdout=subprocess.PIPE)
    times, replies = [], []
    try:
        for argv in reqs:
            t0 = time.perf_counter()
            head = json.dumps(argv).encode()
            p.stdin.write(struct.pack(">I", len(head)) + head
                          + struct.pack(">I", 0))
            p.stdin.flush()
            out = b""
            while chunk := _read_frame(p.stdout):
                out += chunk
            status = json.loads(_read_frame(p.stdout))
            times.append(time.perf_counter() - t0)
            if status["rc"] != 0:
                raise RuntimeError(status["stderr"])
            replies.append(out)
    finally:
        p.stdin.close()
        p.wait()
    return times, replies, 1


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    cells = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    tmp = tempfile.mkdtemp(prefix="bridge_probe_")
    try:
        uri = os.path.join(tmp, "arr")
        reqs = requests(uri, build(uri, cells), n)
        print(f"{n} agg requests over {cells} cells in {FRAGMENTS} fragments")
        print("mode      | median_ms | first_ms | processes")
        got = {}
        for name, run in (("one-shot", one_shot), ("resident", resident)):
            times, replies, procs = run(reqs)
            got[name] = replies
            print(f"{name:9} | {statistics.median(times) * 1e3:9.1f} | "
                  f"{times[0] * 1e3:8.1f} | {procs}")
        if got["one-shot"] != got["resident"]:
            raise SystemExit("replies differ between the two modes")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
