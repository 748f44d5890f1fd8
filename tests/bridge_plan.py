"""Test helpers for the ``tiledb_agg`` scan planner: run a bridge
command (``tools/jvm_bridge.py``) in this process and read its reply,
so a test asserts the split plan every scan of the format runs."""

import contextlib
import io
import json

from tiledb_mariadb_spark.tools import jvm_bridge


def bridge_stdout(*argv) -> bytes:
    """stdout of one bridge command (its exit code 0 asserted)."""
    out = io.TextIOWrapper(io.BytesIO())
    with contextlib.redirect_stdout(out):
        assert jvm_bridge.main(list(argv)) == 0
        out.flush()
        return out.buffer.getvalue()


def splits(uri, *flags, conds=None) -> list:
    """The ``splits`` reply's plan for a scan of ``uri``: one entry per
    split, each a list of per-dim ``[lo, hi]``; ``[]`` plans nothing."""
    argv = ["splits", "--uri", uri, *flags]
    if conds is not None:
        argv += ["--conditions", json.dumps(conds)]
    reply = json.loads(bridge_stdout(*argv))
    assert reply["ok"], reply
    return reply["splits"]
