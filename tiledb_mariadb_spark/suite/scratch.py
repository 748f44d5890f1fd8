"""Per-process scratch namespaces for write-path conformance specs.

Specs that exercise the write path (DDL round-trips, consolidation, IVF
index builds, streaming sinks) materialize small on-disk arrays under
``.tmp/`` at the root of the checkout (:func:`scratch_dir`, derived from
the package location the way ``scripts/`` finds the repo).  Those paths were previously keyed only on the
sf_dir hash, so two engine processes running the same spec concurrently
(e.g. the driver sim and pytest) raced on one array directory — a
consolidate/vacuum in one process deleted parquet files mid-scan in the
other.  Every scratch tag therefore embeds the writer's PID: processes
get disjoint namespaces (TileDB's own multi-writer model — independent
fragment sets, zero coordination), while intra-process reuse keeps the
idempotent overwrite-per-run behavior.

Disk stays bounded: the first tag() call in a process sweeps sibling
scratch entries whose embedded PID no longer has a live process.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil

_REPO = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def scratch_dir(name: str) -> str:
    """``.tmp/<name>`` under the root of this checkout."""
    return os.path.join(_REPO, ".tmp", name)


_ROOTS = (
    scratch_dir("tile_tables"),
    scratch_dir("ivf_index"),
    scratch_dir("exports"),
    scratch_dir("stream_cdc"),
    scratch_dir("stream_native"),
    os.path.join(_REPO, "spark-warehouse"),
)

# Catalog table names can't contain '-', so specs that feed tag() into
# saveAsTable use sql_tag() ('_p<pid>'); scrub accepts both spellings.
_PID_RE = re.compile(r"[-_]p(\d+)(?:\.|$)")
_scrubbed = False


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _scrub_dead() -> None:
    """Remove scratch entries owned by dead processes (best-effort)."""
    global _scrubbed
    if _scrubbed:
        return
    _scrubbed = True
    for root in _ROOTS:
        try:
            entries = os.listdir(root)
        except OSError:
            continue
        for name in entries:
            m = _PID_RE.search(name)
            if not m or _pid_alive(int(m.group(1))):
                continue
            path = os.path.join(root, name)
            try:
                if os.path.isdir(path):
                    shutil.rmtree(path, ignore_errors=True)
                else:
                    os.unlink(path)
            except OSError:
                pass


def tag(seed: str) -> str:
    """Deterministic-within-process scratch tag: md5(seed)[:8] + PID."""
    _scrub_dead()
    return f"{hashlib.md5(seed.encode()).hexdigest()[:8]}-p{os.getpid()}"


def sql_tag(seed: str) -> str:
    """tag() variant safe for SQL identifiers (no hyphens)."""
    return tag(seed).replace("-", "_")
