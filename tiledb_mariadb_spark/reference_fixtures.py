"""Where the reference repo's committed TileDB arrays are read from.

The MyTile reference (TileDB-MariaDB) commits its test arrays under
``mysql-test/mytile/test_data``.  The decoder's parity tests and the
fixture-backed suite specs read those bytes and check them against the
mtr goldens.  They cannot be regenerated without libtiledb, and arrays
made by this package's own writer would make the check circular, so
every reader derives its path from :data:`TEST_DATA` and checks that the
path exists before reading (``QuerySpec.needs``, the tests' skip marks).
"""

from __future__ import annotations

import os
from collections.abc import Iterable

TEST_DATA = "/root/reference/mysql-test/mytile/test_data"
TILEDB_ARRAYS = f"{TEST_DATA}/tiledb_arrays"


def missing(paths: Iterable[str]) -> list[str]:
    """The fixture directories among ``paths`` that do not exist."""
    return [p for p in paths if not os.path.isdir(p)]
