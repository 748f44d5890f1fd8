"""Every SQL-expressible suite query must hash-match its DuckDB oracle —
the same gate the driver applies (row count + columns + order-insensitive
value hash), run at sf0.001 for speed.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR, needs_fixtures
from tiledb_mariadb_spark.plans.oracle import compare
from tiledb_mariadb_spark.suite import all_specs

SPECS = all_specs()


def _params(specs):
    """One param per spec, skipped where the fixtures it needs are absent."""
    return [pytest.param(s, marks=needs_fixtures(*s.needs)) for s in specs]


ORACLE_SPECS = _params(s for s in SPECS.values() if s.oracle is not None)
ROWS_ONLY_SPECS = _params(s for s in SPECS.values() if s.oracle is None)


@pytest.mark.parametrize("spec", ORACLE_SPECS, ids=lambda s: s.name)
def test_oracle_match(spec, spark, duck):
    res = compare(spec, spark, SF_DIR, con=duck)
    assert res.ok, (
        f"{spec.name}: rows {res.spark_rows} vs {res.oracle_rows}, "
        f"cols_match={res.columns_match} ({res.spark_cols} vs {res.oracle_cols}), "
        f"hash_match={res.hash_match}"
    )


@pytest.mark.parametrize("spec", ROWS_ONLY_SPECS, ids=lambda s: s.name)
def test_rows_only_runs(spec, spark):
    df = spec.spark(spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(e.oracle_sql()) <= set(e.queries())
