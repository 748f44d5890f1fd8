from __future__ import annotations

import os

import pytest

from tiledb_mariadb_spark.reference_fixtures import missing

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from tiledb_mariadb_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "12g")
    spark = get_spark("tiledb_mariadb_spark-tests")
    yield spark


@pytest.fixture(scope="session")
def duck():
    from tiledb_mariadb_spark.plans.oracle import duckdb_connection

    con = duckdb_connection(SF_DIR)
    yield con
    con.close()


def needs_fixtures(*paths: str):
    """Skip mark for a test that reads the reference fixtures at ``paths``
    (see tiledb_mariadb_spark/reference_fixtures.py); the reason names
    each directory that is not there."""
    absent = missing(paths)
    return pytest.mark.skipif(
        bool(absent), reason=f"reference fixture not present: {', '.join(absent)}"
    )
