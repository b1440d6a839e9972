from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from datafusion_umami_spark.session import get_spark

    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def duck():
    from datafusion_umami_spark.oracle import duckdb_connect

    con = duckdb_connect(SF_DIR)
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(autouse=True)
def _fresh_view_memo():
    """register_views (tables.py) keeps a view whose key (file
    identity, spread flag, confs) is unchanged since it installed it,
    and re-creates only the others; that assumes nobody else touched its
    10 view names in between.  Tests DO shadow those names with
    micro-data views (test_fuzz), so every test starts and ends with the
    install record invalidated — within one test the record only sees
    its own registrations."""
    from datafusion_umami_spark.tables import invalidate_view_memo

    invalidate_view_memo()
    yield
    invalidate_view_memo()
