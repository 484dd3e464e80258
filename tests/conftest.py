"""Shared fixtures: one tuned SparkSession per test run, one DuckDB
connection with the fixture tables registered as views (mirroring the
driver's oracle harness), both at sf0.001 for speed.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from unity_to_bigquery_spark.catalog import TABLE_NAMES
from unity_to_bigquery_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def built_queries():
    """``{name: (schema, physical plan string)}`` of the declared
    queries built so far this session, the plan string taken before the
    query first ran (running it turns its adaptive parts and cached
    relations into their final form). Building a declared query
    executes its demo body (the lakehouse/index demos commit state
    before returning a plan), so a pass over all 335 queries costs
    minutes at sf0.001: test_oracle records each build here and the
    whole-inventory audits in test_plans read them instead of running
    every demo body again."""
    return {}


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    yield con
    con.close()
