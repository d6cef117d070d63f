"""Every queries() entry of the driver contract against its DuckDB
oracle_sql() at sf0.01, with tools/verify_queries.py's comparison: same
columns, same row count, order-insensitively equal values."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from tools.verify_queries import SF_DIR, compare, open_oracle

ORACLES = entry.oracle_sql()


@pytest.fixture(scope="module")
def oracle():
    con = open_oracle()
    yield con
    con.close()


@pytest.mark.parametrize("name", list(entry.queries()))
def test_query_matches_oracle(spark, oracle, name):
    assert name in ORACLES, f"{name} has no oracle"
    got = entry.queries()[name](spark, SF_DIR).toPandas()
    compare(got, oracle.sql(ORACLES[name]).df())
