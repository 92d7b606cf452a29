"""Q1-Q30 oracle parity (SURVEY.md §2.4) — the local pre-flight for the
driver's CORRECTNESS gate.

Every registered query runs through MetaFrame at sf0.001 and must match its
DuckDB oracle on row count, column names, and order-insensitive value hash.
Set SPARK_GRAFT_ORACLE_SF=/root/testdata/sf0.01 to re-run at the driver's
correctness scale.
"""

import os

import pytest

from metaframe_spark.queries import ORACLE, QUERIES
from metaframe_spark.session import persist_scope

from oracle_harness import compare, duck_connection

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_DIR)
    yield con
    con.close()


def test_queries_and_oracle_align():
    assert list(QUERIES) == list(ORACLE)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, cached_plans, name):
    """The entry matches its oracle, and every plan it caches is released
    by the persist_scope around construction and the consuming action."""
    n_plans = cached_plans()
    with persist_scope(spark):
        df = QUERIES[name](spark, SF_DIR)
        res = compare(df, duck, ORACLE[name])
    assert cached_plans() == n_plans, f"{name} left cached plans behind"
    assert res["rows_match"], res
    assert res["cols_match"], res
    assert res["hash_match"], res
