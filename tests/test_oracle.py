"""Default-tier oracle gate: every declared ``queries()`` entry against
its DuckDB ``oracle_sql()`` twin at sf0.001, through
``streamtasks_spark.oracle.certify`` (``compare`` + ``audit_types``).

A compare over an empty result proves nothing, so the set of queries
that return no rows at sf0.001 is pinned, and those queries are also
certified at sf0.01, where they return rows. A query whose result goes
empty at sf0.001 fails here by name."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from streamtasks_spark.oracle import certify, duck_conn

SF_DIR = "/root/testdata/sf0.001"
SF_ROWS_DIR = "/root/testdata/sf0.01"
QUERIES = list(entrymod.queries())
ORACLES = entrymod.oracle_sql()
EMPTY_AT_SF_DIR = ["q7_volume_shipping", "set_ops"]


def _rows(con, name: str) -> int:
    return con.execute(f"SELECT count(*) FROM ({ORACLES[name]})").fetchone()[0]


@pytest.fixture(scope="module")
def duck():
    con = duck_conn(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_oracle(spark, duck, name):
    try:
        problems = certify(spark, duck, name, SF_DIR)
    finally:
        spark.catalog.clearCache()
    assert problems == [], "\n".join(problems)


def test_only_the_known_queries_are_empty_at_sf0001(duck):
    # certify already proves Spark and DuckDB row counts equal, so the
    # oracle's count stands for both engines
    assert sorted(n for n in QUERIES if _rows(duck, n) == 0) == EMPTY_AT_SF_DIR


@pytest.mark.parametrize("name", EMPTY_AT_SF_DIR)
def test_empty_query_matches_oracle_where_it_has_rows(spark, name):
    con = duck_conn(SF_ROWS_DIR)
    try:
        assert _rows(con, name) > 0
        problems = certify(spark, con, name, SF_ROWS_DIR)
    finally:
        con.close()
        spark.catalog.clearCache()
    assert problems == [], "\n".join(problems)
