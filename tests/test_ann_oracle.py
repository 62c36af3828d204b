"""Default-tier oracle gate for the ANN family: every ``ann_*`` query
of ``queries()`` against its DuckDB oracle at sf0.001, through the same
byte-level comparator as ``scripts/check_oracle.py`` (``compare`` +
``audit_types``). The ANN tiers share one search pipeline (coarse ×
code × exact re-rank) and one index lifecycle in
``llmdata/similarity.py``; the ``oracle_*_sql`` builders are its
independent reference, so a pipeline change that moves any tier's
answer fails here in the default run."""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))
sys.path.insert(0, REPO)
from check_oracle import audit_types, compare, duck_conn  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
ANN_QUERIES = sorted(n for n in entrymod.queries() if n.startswith("ann_"))


def test_ann_family_is_the_eleven_tiers():
    assert len(ANN_QUERIES) == 11, ANN_QUERIES


@pytest.fixture(scope="module")
def duck():
    con = duck_conn(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", ANN_QUERIES)
def test_ann_query_matches_oracle(spark, duck, name):
    oracle = entrymod.oracle_sql()[name]
    sdf = entrymod.queries()[name](spark, SF_DIR).toPandas()
    odf = duck.execute(oracle).df()
    duck_types = {
        row[0]: row[1]
        for row in duck.execute(f"DESCRIBE ({oracle})").fetchall()
    }
    problems = audit_types(sdf, odf, duck_types) + compare(name, sdf, odf)
    assert problems == [], "\n".join(problems)
    assert len(sdf) > 0
