"""Byte-level oracle-trap audit (streamtasks_spark/oracle.py).

The oracle certification compares Spark and DuckDB results down to the
bytes, so two traps that are value-identical still fail it: DuckDB
integer ``sum()`` returns HUGEINT (pandas float64) where Spark emits
int64, and DuckDB ``round()`` can emit -0.0 where Spark emits +0.0.
``audit_types`` must name both. These tests pin that with deliberately
broken frames — pure pandas/DuckDB, no Spark session needed. The
per-query certification itself is tests/test_oracle.py.
"""

from __future__ import annotations

import ast
import os
import sys

import duckdb
import pandas as pd
import pytest

from streamtasks_spark.oracle import audit_types

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _duck_frame_and_types(sql: str):
    con = duckdb.connect()
    odf = con.execute(sql).df()
    desc = con.execute(f"DESCRIBE ({sql})").fetchall()
    return odf, {row[0]: row[1] for row in desc}


def test_uncasted_integer_sum_is_flagged():
    # the r3 failure mode, reproduced: bare sum() of an integer
    sql = "SELECT sum(x) AS s FROM (SELECT unnest([1, 2, 3])::BIGINT AS x)"
    odf, duck_types = _duck_frame_and_types(sql)
    assert duck_types["s"] == "HUGEINT"
    assert odf["s"].dtype.kind == "f"  # pandas converts HUGEINT to float64
    sdf = pd.DataFrame({"s": pd.array([6], dtype="int64")})  # what Spark emits
    problems = audit_types(sdf, odf, duck_types)
    assert any("HUGEINT" in p for p in problems)
    assert any("dtype class differs" in p for p in problems)


def test_casted_integer_sum_is_clean():
    sql = (
        "SELECT CAST(sum(x) AS BIGINT) AS s "
        "FROM (SELECT unnest([1, 2, 3])::BIGINT AS x)"
    )
    odf, duck_types = _duck_frame_and_types(sql)
    sdf = pd.DataFrame({"s": pd.array([6], dtype="int64")})
    assert audit_types(sdf, odf, duck_types) == []


def test_negative_zero_population_mismatch_is_flagged():
    # the r2 failure mode: same values, one side carries -0.0
    sdf = pd.DataFrame({"v": [0.0, 1.5]})
    odf = pd.DataFrame({"v": [-0.0, 1.5]})
    problems = audit_types(sdf, odf, None)
    assert any("-0.0" in p for p in problems)
    # normalized (+ 0.0 on both sides) passes
    assert audit_types(sdf, sdf.copy(), None) == []


def test_int_float_kind_mismatch_is_flagged_without_duck_types():
    sdf = pd.DataFrame({"n": pd.array([1, 2], dtype="int64")})
    odf = pd.DataFrame({"n": [1.0, 2.0]})
    problems = audit_types(sdf, odf, None)
    assert any("dtype class differs" in p for p in problems)


def test_query_names_are_unique_and_every_query_has_an_oracle():
    # a repeated key in queries()' dict literal silently drops a query,
    # so count the literal's keys, not the built dict's
    import __spark_entry__ as entrymod

    with open(os.path.join(REPO, "__spark_entry__.py")) as f:
        tree = ast.parse(f.read())
    fn = next(n for n in tree.body
              if isinstance(n, ast.FunctionDef) and n.name == "queries")
    literal = next(n for n in ast.walk(fn) if isinstance(n, ast.Dict))
    keys = [k.value for k in literal.keys]
    assert sorted(k for k in set(keys) if keys.count(k) > 1) == []
    qs = list(entrymod.queries())
    assert qs == keys
    oracles = entrymod.oracle_sql()
    assert [q for q in qs if q not in oracles] == []


@pytest.mark.slow  # slow tier (pytest.ini)
def test_oracle_manifest_blast_radius(spark):
    """Mechanized indirect-consumer detection: the committed
    ORACLE_MANIFEST.json maps every query to sha256(rendered oracle SQL
    + canonical analyzed plan). Editing a SHARED helper (norm_text,
    tokens_expr, _duck_dot, ...) changes the rendered SQL/plan of every
    consuming query; this test re-renders all of them and fails NAMING
    every query that drifted from the manifest, was added, or was
    removed. A change records its blast radius by regenerating the
    manifest (scripts/oracle_manifest.py --write) in the same commit,
    after tests/test_oracle.py has certified the named queries."""
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from oracle_manifest import drift, load_manifest, render_manifest

    changed, added, removed = drift(render_manifest(spark), load_manifest())
    assert changed + added == [], (
        f"queries whose rendered oracle SQL or plan drifted from "
        f"ORACLE_MANIFEST.json — certify them and regenerate the "
        f"manifest: {changed + added}"
    )
    # a removed query is a coverage regression, never silent
    assert removed == [], f"queries removed since the manifest: {removed}"


@pytest.mark.parametrize("round_fn", ["round(sum(x), 2)"])
def test_duck_round_of_hugeint_sum_still_flagged(round_fn):
    # round() launders HUGEINT to DOUBLE — the dtype-kind check must
    # still catch it when Spark emits int64
    sql = f"SELECT {round_fn} AS s FROM (SELECT unnest([1, 2, 3])::BIGINT AS x)"
    odf, duck_types = _duck_frame_and_types(sql)
    sdf = pd.DataFrame({"s": pd.array([6], dtype="int64")})
    problems = audit_types(sdf, odf, duck_types)
    assert any("dtype class differs" in p for p in problems)
