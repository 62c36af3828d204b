"""Oracle certification: a declared ``queries()`` entry run on Spark and
its ``oracle_sql()`` twin run on DuckDB over the same parquet dir,
compared on column names, row count and order-insensitive values
(``compare``), plus the byte-level type traps a value compare cannot
see (``audit_types``).

``certify`` is the one place that pairs the two engines;
``tests/test_oracle.py`` runs it for every declared query,
``scripts/check_oracle.py`` is its CLI, and the fuzz campaigns call it
over adversarial corpora.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# prefix of the problem ``certify`` returns when the query reads a table
# the directory does not hold; single-table fuzz corpora skip on it
MISSING_TABLE = "spark error: missing input table"


def duck_conn(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("float64") if df[c].isna().any() else df[c].astype("int64")
    return df.sort_values(by=list(df.columns), ignore_index=True, na_position="first")


# DuckDB types whose pandas conversion silently changes the byte-level
# representation: integer sum() returns HUGEINT which .df() converts to
# float64 while Spark emits int64 — identical values, different bytes,
# so a byte-hash compare fails.
_TRAP_DUCK_TYPES = ("HUGEINT", "INT128", "UHUGEINT")


def _kind(dtype) -> str:
    """Collapse a pandas dtype to the class the driver's byte hash sees."""
    k = dtype.kind
    if k in "iu":
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if k in "mM":
        return "datetime"
    return "object"


def audit_types(
    sdf: pd.DataFrame, odf: pd.DataFrame, duck_types: dict[str, str] | None = None
) -> list[str]:
    """Byte-level trap audit: catches oracle-typing artifacts that the
    approximate value compare below cannot (r2's -0.0, r3's HUGEINT).

    Flags (a) any oracle column whose DuckDB type is HUGEINT/INT128,
    (b) any shared column whose pandas dtype class differs between the
    Spark and oracle frames, (c) float columns whose -0.0 population
    differs between the frames."""
    problems = []
    for c, t in (duck_types or {}).items():
        if any(trap in t.upper() for trap in _TRAP_DUCK_TYPES):
            problems.append(
                f"col {c}: DuckDB result type {t} — pandas converts to float64 "
                f"while Spark emits int64; CAST(... AS BIGINT) in the oracle SQL"
            )
    for c in sdf.columns:
        if c not in odf.columns:
            continue
        sk, ok_ = _kind(sdf[c].dtype), _kind(odf[c].dtype)
        if sk != ok_:
            problems.append(
                f"col {c}: dtype class differs: spark={sdf[c].dtype} ({sk}) vs "
                f"oracle={odf[c].dtype} ({ok_}) — driver hashes bytes, this fails"
            )
        elif sk == "float":
            a = sdf[c].to_numpy(dtype="float64")
            b = odf[c].to_numpy(dtype="float64")
            neg0_s = int((np.signbit(a) & (a == 0.0)).sum())
            neg0_o = int((np.signbit(b) & (b == 0.0)).sum())
            if neg0_s != neg0_o:
                problems.append(
                    f"col {c}: -0.0 count differs: spark={neg0_s} oracle={neg0_o} "
                    f"— normalize with '+ 0.0' on both sides"
                )
    return problems


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(sdf.columns) != sorted(odf.columns):
        problems.append(f"columns differ: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        return problems
    if len(sdf) != len(odf):
        problems.append(f"row count differs: spark={len(sdf)} oracle={len(odf)}")
    s, o = normalize(sdf), normalize(odf)
    if len(s) == len(o):
        for c in s.columns:
            sv, ov = s[c], o[c]
            if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(ov):
                a = sv.astype("float64").to_numpy()
                b = ov.astype("float64").to_numpy()
                both_nan = np.isnan(a) & np.isnan(b)
                # bit-level compare: the driver hashes bytes, so -0.0 != +0.0
                eq = (a.view(np.uint64) == b.view(np.uint64)) | both_nan
                if not eq.all():
                    bad = int((~eq).sum())
                    num_eq = ((a == b) | both_nan).all()
                    mx = np.nanmax(np.abs(np.where(eq, 0, a - b)))
                    kind = "BIT-ONLY (e.g. -0.0)" if num_eq else "value"
                    problems.append(f"col {c}: {bad} {kind} mismatches (max abs diff {mx:.3e})")
            else:
                eq = (sv.astype(str) == ov.astype(str))
                if not eq.all():
                    i = int(np.argmax(~eq.to_numpy()))
                    problems.append(
                        f"col {c}: {int((~eq).sum())} mismatches, first at row {i}: "
                        f"spark={sv.iloc[i]!r} oracle={ov.iloc[i]!r}"
                    )
    return problems


def _missing_table(e: Exception) -> bool:
    # load_tables raises KeyError(<table>) for a parquet file the dir
    # lacks; any other KeyError is a bug inside an operator
    msg = str(e)
    return (
        "PATH_NOT_FOUND" in msg
        or "Path does not exist" in msg
        or (isinstance(e, KeyError) and len(e.args) == 1 and e.args[0] in TABLES)
    )


def certify(spark, con, name: str, sf_dir: str) -> list[str]:
    """Problems between query ``name`` on Spark over ``sf_dir`` and its
    oracle on ``con`` (a ``duck_conn`` of the same dir); ``[]`` means
    the two agree. An exception on either engine is returned as a
    problem, never raised."""
    import __spark_entry__ as entrymod

    try:
        sdf = entrymod.queries()[name](spark, sf_dir).toPandas()
    except Exception as e:  # noqa: BLE001
        if _missing_table(e):
            return [f"{MISSING_TABLE}: {str(e)[:200]}"]
        return [f"spark error: {type(e).__name__}: {e}"]
    try:
        sql = entrymod.oracle_sql()[name]
        odf = con.execute(sql).df()
        duck_types = {row[0]: row[1] for row in con.execute(f"DESCRIBE ({sql})").fetchall()}
    except Exception as e:  # noqa: BLE001
        return [f"duckdb error: {type(e).__name__}: {e}"]
    return audit_types(sdf, odf, duck_types) + compare(name, sdf, odf)
