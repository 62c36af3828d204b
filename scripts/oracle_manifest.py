#!/usr/bin/env python
"""Mechanized blast radius for a code change.

A change to a shared helper (``norm_text``, ``tokens_expr``,
``_duck_dot``, ...) changes the Spark plan or rendered oracle SQL of
every query that consumes it, directly or through another helper —
e.g. ``quality_buckets`` consumes ``norm_text`` through ``text_stats``.
Walking the diff by hand to find those consumers misses some; this
script makes the walk mechanical.

It renders, for every declared query, ``sha256(rendered oracle SQL +
canonical ANALYZED plan)`` at sf0.01 and writes the map to
``ORACLE_MANIFEST.json`` at the repo root.
``tests/test_oracle_audit.py::test_oracle_manifest_blast_radius``
re-renders the map and fails NAMING every query whose hash drifted from
the committed manifest, and every query added or removed. A change
records its blast radius by regenerating the manifest in the same
commit, after ``tests/test_oracle.py`` has certified the named queries.

Why the ANALYZED plan (not optimized/physical): it is computed before
cache substitution and cost-based decisions, so the hash tracks WHAT
the query declares, not runtime state (a pin() added by a test run or
an AQE re-plan must not read as a semantic change). Expression ids
(``#123``), object addresses (``0x7f...``) and the sf-dir path prefix
are normalized out — they vary per session without changing semantics.

Usage:
    python scripts/oracle_manifest.py --write   # regenerate + commit
    python scripts/oracle_manifest.py --check   # print drifted queries
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

MANIFEST_PATH = os.path.join(REPO, "ORACLE_MANIFEST.json")
# hashes embed data-derived literals (k-means codebooks, collected
# vocabularies), so the manifest is pinned to one corpus
SF_DIR = "/root/testdata/sf0.01"

_EXPR_ID = re.compile(r"#\d+L?")
_HEX_ADDR = re.compile(r"0x[0-9a-fA-F]+")
_PLAN_ID = re.compile(r"plan_id=\d+")
# temp/scratch paths (e.g. a replay dir) vary per run
_TMP_PATH = re.compile(r"/tmp/[^\s,)\]]+")
# higher-order-function lambda argument names carry a SESSION-GLOBAL
# counter (lambda x_17#) that increments on every lambdafunction the
# session ever plans — same query, different render, different number
_LAMBDA_VAR = re.compile(r"lambda (\w+?)_\d+#")
# spread() sizes its repartition to the session's core count — a
# config attribute (pytest runs 4 cores, the driver 32), not a
# semantic one. "Repartition 32, true" / "RepartitionByExpression
# [...], 32" both normalize.
_REPART_N = re.compile(r"(Repartition(?:ByExpression \[[^\]]*\])?,? )\d+")


def canonical_plan(df) -> str:
    # plan toString truncates past maxToStringFields ("... N more
    # fields"), and WHERE it truncates depends on session config — pin
    # it high so the rendered string is config-independent (the pytest
    # session runs 4 cores / 4 shuffle partitions, the driver 32/32)
    df.sparkSession.conf.set("spark.sql.debug.maxToStringFields", "100000")
    s = df._jdf.queryExecution().analyzed().toString()
    s = _EXPR_ID.sub("#", s)
    s = _HEX_ADDR.sub("0x", s)
    s = _PLAN_ID.sub("plan_id=", s)
    s = _TMP_PATH.sub("/tmp/", s)
    s = _LAMBDA_VAR.sub(r"lambda \1_#", s)
    s = _REPART_N.sub(r"\g<1>N", s)
    return s


def render_manifest(spark, sf_dir: str = SF_DIR) -> dict[str, str]:
    import __spark_entry__ as entrymod

    oracles = entrymod.oracle_sql()
    out: dict[str, str] = {}
    for name, fn in entrymod.queries().items():
        plan = canonical_plan(fn(spark, sf_dir))
        payload = (
            oracles.get(name, "<no-oracle: rows-only check>")
            + "\n===PLAN===\n"
            + plan
        )
        out[name] = hashlib.sha256(payload.encode("utf-8")).hexdigest()
    return out


def load_manifest() -> dict[str, str]:
    with open(MANIFEST_PATH) as f:
        return json.load(f)


def drift(current: dict[str, str], committed: dict[str, str]):
    """(changed, added, removed) between a freshly rendered manifest
    and the committed one."""
    changed = sorted(
        n for n in current if n in committed and current[n] != committed[n]
    )
    added = sorted(n for n in current if n not in committed)
    removed = sorted(n for n in committed if n not in current)
    return changed, added, removed


def main() -> int:
    from streamtasks_spark.session import get_spark

    spark = get_spark("oracle_manifest")
    current = render_manifest(spark)
    if "--write" in sys.argv[1:]:
        with open(MANIFEST_PATH, "w") as f:
            json.dump(current, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"wrote {MANIFEST_PATH} ({len(current)} queries)")
        return 0
    committed = load_manifest()
    changed, added, removed = drift(current, committed)
    for n in changed:
        print(f"DRIFT   {n}")
    for n in added:
        print(f"ADDED   {n}")
    for n in removed:
        print(f"REMOVED {n}")
    if not (changed or added or removed):
        print("clean: no drift")
    return 1 if (changed or added or removed) else 0


if __name__ == "__main__":
    raise SystemExit(main())
