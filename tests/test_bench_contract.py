"""The bench stdout contract (r11 verdict item 2).

The round driver keeps only the LAST ~2,000 chars of output and parses
the one JSON line; r03 and r11 both lost their per-query maps to that
window. These tests pin the fix: the compact short-name map must fit,
be unique, and be deterministic so the driver's 32-core and 8-core runs
(scaling.per_query) key on identical aliases.

No Spark session required — queries() only builds a dict of callables.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from bench import short_names  # noqa: E402


def _names():
    return list(entrymod.queries())


def test_aliases_unique_and_deterministic():
    names = _names()
    a1 = short_names(names)
    a2 = short_names(list(names))
    assert a1 == a2
    assert len(set(a1.values())) == len(names), "alias collision"
    assert all(a1[n] for n in names)


def test_compact_line_fits_driver_window():
    # Reproduce bench.py's compact emission with pessimistic values
    # (every query at 99.9 s, worst-case 4-char rendering) and the real
    # aggregate payload fields. Must stay under the 1,950-char assert,
    # which itself sits under the driver's 2,000-char stdout keep.
    names = _names()
    aliases = short_names(names)
    payload = {
        "metric": "sum_of_per_query_best_wall_seconds_noop_sink",
        "value": 99999.9999,
        "unit": "sec",
        "sf": 0.1,
        "n_queries": len(names),
        "n_failed": 0,
        "calib_md5_sec": 0.6786,
    }
    compact = {aliases[n]: 99.9 for n in names}
    line = json.dumps({**payload, "queries": compact},
                      separators=(",", ":"))
    assert len(line) <= 1950, f"{len(line)} chars at {len(names)} queries"


def test_full_name_map_used_for_small_runs():
    # A filtered run (few queries) keeps full names on the line —
    # bench.py only falls back to aliases past 1,900 chars.
    payload = {"metric": "m", "value": 1.0, "unit": "sec", "sf": 0.1,
               "n_queries": 3, "n_failed": 0}
    line = json.dumps({**payload, "queries": {"q1_pricing_summary": 1.23}})
    assert len(line) <= 1900
