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
from bench import short_names, stdout_line  # noqa: E402


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


def _pessimistic_payload(n):
    return {"metric": "sum_of_per_query_best_wall_seconds_noop_sink",
            "value": 99999.9999, "unit": "sec", "sf": 0.1, "n_queries": n,
            "n_failed": 0, "wall_total": 9999.99, "calib_md5_sec": 0.6786}


def test_stdout_line_is_total_and_drops_deterministically():
    # 400 queries cannot fit even as aliases: the line still prints,
    # stays in the window, and says how many entries it dropped, from
    # the end of the results order
    names = [f"query_number_{i}_{'x' * (i % 7)}" for i in range(400)]
    results = {n: 99.9 for n in names}
    line = stdout_line(_pessimistic_payload(len(names)), results, names)
    assert line == stdout_line(_pessimistic_payload(len(names)), dict(results), list(names))
    assert len(line) <= 1950
    rec = json.loads(line)
    kept = list(rec["queries"])
    assert rec["queries_dropped"] == len(names) - len(kept) > 0
    aliases = short_names(names)
    assert kept == [aliases[n] for n in names[:len(kept)]]
    # one more entry would not have fitted
    more = dict(rec, queries_dropped=rec["queries_dropped"] - 1,
                queries={aliases[n]: 99.9 for n in names[:len(kept) + 1]})
    assert len(json.dumps(more, separators=(",", ":"))) > 1950


def test_stdout_line_fits_without_dropping_at_full_suite():
    names = _names()
    rec = json.loads(stdout_line(_pessimistic_payload(len(names)),
                                 {n: 99.9 for n in names}, names))
    assert "queries_dropped" not in rec
    assert len(rec["queries"]) == len(names)


def test_filtered_run_uses_full_list_aliases():
    # a filtered run long enough to go compact keys its entries with
    # the full queries() aliases, the ones BENCH_DETAIL.json records
    names = _names()
    subset = names[len(names) // 3:]
    line = stdout_line(_pessimistic_payload(len(subset)), {n: 12.3 for n in subset}, names)
    rec = json.loads(line)
    full = short_names(names)
    assert list(rec["queries"]) == [full[n] for n in subset]
    assert any(short_names(subset)[n] != full[n] for n in subset)
