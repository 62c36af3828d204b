#!/usr/bin/env python
"""Run every __spark_entry__.queries() entry on Spark AND its oracle_sql()
on DuckDB over the same parquet dir, and print each query's problems
(streamtasks_spark.oracle.certify).

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
       python scripts/check_oracle.py --all-sf [query ...]   # sweep all 3 scales
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from streamtasks_spark.oracle import (  # noqa: E402,F401  (re-exported)
    audit_types,
    certify,
    compare,
    duck_conn,
)


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--all-sf"]
    if "--all-sf" in sys.argv[1:]:
        # cross-engine float edges (interpolation between ties, round()
        # boundaries) are scale-dependent — tiny corpora tie more, big
        # ones hit more round() edges. One command, three scales.
        rc = 0
        for sf in ("sf0.001", "sf0.01", "sf0.1"):
            print(f"===== /root/testdata/{sf} =====", flush=True)
            rc |= run_suite(f"/root/testdata/{sf}", set(argv))
        return rc
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    return run_suite(sf_dir, set(argv[1:]))


def run_suite(sf_dir: str, only: set[str]) -> int:
    import __spark_entry__ as entrymod
    from streamtasks_spark.session import get_spark

    spark = get_spark("oracle_check")
    con = duck_conn(sf_dir)
    n_fail = 0
    for name in entrymod.queries():
        if only and name not in only:
            continue
        t0 = time.time()
        problems = certify(spark, con, name, sf_dir)
        if problems:
            n_fail += 1
            print(f"FAIL {name}:")
            for p in problems:
                print(f"   - {p}")
        else:
            print(f"OK   {name} ({time.time()-t0:.1f}s)")
    print(f"\n{'ALL OK' if n_fail == 0 else f'{n_fail} FAILURES'}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
