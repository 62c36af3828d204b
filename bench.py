#!/usr/bin/env python
"""Benchmark harness (SURVEY §7.2 step 8, BASELINE.md operative metric).

Times every ``__spark_entry__.queries()`` entry at the benchmark scale
factor and prints ONE JSON line on stdout:

    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": 0.1}

Execution is forced with the JVM ``noop`` sink — full computation, zero
serialization to the driver — so timings measure the query plan, not
``collect()`` transfer. Each query gets ONE untimed warm-up execution
(whole-stage-codegen Janino compilation of a large generated class costs
seconds and is a per-class one-time cost, not a per-run cost — on a real
cluster it is amortized over the job's lifetime), then runs
``SPARK_GRAFT_BENCH_ITERS`` timed iterations (default 2), reporting the
best. Full runs add a second, reversed-order pass (one timed iteration,
no re-warm-up; ``SPARK_GRAFT_BENCH_PASSES=1`` disables) so every query
gets one early and one late queue position — accumulated JVM state
inflates late positions 2-5×, and per-query best-of-both-passes strips
that positional penalty from cross-round comparisons.

Usage: python bench.py            # $SPARK_GRAFT_SF_DIR or /root/testdata/sf0.1
       python bench.py [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def short_names(names) -> dict[str, str]:
    """Deterministic compact aliases for the stdout per-query map.

    The round driver keeps only the LAST ~2,000 chars of output, so at
    152 queries the full-name map cannot fit on the one JSON line
    (measured 3.6k chars) — r11 shipped with no per-query map at all
    and blinded the round-over-round comparator (PERF_r11 n_common: 0).
    Fix per the r11 verdict ("trim names if needed"): first 2 chars of
    each underscore token, capped at 3 chars, numeric suffix on
    collision, resolved in queries() dict order so aliases are stable
    across runs of the same query set (in particular across the
    driver's 32-core and 8-core runs, which is what scaling.per_query
    compares). The full-name map and this alias table are always
    written to BENCH_DETAIL.json.
    """
    out: dict[str, str] = {}
    used: set[str] = set()
    for n in names:
        s = "".join(t[:2] for t in n.split("_"))[:3]
        if s in used:
            k = 2
            while f"{s}{k}" in used:
                k += 1
            s = f"{s}{k}"
        used.add(s)
        out[n] = s
    return out


def stdout_line(payload: dict, results: dict, names, limit: int = 1950) -> str:
    """The one stdout JSON line: ``payload`` plus the per-query map.

    Full names while the line fits 1,900 chars; otherwise the compact
    map, keyed by the ``short_names()`` aliases of ``names`` (the full
    ``queries()`` list, so a filtered run uses the same aliases as the
    full run's ``BENCH_DETAIL.json`` table) with 2-significant-digit
    seconds. If even that exceeds ``limit``, entries are dropped from
    the end of ``results`` until it fits, and ``queries_dropped`` says
    how many: a degraded run still prints its line."""
    with_queries = json.dumps({**payload, "queries": results})
    if len(with_queries) <= 1900:
        return with_queries
    aliases = short_names(names)

    def fmt(v: float) -> float:
        return round(v, 2) if v < 1 else round(v, 1)

    compact = [(aliases[n], None if v is None else fmt(v)) for n, v in results.items()]
    # wall_total stays in BENCH_DETAIL.json only: every stdout char
    # competes with per-query entries inside the driver's 2,000-char
    # keep, and calib_md5_sec (boot-health normalizer) wins that seat
    slim = {k: v for k, v in payload.items() if k != "wall_total"}
    kept = len(compact)
    while True:
        extra = {"queries_dropped": len(compact) - kept} if kept < len(compact) else {}
        line = json.dumps({**slim, **extra, "queries": dict(compact[:kept])},
                          separators=(",", ":"))
        if len(line) <= limit or kept == 0:
            return line
        kept -= 1


def run_query(fn, spark, sf_dir: str) -> float:
    # drop persisted subplans from prior runs: cache-manager reuse makes
    # timings depend on run order and eviction state, not the query
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args = [a for a in sys.argv[1:] if not a.startswith("-")]
    if args and os.path.isdir(args[0]):
        sf_dir = args[0]
        args = args[1:]
    only = set(args)
    iters = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "2"))

    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    import __spark_entry__ as entrymod
    from streamtasks_spark.session import get_spark

    def fresh_session():
        s = get_spark("bench")
        # warm the JVM + parquet footer caches with one trivial action
        s.range(1000).selectExpr("sum(id)").write.format("noop").mode(
            "overwrite"
        ).save()
        return s

    spark = fresh_session()

    def calibrate(s) -> float:
        """Boot-health constant recorded with every bench record: a
        FIXED md5-heavy aggregation (1M hashes + distinct), the cost
        profile of the dedup family whose cross-boot variance reached
        2-6x on identical code (r04-r08; the r08 driver boot read the
        family 2.1-2.6x slower than r07 while logging a Python-worker
        crash, and the same-code builder run was FASTER than r07).
        Cross-run comparisons can now normalize per-query ratios by
        the calib ratio first: same code + calib 2x slower = the boot,
        not the code. One untimed warm-up, then best of 3."""
        def once() -> float:
            t0 = time.perf_counter()
            s.range(1_000_000).selectExpr(
                "md5(cast(id as string)) AS h"
            ).selectExpr("count(distinct substring(h, 1, 7)) AS n").write \
                .format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        once()
        return min(once() for _ in range(3))

    calib = calibrate(spark)
    log(f"bench: md5 calibration {calib:.3f}s")
    # SparkContext-level state (broadcast blocks, shuffle metadata in the
    # MapOutputTracker, block-manager entries) accumulates across queries
    # and is only reclaimed by the weak-ref ContextCleaner, which a
    # mostly-idle 48 GB heap never triggers — measured ~2-6x inflation of
    # per-query timings by the ~40th query of a 100-query run. Restarting
    # the session every N queries resets context state for ~1.2 s
    # (untimed); the JVM itself survives, so the static whole-stage-codegen
    # class cache stays warm across restarts.
    # cadence swept at sf0.1: every 12 -> 64.3s, 8 -> 57.8s, 5 -> 53.3s,
    # 3 -> 55.7s (restart overhead overtakes the leak) — 5 is the knee.
    restart_every = int(os.environ.get("SPARK_GRAFT_RESTART_EVERY", "5"))

    qs = entrymod.queries()
    # JVM/JIT warm-up phase: C2 compilation of Spark's scan/shuffle/
    # codegen machinery needs dozens of plan executions, which the
    # per-query untimed warm-up alone doesn't deliver for the first
    # dict positions — measured +0.45s mean inflation on positions
    # 1-15 vs the SAME unchanged queries deep in the run (r03→r04
    # order rotation). One untimed pass over the first N queries
    # hot-compiles those paths before any timing starts; the JVM (and
    # its JIT state) survives the periodic session restarts below.
    warmup_n = int(os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "10"))
    if not only and warmup_n > 0:
        for name, fn in list(qs.items())[:warmup_n]:
            try:
                run_query(fn, spark, sf_dir)
            except Exception:
                pass  # the timed loop will report it
        log(f"bench: warm-up pass over first {warmup_n} queries done")
    results: dict[str, float | None] = {}
    t_start = time.perf_counter()
    n_run = 0
    # Two passes, the second in REVERSE dict order (full runs only).
    # Accumulated JVM state inflates late-position queries 2-5× within
    # a run even with the periodic restarts, which poisoned every
    # cross-round comparison with false alarms (r05: token_histogram at
    # position 88 read as a 5.1× regression and was exonerated by a
    # same-boot A/B). With a reversed second pass every query gets one
    # early-ish and one late-ish slot, and the per-query BEST (the
    # metric is already best-of) strips the positional penalty. The
    # second pass runs one timed iteration and no per-query warm-up
    # (the JVM/codegen caches are hot by then), costing ~⅓ of pass 1.
    passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2"))
    selected = [(n, f) for n, f in qs.items() if not only or n in only]
    for pass_idx in range(max(1, passes) if not only else 1):
        order = selected if pass_idx == 0 else list(reversed(selected))
        pass_iters = iters if pass_idx == 0 else 1
        for name, fn in order:
            if results.get(name, False) is None:
                continue  # failed in an earlier pass; don't retry
            if restart_every > 0 and n_run > 0 and n_run % restart_every == 0:
                spark.stop()
                spark = fresh_session()
            n_run += 1
            best = results.get(name)
            try:
                if pass_idx == 0:
                    run_query(fn, spark, sf_dir)  # untimed codegen/JIT warm-up
                for _ in range(max(1, pass_iters)):
                    sec = run_query(fn, spark, sf_dir)
                    best = sec if best is None else min(best, sec)
            except Exception as e:  # keep benching the rest
                log(f"bench: {name} FAILED: {type(e).__name__}: {e}")
                # a pass-2 failure must not erase a valid pass-1 best:
                # the metric is best-of, and the transient late-queue
                # failure modes are exactly what pass 2 exists to probe
                results[name] = None if best is None else round(best, 4)
                continue
            results[name] = round(best, 4)
            log(f"bench: {name} {best:.3f}s"
                + (" (pass 2)" if pass_idx else ""))

    ok = {k: v for k, v in results.items() if v is not None}
    total = round(sum(ok.values()), 4)
    payload = {
        "metric": "sum_of_per_query_best_wall_seconds_noop_sink",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(results),
        "n_failed": len(results) - len(ok),
        "wall_total": round(time.perf_counter() - t_start, 2),
        "calib_md5_sec": round(calib, 4),
    }
    # The round driver keeps only the LAST 2,000 chars of stdout; a JSON
    # line longer than that is head-truncated and fails to parse (this
    # killed BENCH_r03: 102 per-query timings ≈ 2,550 chars, and dropping
    # the map entirely blinded PERF_r11). Inline the full-name map while
    # it fits; otherwise emit a COMPACT map (short_names() aliases,
    # 2-significant-digit seconds) that fits at 152 queries, dropping
    # entries past that (stdout_line). BENCH_DETAIL.json next to this
    # script always gets the full map, full precision, and the alias
    # table.
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_DETAIL.json")
    if not only:  # a filtered run must not clobber the full-run record
        try:
            with open(detail_path, "w") as f:
                json.dump({**payload, "queries": results,
                           "stdout_query_aliases": short_names(qs)}, f, indent=1)
        except OSError as e:
            log(f"bench: could not write {detail_path}: {e}")
    line = stdout_line(payload, results, list(qs))
    print(line, flush=True)
    return 0 if ok and len(ok) == len(results) else 1


if __name__ == "__main__":
    raise SystemExit(main())
