#!/usr/bin/env python3
"""Benchmark for streamtasks_spark: one Spark session per run, local[nproc].

    python3 perfbench/run.py --workload {twin_ingest,query_mix}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The run prepares its seeded inputs
(outside every timed region and outside ``setup_s``), starts one
session, warms up a fixed number of rounds, measures, checks every
output, and prints one JSON object as the last stdout line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones (set-up time and the process
tree's CPU seconds; the wall-clock figures are on the line before it);
with ``--trace 1`` the public
calls of each package layer are wrapped in spans and the per-layer
metrics are printed instead. All scratch files live under
``.perfbench/`` in the checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("twin_ingest", "query_mix")

END_TO_END = {"setup_s": "s", "cpu_s": "s", "cpu_gmean_s": "s"}


def _process_start() -> float:
    """This process's start time on the perf_counter clock."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.perf_counter() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def per_layer_names() -> dict[str, str]:
    from workloads import ENGINE_KEYS, LAYER_MODULES, QUERY_LAYERS, TWINS

    names = {}
    for layer in QUERY_LAYERS:
        for k, u in (("build_ms", "ms"), ("exec_ms", "ms"), ("jobs", "count"),
                     ("stages", "count"), ("tasks", "count")):
            names[f"{layer}.{k}"] = u
    names["session.read_parquet_ms"] = "ms"
    names["session.read_parquet_calls"] = "count"
    for t in TWINS:
        names[f"streaming.stateful.{t}.batch_p50_ms"] = "ms"
    names["streaming.stateful.dedup_minhash.slope_ms_per_batch"] = "ms"
    for k in ENGINE_KEYS:
        names[f"streaming.engine.{k}_ms"] = "ms"
    names.update({
        "streaming.jobs_per_batch": "count", "streaming.tasks_per_batch": "count",
        "streaming.useful_batch_frac": "ratio", "streaming.state_rows": "count",
        "core.state.busy_ms_per_batch": "ms", "core.state.calls_per_batch": "count",
        "core.state.bytes": "bytes", "core.state.segments": "count",
        "spark.tasks_failed": "count",
        "rss.peak_mb": "MB", "rss.jvm_mb": "MB", "rss.py_driver_mb": "MB",
        "rss.py_workers_mb": "MB",
    })
    for layer in list(LAYER_MODULES) + ["bench", "spark"]:
        names[f"{layer}.self_ms_per_op"] = "ms"
    names.update({"ops.samples": "count", "trace.cpu_s": "s", "trace.wall_s": "s",
                  "trace.query_gmean_s": "s", "trace.batch_p50_ms": "ms",
                  "trace.batch_p75_ms": "ms", "trace.ops_per_s": "1/s"})
    return names


def state_footprint(root: str) -> tuple[int, int]:
    """On-disk bytes and live segments of every manifest-committed table
    under ``root`` (sketches and indexes of ``core.state``)."""
    from streamtasks_spark.core.state import MANIFEST_NAME, read_manifest

    nbytes = segs = 0
    for d, _, files in os.walk(root):
        if MANIFEST_NAME in files:
            segs += len((read_manifest(d) or {}).get("segments", []))
            for dd, _, ff in os.walk(d):
                nbytes += sum(os.path.getsize(f"{dd}/{f}") for f in ff)
    return nbytes, segs


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, then wait for every process the
    run started (JVM and Python workers) to end."""
    from probe import descendants

    pids = descendants(os.getpid())
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 20
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv=None) -> int:
    t_start = _process_start()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the package under test, and the oracle compare it ships, must be in
    # the checkout: without them the benchmark fails before measuring
    for rel in ("__spark_entry__.py", "streamtasks_spark/__init__.py",
                "scripts/check_oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            print(f"perfbench: {rel} not found under {ROOT}", file=sys.stderr)
            return 2

    os.chdir(ROOT)
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "scripts")]
    base = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(base, f"run-{os.getpid()}")
    for d in ("data", "work", "tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d))
    nproc = len(os.sched_getaffinity(0))
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
    })

    import workloads as W
    from probe import (JobCounter, RssSampler, Tracer, gmean, highest_supported_percentile,
                       instrument, percentile, self_times)

    spark = None
    try:
        t_prep = time.perf_counter()
        data = os.path.join(run_dir, "data")
        if args.workload == "twin_ingest":
            W.prepare_twins(data, args.seed, args.seconds)
        else:
            W.prepare_queries(data, args.seed)
        t_start += time.perf_counter() - t_prep  # prepare is not set-up

        tracer = Tracer() if args.trace else None
        if tracer:
            import __spark_entry__  # noqa: F401  (bind names before wrapping)

            instrument(tracer, W.LAYER_MODULES,
                       rebind_in=("streamtasks_spark", "__spark_entry__"))
        from streamtasks_spark.session import get_spark

        spark = get_spark("perfbench", extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        })
        W.log(f"session up at {time.perf_counter() - t_start:.1f}s")
        driver_mem = spark.conf.get("spark.driver.memory", "default")
        W.log(f"{args.workload}: seed {args.seed}, local[{nproc}], "
              f"spark.driver.memory={driver_mem}, warm-up rounds {W.WARMUP_ROUNDS}")
        jobs = None
        if tracer:
            sc = spark.sparkContext
            jobs = JobCounter(sc.statusTracker(),
                              drain=lambda: sc._jsc.sc().listenerBus().waitUntilEmpty())
        ctx = W.Ctx(spark=spark, work=os.path.join(run_dir, "work"), data=data,
                    seed=args.seed, seconds=args.seconds, t_start=t_start,
                    rss=RssSampler() if tracer else None, tracer=tracer, jobs=jobs)
        res = W.run_twins(ctx) if args.workload == "twin_ingest" else W.run_queries(ctx)

        W.log(f"workload done at {time.perf_counter() - t_start:.1f}s")
        ops = len(res.op_ms)
        med = [statistics.median(v) for v in res.per_query_s.values() if v]
        med_cpu = [statistics.median(v) for v in res.per_query_cpu_s.values() if v]
        # wall-clock figures: on the info line (untraced) and as trace.*
        # per-layer metrics; the CPU figures are the end-to-end ones
        wall = {
            "wall_s": res.wall_s,
            "query_gmean_s": gmean(med) if med else math.nan,
            "batch_p50_ms": percentile(res.op_ms, 50) if ops else math.nan,
            "batch_p75_ms": percentile(res.op_ms, 75) if ops else math.nan,
            "ops_per_s": ops / (sum(res.op_ms) / 1e3) if ops else math.nan,
        }
        cpu_s = sum(sum(v) for v in res.per_query_cpu_s.values())
        info = {"workload": args.workload, "seed": args.seed, "nproc": nproc,
                "driver_memory": driver_mem, "warmup_rounds": W.WARMUP_ROUNDS,
                "samples": ops, "tail_percentile_with_10_beyond": highest_supported_percentile(ops),
                "setup_s": round(res.setup_s, 2), "cpu_s": round(cpu_s, 2),
                **{k: round(v, 4) for k, v in wall.items()},
                "median_s": {k: round(statistics.median(v), 3) for k, v in res.per_query_s.items() if v},
                "median_cpu_s": {k: round(statistics.median(v), 3)
                                 for k, v in res.per_query_cpu_s.items() if v},
                "problems": res.problems[:20]}
        if tracer:
            peak, parts = ctx.rss.peaks_mb()
            names = per_layer_names()
            m = {n: 0.0 for n in names}
            m.update(res.layer)
            for layer, sec in self_times(tracer.spans).items():
                if f"{layer}.self_ms_per_op" in m:
                    m[f"{layer}.self_ms_per_op"] = sec * 1e3 / ops
            # core.state on either workload: outermost calls inside the
            # timed operations, and what its tables left on disk
            state = [s for s in tracer.spans if s.layer == "core.state" and s.op is not None
                     and (s.parent < 0 or tracer.spans[s.parent].layer != "core.state")]
            m["core.state.busy_ms_per_batch"] = sum((s.end - s.start) * 1e3 for s in state) / ops
            m["core.state.calls_per_batch"] = len(state) / ops
            m["core.state.bytes"], m["core.state.segments"] = state_footprint(run_dir)
            m.update({"rss.peak_mb": peak, "rss.jvm_mb": parts["jvm"], "rss.py_driver_mb": parts["py_driver"],
                      "rss.py_workers_mb": parts["py_workers"], "ops.samples": ops,
                      "trace.cpu_s": cpu_s})
            m.update({f"trace.{k}": v for k, v in wall.items()})
            info["spans"] = len(tracer.spans)
            with open(os.path.join(base, f"spans-{args.workload}-{args.seed}.jsonl"), "w") as f:
                for s in tracer.spans:
                    f.write(json.dumps(s.__dict__) + "\n")
            metrics = {n: {"value": float(m[n]), "unit": names[n]} for n in names}
        else:
            m = {"setup_s": res.setup_s, "cpu_s": cpu_s,
                 "cpu_gmean_s": gmean(med_cpu) if med_cpu else math.nan}
            metrics = {n: {"value": float(m[n]), "unit": u} for n, u in END_TO_END.items()}
        print(json.dumps(info))
        for p in res.problems:
            W.log(f"FAILED {p}")
        print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                          "failed": res.failed, "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            _stop_spark(spark)
            W.log(f"stopped at {time.perf_counter() - t_start:.1f}s")
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
