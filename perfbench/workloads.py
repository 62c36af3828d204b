"""The two workloads. Each takes a :class:`Ctx` (one Spark session per
run) and returns a :class:`Result`: the untimed set-up, the operations
it timed, and the output checks it ran after the timed region.

The package is driven only through its public entry points:
``__spark_entry__.queries()``/``oracle_sql()`` for ``query_mix``, and the ``streamtasks_spark.streaming.stateful`` twins for
``twin_ingest``. Timings come from the benchmark's own clock and from
Spark's ``StreamingQueryProgress`` events, CPU time per operation from
the process tree's ``/proc`` counters; with tracing on, job counts come
from Spark's status tracker.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

import probe

# query -> layer (the package module its entry function exercises). The
# first four run on sf0.1-shaped tables, the last two on the corpus.
QUERIES = {
    "q3_shipping_priority": "relational",
    "gate": "operators",
    "calculator_multivar": "functions",
    "codec_roundtrip": "media",
    "ann_ivf_topk": "llmdata.similarity",
    "bloom_dedup": "llmdata.dedup",
}
QUERY_LAYERS = tuple(dict.fromkeys(QUERIES.values()))
TWINS = ("dedup_exact", "heavy_hitters", "dedup_minhash")

# Fixed once for every run (not adaptive, so set-up time stays steady).
WARMUP_ROUNDS = 1          # query_mix: the warm-up round collects and is checked
WARMUP_BATCHES = 1         # twin_ingest: per twin, excluded from latency
BATCH_DOCS = 100
CORPUS_DOCS, CORPUS_VECS = 4_000, 4_000
# Measured work per --seconds: rounds (one run of every query, or one
# batch of every twin) are a fixed function of the run length, so two
# runs of one length do the same work. Round costs measured on 4 vCPUs.
QUERY_ROUND_S, TWIN_ROUND_S = 5.0, 7.0

# package modules per layer, for the traced run's call spans
LAYER_MODULES = {
    "session": ["streamtasks_spark.session"],
    "relational": ["streamtasks_spark.relational.queries",
                   "streamtasks_spark.relational.scale"],
    "operators": ["streamtasks_spark.operators.stateful",
                  "streamtasks_spark.operators.chunks",
                  "streamtasks_spark.operators.joins",
                  "streamtasks_spark.operators.timing"],
    "functions": ["streamtasks_spark.functions.calculator",
                  "streamtasks_spark.functions.fntask",
                  "streamtasks_spark.functions.text",
                  "streamtasks_spark.functions.timefmt"],
    "media": ["streamtasks_spark.media.codec",
              "streamtasks_spark.media.container",
              "streamtasks_spark.media.render"],
    "llmdata.similarity": ["streamtasks_spark.llmdata.similarity"],
    "llmdata.dedup": ["streamtasks_spark.llmdata.dedup"],
    "core.state": ["streamtasks_spark.core.state"],
    "streaming.stateful": ["streamtasks_spark.streaming.stateful"],
}
ENGINE_KEYS = ("addBatch", "latestOffset", "queryPlanning", "walCommit",
               "commitOffsets", "getBatch")


PID = os.getpid()


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


@dataclass
class Ctx:
    spark: object
    work: str               # scratch dir for this run, inside the checkout
    data: str               # prepared inputs
    seed: int
    seconds: int
    t_start: float          # process start on the perf_counter clock
    rss: probe.RssSampler | None    # traced runs only: RSS is a per-layer metric
    tracer: probe.Tracer | None = None
    jobs: probe.JobCounter | None = None


@dataclass
class Result:
    setup_s: float = 0.0
    wall_s: float = 0.0
    op_ms: list = field(default_factory=list)      # pooled latency samples
    per_query_s: dict = field(default_factory=dict)  # name -> [seconds]
    per_query_cpu_s: dict = field(default_factory=dict)  # name -> [CPU seconds]
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    layer: dict = field(default_factory=dict)      # per-layer metrics


def _take(ctx: Ctx) -> probe.JobDelta:
    return ctx.jobs.take() if ctx.jobs is not None else probe.JobDelta()


# ------------------------------------------------------------ queries

def prepare_queries(data: str, seed: int) -> None:
    import gen

    gen.write_tables(data, seed, sf=0.1)
    gen.write_corpus(data, seed, CORPUS_DOCS, CORPUS_VECS)


def run_queries(ctx: Ctx) -> Result:
    import __spark_entry__ as entry

    names = QUERIES
    qs, oracles = entry.queries(), entry.oracle_sql()
    spark, res = ctx.spark, Result()
    rng = random.Random(ctx.seed)
    rounds = max(3, round(ctx.seconds / QUERY_ROUND_S))

    # the untimed warm-up (WARMUP_ROUNDS = 1) collects every result for
    # the output check
    warm = {}
    for name in rng.sample(sorted(names), len(names)):
        spark.catalog.clearCache()
        warm[name] = qs[name](spark, ctx.data).toPandas()
    _take(ctx)
    res.setup_s = time.perf_counter() - ctx.t_start
    log(f"query_mix: set-up {res.setup_s:.1f}s, {rounds} measured rounds")

    per = {n: [] for n in names}
    cpu = {n: [] for n in names}
    acc = {(layer, k): [0.0] * rounds for layer in QUERY_LAYERS
           for k in ("build_ms", "exec_ms", "jobs", "stages", "tasks")}
    rp = {"ms": [0.0] * rounds, "calls": [0] * rounds}
    if ctx.rss is not None:
        ctx.rss.start()
    t_meas = time.perf_counter()
    for r in range(rounds):
        for name in rng.sample(sorted(names), len(names)):
            layer = names[name]
            spark.catalog.clearCache()
            res.attempted += 1
            n_spans = len(ctx.tracer.spans) if ctx.tracer else 0
            if ctx.tracer:
                ctx.tracer.op = f"{name}#{r}"
                op_span = ctx.tracer.begin(f"bench:{name}")
            c0 = probe.tree_cpu_s(PID)
            t0 = time.perf_counter()
            try:
                df = qs[name](spark, ctx.data)
                t1 = time.perf_counter()
                if ctx.tracer:
                    with ctx.tracer.span("spark:noop_write"):
                        df.write.format("noop").mode("overwrite").save()
                else:
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # a failed operation is counted, not fatal
                res.failed += 1
                res.problems.append(f"{name}: {type(e).__name__}: {e}")
                continue
            finally:
                if ctx.tracer:
                    ctx.tracer.end(op_span)
            t2 = time.perf_counter()
            cpu[name].append(probe.tree_cpu_s(PID) - c0)
            per[name].append(t2 - t0)
            res.op_ms.append((t2 - t0) * 1e3)
            d = _take(ctx)
            acc[(layer, "build_ms")][r] += (t1 - t0) * 1e3
            acc[(layer, "exec_ms")][r] += (t2 - t1) * 1e3
            acc[(layer, "jobs")][r] += d.jobs
            acc[(layer, "stages")][r] += d.stages
            acc[(layer, "tasks")][r] += d.tasks
            res.layer["spark.tasks_failed"] = res.layer.get("spark.tasks_failed", 0) + d.tasks_failed
            if ctx.tracer:
                for s in ctx.tracer.spans[n_spans:]:
                    if s.name == "session:read_parquet" and s.parent >= n_spans and \
                            ctx.tracer.spans[s.parent].layer != "session":
                        rp["ms"][r] += (s.end - s.start) * 1e3
                        rp["calls"][r] += 1
    res.wall_s = time.perf_counter() - t_meas
    log(f"query_mix: measured {res.wall_s:.1f}s")
    if ctx.rss is not None:
        ctx.rss.stop()
    if ctx.tracer:
        ctx.tracer.op = None
    res.per_query_s, res.per_query_cpu_s = per, cpu
    for (layer, k), vals in acc.items():
        res.layer[f"{layer}.{k}"] = statistics.median(vals)
    res.layer["session.read_parquet_ms"] = statistics.median(rp["ms"])
    res.layer["session.read_parquet_calls"] = statistics.median(rp["calls"])

    # output checks, outside the timed region: the warm-up results and one
    # more call of every query in the session that ran the timed calls
    final = {}
    for name in sorted(names):
        spark.catalog.clearCache()
        res.attempted += 1
        try:
            final[name] = qs[name](spark, ctx.data).toPandas()
        except Exception as e:
            res.failed += 1
            res.problems.append(f"{name} (after the timed rounds): {type(e).__name__}: {e}")
    from check_oracle import audit_types, compare, duck_conn

    con = duck_conn(ctx.data)
    try:
        for name in sorted(names):
            sql = oracles[name]
            odf = con.execute(sql).df()
            duck_types = {row[0]: row[1] for row in con.execute(f"DESCRIBE ({sql})").fetchall()}
            for when, got in (("warm-up", warm), ("after the timed rounds", final)):
                if name not in got:
                    continue
                sdf = got[name]
                bad = audit_types(sdf, odf, duck_types) + compare(name, sdf, odf)
                if bad:
                    res.failed += 1
                    res.problems.append(f"{name} ({when}): " + "; ".join(bad))
                elif len(sdf) == 0:
                    res.failed += 1
                    res.problems.append(f"{name} ({when}): empty result, check is vacuous")
    finally:
        con.close()
    return res


# ------------------------------------------------------------ twins

def steady_batches(seconds: int) -> int:
    """Measured micro-batches per twin for a run of ``seconds``."""
    return max(2, round(seconds / TWIN_ROUND_S))


def prepare_twins(data: str, seed: int, seconds: int) -> None:
    import gen

    n = WARMUP_BATCHES + steady_batches(seconds)
    gen.write_doc_batches(f"{data}/batches", seed, n, BATCH_DOCS)


def _start_twin(ctx: Ctx, twin: str, src: str, schema):
    from streamtasks_spark.streaming import stateful as st

    w = f"{ctx.work}/{twin}"
    stream = (ctx.spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    if twin == "dedup_exact":
        # watermark wider than the whole ts span: no hash expires mid-run
        return (st.streaming_dedup_exact(stream, watermark_delay="3650 days")
                .writeStream.format("memory").queryName("perfbench_dedup_exact")
                .option("checkpointLocation", f"{w}/ckpt").start())
    if twin == "heavy_hitters":
        return st.streaming_heavy_hitters(
            stream, state_path=f"{w}/state", reports_path=f"{w}/reports",
            checkpoint=f"{w}/ckpt")
    return st.streaming_dedup_minhash(
        stream, index_path=f"{w}/index", pairs_path=f"{w}/pairs",
        checkpoint=f"{w}/ckpt", threshold=0.5)


def _feed(files: list[str], src: str) -> None:
    for f in files:
        os.replace(f, f"{src}/{os.path.basename(f)}")


def run_twins(ctx: Ctx) -> Result:
    spark, res = ctx.spark, Result()
    n_steady = steady_batches(ctx.seconds)
    pool = sorted(os.listdir(f"{ctx.data}/batches"))
    schema = spark.read.parquet(f"{ctx.data}/batches/{pool[0]}").schema
    lat: dict[str, list[float]] = {}
    cpu: dict[str, list[float]] = {}
    engine = {k: [] for k in ENGINE_KEYS}
    batches = data_batches = 0
    jobs = probe.JobDelta()
    untimed = 0.0
    first = True
    for twin in TWINS:
        t_w = time.perf_counter()
        src = f"{ctx.work}/{twin}/src"
        os.makedirs(src)
        # each twin reads its own copy of the batch files
        files = []
        for name in pool:
            shutil.copy2(f"{ctx.data}/batches/{name}", f"{ctx.work}/{twin}/{name}")
            files.append(f"{ctx.work}/{twin}/{name}")
        _feed(files[:WARMUP_BATCHES], src)
        q = _start_twin(ctx, twin, src, schema)
        q.processAllAvailable()
        _take(ctx)
        if first:
            res.setup_s = time.perf_counter() - ctx.t_start
            if ctx.rss is not None:
                ctx.rss.start()
            first = False
        else:
            untimed += time.perf_counter() - t_w
        n_prog = len(q.recentProgress)
        if ctx.tracer:
            ctx.tracer.op = f"{twin}:steady"
        # closed loop: the next batch file arrives when the last one is
        # committed, so each batch's CPU is the process tree's delta
        cpu[twin] = []
        t0 = time.perf_counter()
        for f in files[WARMUP_BATCHES:]:
            c0 = probe.tree_cpu_s(PID)
            _feed([f], src)
            q.processAllAvailable()
            cpu[twin].append(probe.tree_cpu_s(PID) - c0)
        res.wall_s += time.perf_counter() - t0
        if ctx.tracer:
            ctx.tracer.op = None
        d = _take(ctx)
        jobs.jobs += d.jobs
        jobs.tasks += d.tasks
        jobs.tasks_failed += d.tasks_failed
        prog = q.recentProgress[n_prog:]
        q.stop()
        steady = [p for p in prog if p.numInputRows > 0]
        batches += len(prog)
        data_batches += len(steady)
        res.attempted += n_steady
        if len(steady) != n_steady:
            res.failed += abs(n_steady - len(steady))
            res.problems.append(f"{twin}: {len(steady)} data batches, expected {n_steady}")
        lat[twin] = [p.durationMs["triggerExecution"] for p in steady]
        res.op_ms += lat[twin]
        for p in steady:
            for k in ENGINE_KEYS:
                engine[k].append(p.durationMs.get(k, 0))
        if twin == "dedup_exact":
            res.layer["streaming.state_rows"] = sum(
                o.numRowsTotal for o in prog[-1].stateOperators)
        log(f"{twin}: steady batches ms {lat[twin]}, CPU s {[round(c, 2) for c in cpu[twin]]}")
    if ctx.rss is not None:
        ctx.rss.stop()
    res.setup_s += untimed
    res.per_query_s = {t: [v / 1e3 for v in lat[t]] for t in TWINS}
    res.per_query_cpu_s = cpu

    L = res.layer
    for t in TWINS:
        L[f"streaming.stateful.{t}.batch_p50_ms"] = statistics.median(lat[t])
    xs = lat["dedup_minhash"]
    mx = (len(xs) - 1) / 2
    L["streaming.stateful.dedup_minhash.slope_ms_per_batch"] = sum(
        (i - mx) * (x - statistics.fmean(xs)) for i, x in enumerate(xs)
    ) / sum((i - mx) ** 2 for i in range(len(xs)))
    for k in ENGINE_KEYS:
        L[f"streaming.engine.{k}_ms"] = statistics.median(engine[k])
    L["streaming.jobs_per_batch"] = jobs.jobs / data_batches
    L["streaming.tasks_per_batch"] = jobs.tasks / data_batches
    L["streaming.useful_batch_frac"] = data_batches / batches
    L["spark.tasks_failed"] = jobs.tasks_failed

    t_check = time.perf_counter()
    _check_twins(ctx, res)
    log(f"twin_ingest: checks {time.perf_counter() - t_check:.1f}s")
    return res


def _check_twins(ctx: Ctx, res: Result) -> None:
    """Each twin's final durable state against the one-shot batch
    computation over every doc it ingested."""
    from pyspark.sql import functions as F
    from streamtasks_spark.llmdata.dedup import (
        dedup_exact, snapshot_read, spread, tokens_expr)

    spark = ctx.spark

    def fail(twin, msg):
        res.failed += 1
        res.problems.append(f"{twin}: {msg}")

    def docs(twin, lo=0, hi=None):
        src = f"{ctx.work}/{twin}/src"
        names = sorted(os.listdir(src))[lo:hi]
        return spark.read.parquet(*[f"{src}/{n}" for n in names]).select("doc_id", "text")

    expect = {(r["norm_hash"], r["keep_id"]) for r in dedup_exact(docs("dedup_exact")).collect()}
    got = [(r["norm_hash"], r["doc_id"]) for r in
           spark.table("perfbench_dedup_exact").select("norm_hash", "doc_id").collect()]
    if len(got) != len(set(got)) or set(got) != expect:
        fail("dedup_exact", f"{len(got)} survivors vs {len(expect)} one-shot")
    elif len(expect) == docs("dedup_exact").count():
        fail("dedup_exact", "no duplicates in the input, check is vacuous")

    # the one-shot Count-Min grid, built the way the twin builds a batch's
    # cells (its defaults: depth 4, width 256)
    w = f"{ctx.work}/heavy_hitters"
    counts = spread(docs("heavy_hitters"), "doc_id").select(
        F.explode(F.expr(tokens_expr("text"))).alias("__t")
    ).groupBy("__t").agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
    bucket = ("pmod(cast(conv(substring(md5(concat(cast({j} as string), "
              "':', __t)), 1, 12), 16, 10) as bigint), 256)")
    parts = [counts.select(F.lit(j).alias("__row"), F.expr(bucket.format(j=j)).alias("__bucket"), "__c")
             for j in range(4)]
    allc = parts[0]
    for p in parts[1:]:
        allc = allc.unionByName(p)
    expect = {(r["__row"], r["__bucket"]): r["s"] for r in
              allc.groupBy("__row", "__bucket").agg(F.sum("__c").alias("s")).collect()}
    got = {(r["__row"], r["__bucket"]): r["__cell"] for r in
           snapshot_read(spark, f"{w}/state").collect()}
    if got != expect:
        fail("heavy_hitters", "CMS grid differs from the one-shot sketch")

    # near-dup pairs against the dedup_minhash query's DuckDB oracle over
    # every ingested doc (the one-shot batch result, without Spark)
    import duckdb
    import __spark_entry__ as entry
    from check_oracle import compare

    src = f"{ctx.work}/dedup_minhash/src"
    files = [f"{src}/{n}" for n in sorted(os.listdir(src))]
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet({files!r})")
        odf = con.execute(entry.oracle_sql()["dedup_minhash"]).df()
    finally:
        con.close()
    sdf = spark.read.parquet(f"{ctx.work}/dedup_minhash/pairs").select(
        "doc_a", "doc_b", "jaccard").toPandas()
    bad = compare("dedup_minhash", sdf, odf)
    if bad:
        fail("dedup_minhash", "; ".join(bad))
    elif odf.empty:
        fail("dedup_minhash", "no near-dup pairs, check is vacuous")
