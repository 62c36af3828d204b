"""Pipeline (deployment layer) tests: lifecycle validation + batch and
streaming materialization."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from streamtasks_spark.plans import Pipeline, PipelineError


def test_validate_rejects_unknown_dep():
    p = Pipeline("x")
    p.stage("a", lambda df: df, "nope")
    with pytest.raises(PipelineError, match="unknown"):
        p.validate()


def test_validate_rejects_cycle():
    p = Pipeline("x")
    p.stage("a", lambda df: df, "b")
    p.stage("b", lambda df: df, "a")
    with pytest.raises(PipelineError, match="cycle"):
        p.validate()


def test_validate_rejects_duplicate():
    p = Pipeline("x")
    p.source("a", lambda s: None)
    with pytest.raises(PipelineError, match="duplicate"):
        p.source("a", lambda s: None)


def test_batch_materialize_builds_dag(spark):
    p = Pipeline("t")
    p.source("nums", lambda s: s.range(100))
    p.stage("even", lambda df: df.filter(F.col("id") % 2 == 0), "nums")
    p.stage("sum", lambda df: df.agg(F.sum("id").alias("s")), "even")
    out = p.materialize(spark)
    assert set(out) == {"nums", "even", "sum"}
    assert out["sum"].collect()[0]["s"] == sum(range(0, 100, 2))


def test_entry_flagship_runs(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"hour", "event_type", "n", "sum_calc"}


def test_streaming_start_stop(spark, tmp_path):
    from streamtasks_spark.streaming.sources import pulse_generator

    p = Pipeline(f"s_{uuid.uuid4().hex[:6]}")
    p.source("pulse", lambda s: pulse_generator(s, interval_ms=100))
    p.stage("flagged", lambda df: df.withColumn("flag", F.lit(1)), "pulse")
    queries = p.start(
        spark,
        sinks={
            "flagged": {
                "format": "memory",
                "checkpointLocation": str(tmp_path / "ckpt"),
            }
        },
    )
    assert len(queries) == 1 and queries[0].isActive
    p.stop()
    assert not queries[0].isActive


def test_deployment_multi_operator_graph_matches_batch(spark, tmp_path):
    """Reference-style deployment (task_web.py:267-316 wires several
    tasks over topics, then schedule/start/stop as a unit): ONE source
    branching into a data topic and a control topic, re-joined by a
    Gate, then a Calculator formula over the gated stream — declared as
    a Pipeline DAG, drained with an availableNow trigger, and the
    result must equal the batch composition of the same operators."""
    import time as _time

    from streamtasks_spark.core.timeutil import ensure_event_time
    from streamtasks_spark.functions.calculator import compile_column
    from streamtasks_spark.operators.stateful import gate
    from streamtasks_spark.session import read_parquet
    from streamtasks_spark.streaming.stateful import streaming_gate

    sf = "/root/testdata/sf0.001"
    ev_b = read_parquet(spark, f"{sf}/events.parquet")

    def split_data(ev):
        return ev.filter(F.col("event_type").isin("click", "view"))

    def split_ctl(ev):
        return ev.filter(F.col("event_type") == "purchase").withColumn(
            "value",
            F.when(F.col("value") > 25, F.lit(1.0)).otherwise(F.lit(0.0)),
        )

    def formula(df):
        return df.withColumn(
            "calc",
            compile_column(
                "value * 2 + max(value, 10)", {"value": F.col("value")}
            ),
        )

    expect = {
        (r["event_id"], r["calc"])
        for r in formula(
            gate(split_data(ev_b), split_ctl(ev_b),
                 keys=["user_id"], seq_col="event_id")
        ).collect()
    }

    # two time-split files -> two micro-batches with cross-batch latching
    d = tmp_path / "events_in"
    mid = ev_b.approxQuantile("event_id", [0.5], 0.0)[0]
    ev_b.filter(F.col("event_id") <= mid).coalesce(1).write.parquet(
        str(d / "p1")
    )
    _time.sleep(1.1)  # file-source ordering is by modification time
    ev_b.filter(F.col("event_id") > mid).coalesce(1).write.parquet(
        str(d / "p2")
    )

    p = Pipeline(f"deploy_{uuid.uuid4().hex[:6]}")
    p.source(
        "events",
        lambda s: ensure_event_time(
            s.readStream.schema(ev_b.schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(str(d))
        ),
    )
    p.stage("data", split_data, "events")
    p.stage("ctl", split_ctl, "events")
    p.stage(
        "gated",
        lambda data, ctl: streaming_gate(
            data, ctl, keys=["user_id"], seq_col="event_id"
        ),
        "data", "ctl",
    )
    p.stage("calc", formula, "gated")
    out = str(tmp_path / "deploy_out")
    queries = p.start(
        spark,
        sinks={
            "calc": {
                "format": "parquet",
                "path": out,
                "trigger": {"availableNow": True},
                "checkpointLocation": str(tmp_path / "ckpt_deploy"),
            }
        },
    )
    try:
        for q in queries:
            assert q.awaitTermination(180)
    finally:
        p.stop()
    got = {
        (r["event_id"], r["calc"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == expect


def test_start_rejects_batch_sink(spark):
    p = Pipeline("b")
    p.source("nums", lambda s: s.range(10))
    with pytest.raises(PipelineError, match="not streaming"):
        p.start(spark, sinks={"nums": {"format": "memory"}})


def test_write_dataset_plans_shards_and_partitions(spark, tmp_path):
    import glob

    from pyspark.sql import functions as F

    from streamtasks_spark.core.dataset import plan_shards, write_dataset

    df = spark.range(0, 10_000).select(
        F.col("id"),
        (F.col("id") % 4).cast("string").alias("part"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    n, est = plan_shards(df, target_file_mb=1)
    assert n >= 1 and est > 0

    out = str(tmp_path / "ds")
    manifest = write_dataset(
        df, out, partition_by=["part"], sort_within=["id"],
        target_file_mb=1,
    )
    assert manifest["n_shards"] == n
    # partition directories exist and the dataset round-trips completely
    dirs = sorted(
        p.split("part=")[1] for p in glob.glob(f"{out}/part=*")
    )
    assert dirs == ["0", "1", "2", "3"]
    back = spark.read.parquet(out)
    assert back.count() == 10_000
    assert set(back.columns) == {"id", "part", "payload"}
    # sort_within produced monotone ids inside each file
    import pyarrow.parquet as pq

    f = glob.glob(f"{out}/part=0/*.parquet")[0]
    ids = pq.read_table(f, columns=["id"]).column("id").to_pylist()
    assert ids == sorted(ids)


def test_write_dataset_max_records_splits_files(spark, tmp_path):
    import glob

    from streamtasks_spark.core.dataset import write_dataset

    df = spark.range(0, 1000).coalesce(1)
    out = str(tmp_path / "cap")
    write_dataset(df, out, max_records_per_file=100, target_file_mb=10_000)
    files = glob.glob(f"{out}/*.parquet")
    assert len(files) >= 10  # 1000 rows / 100-record cap


def test_deployment_resume_with_run_id_keeps_state_and_offsets(
    spark, tmp_path
):
    """Stop/start lifecycle parity (reference task_web.py:286-316): a
    deployment restarted under the same run_id must resume from its
    checkpoints — already-read files are not reprocessed, and stateful
    operator state (the gate's latched control) survives the restart."""
    import time as _time

    from pyspark.sql import functions as F

    from streamtasks_spark.core.timeutil import ensure_event_time
    from streamtasks_spark.streaming.stateful import streaming_gate

    d = tmp_path / "in"
    schema = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double"
    )

    def write_file(sub, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(d / sub)
        )

    from datetime import datetime

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    # run 1: control OPENS the gate for user 7; one data row passes
    write_file("p1", [
        (1, t(1), 7, "purchase", 30.0),   # control: open (>25 -> 1.0)
        (2, t(2), 7, "click", 5.0),       # passes
    ])

    def build(p):
        p.source(
            "events",
            lambda s: ensure_event_time(
                s.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1")
                .option("recursiveFileLookup", "true")
                .parquet(str(d))
            ),
        )
        p.stage(
            "data",
            lambda ev: ev.filter(F.col("event_type") == "click"),
            "events",
        )
        p.stage(
            "ctl",
            lambda ev: ev.filter(F.col("event_type") == "purchase")
            .withColumn(
                "value",
                F.when(F.col("value") > 25, F.lit(1.0)).otherwise(F.lit(0.0)),
            ),
            "events",
        )
        p.stage(
            "gated",
            lambda data, ctl: streaming_gate(
                data, ctl, keys=["user_id"], seq_col="event_id"
            ),
            "data", "ctl",
        )
        return p

    out = str(tmp_path / "out")
    sink = {
        "gated": {
            "format": "parquet",
            "path": out,
            "trigger": {"availableNow": True},
        }
    }
    root = str(tmp_path / "ckpt_root")

    p1 = build(Pipeline("resume_demo"))
    qs = p1.start(spark, sinks=sink, checkpoint_root=root, run_id="run7")
    for q in qs:
        assert q.awaitTermination(120)
    p1.stop()
    first = {r["event_id"] for r in spark.read.parquet(out).collect()}
    assert first == {2}

    # run 2: ONLY new data rows — no fresh control. They pass iff the
    # gate's latch was restored from the run's checkpointed state.
    _time.sleep(1.1)  # file-source ordering is by modification time
    write_file("p2", [
        (3, t(10), 7, "click", 6.0),   # passes only via restored latch
        (4, t(11), 8, "click", 7.0),   # user 8 never opened: dropped
    ])
    p2 = build(Pipeline("resume_demo"))
    qs = p2.start(spark, sinks=sink, checkpoint_root=root, run_id="run7")
    for q in qs:
        assert q.awaitTermination(120)
    p2.stop()
    got = {r["event_id"] for r in spark.read.parquet(out).collect()}
    # no duplicate of event 2 (offsets resumed), event 3 passed (state
    # restored), event 4 dropped (no control for user 8)
    assert got == {2, 3}


@pytest.mark.slow  # slow tier (pytest.ini, r12)
def test_deployment_graph_killed_midrun_resumes_exactly_once(
    spark, tmp_path
):
    """Crash-restart soak for a COMPOSED deployment: one source fans out
    into TWO stateful twins (gate + SR latch) with independent sinks;
    the run is stopped abruptly mid-drain (after ≥1 committed
    micro-batch, with several still pending — an in-flight batch at
    stop time is aborted uncommitted, which is exactly the crash case),
    more data arrives, and a restart under the same run_id must
    produce, across BOTH sinks at once, exactly the batch operators'
    output on the full data — no duplicates, no losses, state
    recovered. Single-op restarts are covered in test_streaming.py;
    this pins the composed graph, where each sink tracks its own
    offsets and the kill lands at a different batch per sink."""
    import time as _time
    from collections import Counter
    from datetime import datetime

    from streamtasks_spark.core.timeutil import ensure_event_time
    from streamtasks_spark.operators.stateful import gate, sr_latch
    from streamtasks_spark.streaming.stateful import (
        streaming_gate,
        streaming_sr_latch,
    )

    d = tmp_path / "in"
    schema = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double"
    )
    types = ["click", "purchase", "click", "error", "click", "click"]
    all_rows = [
        (
            i,
            datetime(2024, 1, 1, 0, i // 60, i % 60),
            i % 7,
            types[(i * 5 + i // 11) % len(types)],
            float((i * 13) % 50),
        )
        for i in range(400)
    ]

    def write_file(sub, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(d / sub)
        )

    # phase 1: 8 files -> 8 micro-batches per sink at 1 file/trigger
    for fi in range(8):
        write_file(f"p{fi}", all_rows[fi * 40 : (fi + 1) * 40])

    bool_val = lambda df: df.withColumn(  # noqa: E731
        "value",
        F.when(F.col("value") > 25, F.lit(1.0)).otherwise(F.lit(0.0)),
    )

    def build(p):
        p.source(
            "events",
            lambda s: ensure_event_time(
                s.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1")
                .option("recursiveFileLookup", "true")
                .parquet(str(d))
            ),
        )
        p.stage(
            "data",
            lambda ev: ev.filter(F.col("event_type") == "click"),
            "events",
        )
        p.stage(
            "ctl",
            lambda ev: bool_val(
                ev.filter(F.col("event_type") == "purchase")
            ),
            "events",
        )
        p.stage(
            "rst",
            lambda ev: bool_val(ev.filter(F.col("event_type") == "error")),
            "events",
        )
        p.stage(
            "gated",
            lambda data, ctl: streaming_gate(
                data, ctl, keys=["user_id"], seq_col="event_id"
            ),
            "data", "ctl",
        )
        p.stage(
            "latched",
            lambda ctl, rst: streaming_sr_latch(
                ctl, rst, keys=["user_id"], seq_col="event_id"
            ),
            "ctl", "rst",
        )
        return p

    out_g, out_l = str(tmp_path / "out_g"), str(tmp_path / "out_l")
    sinks = {
        "gated": {
            "format": "parquet", "path": out_g,
            "trigger": {"availableNow": True},
        },
        "latched": {
            "format": "parquet", "path": out_l,
            "trigger": {"availableNow": True},
        },
    }
    root = str(tmp_path / "ckpt_root")

    p1 = build(Pipeline("soak"))
    qs = p1.start(spark, sinks=sinks, checkpoint_root=root, run_id="s1")
    # abrupt stop once every sink has committed ≥1 batch (the stop
    # aborts whatever batch is in flight at that moment)
    deadline = _time.time() + 120
    while _time.time() < deadline:
        progs = [q.lastProgress for q in qs]
        if all(p is not None and p["batchId"] >= 1 for p in progs):
            break
        if all(not q.isActive for q in qs):
            break  # tiny batches drained before the kill landed
        _time.sleep(0.02)
    killed_midrun = any(q.isActive for q in qs)
    p1.stop()

    # phase 2: late data, then resume under the same run_id
    _time.sleep(1.1)  # file-source ordering is by modification time
    for fi in range(8, 10):
        write_file(f"p{fi}", all_rows[fi * 40 : (fi + 1) * 40])
    p2 = build(Pipeline("soak"))
    qs = p2.start(spark, sinks=sinks, checkpoint_root=root, run_id="s1")
    for q in qs:
        assert q.awaitTermination(120)
    p2.stop()

    # batch ground truth over ALL data through the same stage fns
    ev = spark.createDataFrame(all_rows, schema)
    clicks = ev.filter(F.col("event_type") == "click")
    ctl = bool_val(ev.filter(F.col("event_type") == "purchase"))
    rst = bool_val(ev.filter(F.col("event_type") == "error"))
    expect_g = Counter(
        (r["event_id"],)
        for r in gate(
            clicks, ctl, keys=["user_id"], seq_col="event_id"
        ).collect()
    )
    expect_l = Counter(
        (r["user_id"], r["ts"], r["value"])
        for r in sr_latch(
            ctl, rst, keys=["user_id"], seq_col="event_id"
        ).collect()
    )
    got_g = Counter(
        (r["event_id"],) for r in spark.read.parquet(out_g).collect()
    )
    got_l = Counter(
        (r["user_id"], r["ts"], r["value"])
        for r in spark.read.parquet(out_l).collect()
    )
    assert got_g == expect_g, "gate sink diverged after mid-run kill"
    assert got_l == expect_l, "latch sink diverged after mid-run kill"
    # documentation, not assertion: with 8 pending batches the abrupt
    # stop virtually always lands mid-run; if the drain won the race
    # the test still verified resume-from-clean-stop
    print(f"killed_midrun={killed_midrun}")


def test_shuffle_shards_matches_duckdb_bit_exactly(spark):
    """Deterministic global shuffle: the (shard, pos) addressing must be
    bit-identical across engines (same md5-derived hash), seed-stable,
    and a complete permutation of the corpus."""
    import duckdb

    from streamtasks_spark.core.dataset import (
        oracle_shuffle_shards_sql,
        shuffle_shards,
    )
    from streamtasks_spark.oracle import compare
    from streamtasks_spark.session import read_parquet

    docs = read_parquet(spark, "/root/testdata/sf0.001/documents.parquet")
    got = shuffle_shards(
        docs.select("doc_id"), id_cols=["doc_id"], n_shards=8, seed=3
    ).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    want = con.execute(
        oracle_shuffle_shards_sql(
            "documents", id_cols=["doc_id"], n_shards=8, seed=3
        )
    ).df()
    assert compare("shuffle_shards", got, want) == []

    # complete permutation: every doc exactly once, every shard densely
    # numbered 0..k-1
    n = docs.count()
    assert len(got) == n and got["doc_id"].nunique() == n
    for _, g in got.groupby("shard"):
        assert sorted(g["pos"]) == list(range(len(g)))

    # a different seed re-permutes (some address must move)
    got2 = shuffle_shards(
        docs.select("doc_id"), id_cols=["doc_id"], n_shards=8, seed=4
    ).toPandas()
    merged = got.merge(got2, on="doc_id", suffixes=("_a", "_b"))
    assert (
        (merged["shard_a"] != merged["shard_b"])
        | (merged["pos_a"] != merged["pos_b"])
    ).any()


def test_examples_import_cleanly():
    """examples/ scripts (reference examples/ parity) must at least
    import — full runs are manual (each spins its own session)."""
    import importlib.util
    import os

    exdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "examples",
    )
    mods = sorted(f for f in os.listdir(exdir) if f.endswith(".py"))
    assert len(mods) >= 3
    for f in mods:
        spec = importlib.util.spec_from_file_location(
            f"example_{f[:-3]}", os.path.join(exdir, f)
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        assert callable(getattr(mod, "main", None)), f


def test_contamination_report_semantics_and_gate(spark):
    """Per-eval-item contamination (r08): an eval doc fully embedded in
    the corpus reads 1.0 with the right corpus-doc fan-in; a disjoint
    one reads 0.0; a half-overlapping one reads the exact gram
    fraction; an eval doc shorter than n tokens is excluded (the
    decontaminate gate)."""
    from pyspark.sql import functions as F

    from streamtasks_spark.llmdata import pipeline

    w = lambda k, n: " ".join(f"{k}{i}" for i in range(n))  # noqa: E731
    corpus = spark.createDataFrame(
        [
            (1, w("a", 12)),                      # contains eval 10 fully
            (2, w("a", 12) + " tail x y z"),      # second hit doc
            (3, w("q", 12)),                      # disjoint filler
        ],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame(
        [
            (10, w("a", 12)),                     # fully contained
            (11, w("z", 12)),                     # disjoint -> 0.0
            # grams 1-5 of a0..a11 present, rest unique -> partial
            (12, w("a", 9) + " u1 u2 u3"),
            (13, "too short"),                    # < 8 tokens: excluded
        ],
        "doc_id long, text string",
    )
    out = {
        r["eval_id"]: r
        for r in pipeline.contamination_report(corpus, evals, n=4).collect()
    }
    assert set(out) == {10, 11, 12}
    assert out[10]["contamination"] == 1.0
    assert out[10]["n_corpus_docs"] == 2
    assert out[11]["contamination"] == 0.0
    assert out[11]["n_corpus_docs"] == 0
    assert 0.0 < out[12]["contamination"] < 1.0
    # exact fraction: 12 tokens -> 9 grams at n=4; a-run grams a0..a5
    # start positions 0..5 (6 hit grams)
    assert out[12]["n_grams"] == 9 and out[12]["n_hit_grams"] == 6
    assert out[12]["contamination"] == round(6 / 9, 6)


def test_contamination_report_null_and_duplicate_eval_ids(spark):
    """r09 (r08 advisor finding): a NULL-id eval item must survive the
    final join (the plain equi-join zeroed it to contamination 0.0 even
    when fully contained), and rows sharing an eval id merge — n_grams
    is the distinct gram count of their UNION, so contamination stays
    ≤ 1.0 where the old shape divided one merged hit-set by each row's
    own gram count."""
    from streamtasks_spark.llmdata import pipeline

    w = lambda k, n: " ".join(f"{k}{i}" for i in range(n))  # noqa: E731
    corpus = spark.createDataFrame(
        [(1, w("a", 12)), (2, w("b", 12))], "doc_id long, text string"
    )
    evals = spark.createDataFrame(
        [
            (None, w("a", 12)),   # NULL id, fully contained
            (20, w("a", 12)),     # duplicated id, two disjoint halves:
            (20, w("b", 12)),     #   union = 18 grams, all hit
            (21, w("a", 12)),     # duplicated id with an uncontained
            (21, w("z", 12)),     #   half: union 18 grams, 9 hit
        ],
        "doc_id long, text string",
    )
    out = {
        r["eval_id"]: r
        for r in pipeline.contamination_report(corpus, evals, n=4).collect()
    }
    assert set(out) == {None, 20, 21}
    # NULL id reports its true contamination, not a silent 0.0
    assert out[None]["n_grams"] == 9
    assert out[None]["contamination"] == 1.0
    assert out[None]["n_corpus_docs"] == 1
    # duplicated ids merge; contamination can no longer exceed 1.0
    assert out[20]["n_grams"] == 18 and out[20]["n_hit_grams"] == 18
    assert out[20]["contamination"] == 1.0
    assert out[20]["n_corpus_docs"] == 2
    assert out[21]["n_grams"] == 18 and out[21]["n_hit_grams"] == 9
    assert out[21]["contamination"] == 0.5
    # identical duplicate rows collapse to one item with the row's own
    # gram count (the union is idempotent)
    evals2 = spark.createDataFrame(
        [(30, w("a", 12)), (30, w("a", 12))], "doc_id long, text string"
    )
    row = pipeline.contamination_report(corpus, evals2, n=4).collect()
    assert len(row) == 1 and row[0]["n_grams"] == 9
    assert row[0]["contamination"] == 1.0


def test_split_leakage_semantics(spark):
    """Cross-split leakage audit (NEW r09): reported rows are exactly
    the jaccard pairs whose endpoints land in different split_assign
    splits, with split labels identical to split_assign's own; within-
    split pairs are excluded; blocking is inherited (cross-lang dups
    never pair); max_df passes through to the pair generator."""
    from pyspark.sql import functions as F

    from streamtasks_spark.llmdata import dedup, pipeline

    # 40 base docs + 12 exact-dup partners (ids chosen densely so both
    # splits are hit) + one cross-lang dup that must never pair
    base = [(i, f"alpha{i} beta{i} gamma{i} delta{i} eps{i} zeta{i}", "en")
            for i in range(40)]
    dups = [(100 + i, f"alpha{i} beta{i} gamma{i} delta{i} eps{i} zeta{i}",
             "en") for i in range(12)]
    rows = base + dups + [(300, "alpha0 beta0 gamma0 delta0 eps0 zeta0", "de")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    splits = (("train", 0.5), ("heldout", 0.5))

    leaks = pipeline.split_leakage(
        docs, threshold=0.5, splits=splits, max_df=1000
    ).collect()
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.5, max_df=1000
        ).collect()
    }
    asg = {
        r["doc_id"]: r["split"]
        for r in pipeline.split_assign(docs, splits=splits).collect()
    }
    expected = {
        (a, b) for (a, b) in pairs if asg[a] != asg[b]
    }
    got = {(r["doc_a"], r["doc_b"]) for r in leaks}
    assert got == expected and expected, (got, expected)
    for r in leaks:
        assert r["split_a"] == asg[r["doc_a"]] != asg[r["doc_b"]] == r["split_b"]
        assert r["jaccard"] == pairs[(r["doc_a"], r["doc_b"])]
    assert all(300 not in p for p in pairs)  # blocking inherited
    # and there ARE within-split dups that were rightly excluded
    assert len(expected) < len(pairs)
