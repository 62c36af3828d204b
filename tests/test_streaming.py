"""Streaming tier smoke tests: each streaming operator must reproduce
its batch twin's output on the same data (the engine's batch/stream
duality contract, SURVEY §7.1)."""

from __future__ import annotations

import time
import uuid

import pytest
from pyspark.sql import functions as F

from streamtasks_spark.core.timeutil import ensure_event_time
from streamtasks_spark.operators.joins import ordered_merge
from streamtasks_spark.operators.stateful import gate
from streamtasks_spark.session import read_parquet
from streamtasks_spark.streaming.sources import parquet_stream, pulse_generator
from streamtasks_spark.streaming.stateful import (
    streaming_gate,
    streaming_ordered_merge,
)

SF_DIR = "/root/testdata/sf0.001"


def run_to_memory(spark, df, tmp_path):
    name = f"t_{uuid.uuid4().hex[:8]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_pulse_generator_emits(spark, tmp_path):
    df = pulse_generator(spark, interval_ms=100, id_mode=True)
    assert df.isStreaming
    assert [f.name for f in df.schema] == ["ts", "id"]
    name = f"pulse_{uuid.uuid4().hex[:8]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline and spark.table(name).count() == 0:
            time.sleep(0.5)
        rows = spark.table(name).collect()
    finally:
        q.stop()
    assert len(rows) > 0
    assert all(r["id"] and r["ts"] is not None for r in rows)


@pytest.fixture(scope="module")
def event_dir(spark, tmp_path_factory):
    """events sf0.001 re-written as two parquet files split by time —
    the ordered-ingestion shape (reference topics are nondecreasing per
    stream, SURVEY §1.3); maxFilesPerTrigger=1 then yields two
    micro-batches with real cross-batch state latching."""
    ev = read_parquet(spark, f"{SF_DIR}/events.parquet")
    mid = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    d = tmp_path_factory.mktemp("events_stream")
    ev.filter(F.col("event_id") <= mid).coalesce(1).write.parquet(str(d / "p1"))
    time.sleep(1.1)  # file-source ordering is by modification time
    ev.filter(F.col("event_id") > mid).coalesce(1).write.parquet(str(d / "p2"))
    return d


def _events_stream(spark, event_dir):
    schema = read_parquet(spark, f"{SF_DIR}/events.parquet").schema
    return ensure_event_time(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(event_dir))
    )


def test_streaming_gate_matches_batch(spark, tmp_path, event_dir):
    """events are split into time-ordered files, so per-batch event-time
    processing with cross-batch latching must equal the batch gate."""
    ev_b = read_parquet(spark, f"{SF_DIR}/events.parquet")
    data_b = ev_b.filter(F.col("event_type").isin("click", "view"))
    ctl = lambda df: df.filter(F.col("event_type") == "purchase").withColumn(
        "value", F.when(F.col("value") > 25, F.lit(1.0)).otherwise(F.lit(0.0))
    )
    expect = {
        r["event_id"]
        for r in gate(
            data_b, ctl(ev_b), keys=["user_id"], seq_col="event_id"
        ).collect()
    }

    ev_s = _events_stream(spark, event_dir)
    data_s = ev_s.filter(F.col("event_type").isin("click", "view"))
    out = streaming_gate(
        data_s, ctl(ev_s), keys=["user_id"], seq_col="event_id"
    )
    got_df = run_to_memory(spark, out, tmp_path)
    got = {r["event_id"] for r in got_df.collect()}
    assert got == expect


def test_streaming_ordered_merge_drops_late(spark, tmp_path, event_dir):
    """Same adversarial permuted-arrival check as the batch oracle: the
    streaming drop-late state must reproduce ordered_merge exactly."""
    arrival = (F.col("event_id") * F.lit(2654435761)) % F.lit(4294967296)

    def three(df):
        return [
            df.filter(F.col("event_type") == t)
            .select("user_id", "ts", "value", "event_id")
            .withColumn("arrival", arrival)
            for t in ("click", "view", "error")
        ]

    ev_b = read_parquet(spark, f"{SF_DIR}/events.parquet")
    expect = {
        (r["event_id"], r["stream_idx"])
        for r in ordered_merge(
            three(ev_b), keys=["user_id"], drop_late=True, seq_col="arrival"
        ).collect()
    }

    # single time-split isn't meaningful for per-stream lateness (arrival
    # is the permuted seq), so feed everything in one batch
    ev_s = parquet_stream(spark, str(event_dir / "p1")).unionByName(
        parquet_stream(spark, str(event_dir / "p2"))
    )
    out = streaming_ordered_merge(
        three(ev_s), keys=["user_id"], seq_col="arrival"
    )
    got_df = run_to_memory(spark, out, tmp_path)
    got = {(r["event_id"], r["stream_idx"]) for r in got_df.collect()}
    assert got == expect


def test_streaming_switch_matches_batch(spark, tmp_path, event_dir):
    from streamtasks_spark.operators.stateful import switch
    from streamtasks_spark.streaming.stateful import streaming_switch

    def parts(df):
        p = lambda t: df.filter(F.col("event_type") == t)
        return [(p("view"), p("click")), (p("error"), p("purchase"))]

    ev_b = read_parquet(spark, f"{SF_DIR}/events.parquet")
    expect = {
        r["event_id"]
        for r in switch(parts(ev_b), keys=["user_id"], seq_col="event_id").collect()
    }

    ev_s = _events_stream(spark, event_dir)
    out = streaming_switch(parts(ev_s), keys=["user_id"], seq_col="event_id")
    got_df = run_to_memory(spark, out, tmp_path)
    got = {r["event_id"] for r in got_df.collect()}
    assert got == expect
    assert expect


def test_streaming_sr_latch_matches_batch(spark, tmp_path, event_dir):
    from streamtasks_spark.operators.stateful import sr_latch
    from streamtasks_spark.streaming.stateful import streaming_sr_latch

    def sr(df):
        ctl = F.when(F.col("value") > 25, 1.0).otherwise(0.0)
        s = df.filter(F.col("event_type") == "purchase").withColumn("value", ctl)
        r = df.filter(F.col("event_type") == "error").withColumn("value", ctl)
        return s, r

    ev_b = read_parquet(spark, f"{SF_DIR}/events.parquet")
    s_b, r_b = sr(ev_b)
    expect = sorted(
        (r["user_id"], r["ts"], r["value"])
        for r in sr_latch(s_b, r_b, keys=["user_id"], seq_col="event_id").collect()
    )

    ev_s = _events_stream(spark, event_dir)
    s_s, r_s = sr(ev_s)
    out = streaming_sr_latch(s_s, r_s, keys=["user_id"], seq_col="event_id")
    got_df = run_to_memory(spark, out, tmp_path)
    got = sorted(
        (r["user_id"], r["ts"], r["value"]) for r in got_df.collect()
    )
    assert got == expect
    assert expect


def test_streaming_pause_state_matches_batch(spark, tmp_path, event_dir):
    """Pause latch-and-replay across micro-batches: the annotated paused
    column must equal the batch operator's on the same data."""
    from streamtasks_spark.operators.stateful import pause_state
    from streamtasks_spark.streaming.stateful import streaming_pause_state

    def split(df):
        data = df.filter(F.col("event_type") == "click")
        ctl = df.filter(F.col("event_type") == "error").withColumn(
            "value", F.when(F.col("value") > 25, F.lit(1.0)).otherwise(F.lit(0.0))
        )
        return data, ctl

    ev_b = read_parquet(spark, f"{SF_DIR}/events.parquet")
    d_b, c_b = split(ev_b)
    expect = {
        (r["event_id"], r["paused"])
        for r in pause_state(d_b, c_b, keys=["user_id"], seq_col="event_id").collect()
    }

    ev_s = _events_stream(spark, event_dir)
    d_s, c_s = split(ev_s)
    out = streaming_pause_state(d_s, c_s, keys=["user_id"], seq_col="event_id")
    got_df = run_to_memory(spark, out, tmp_path)
    got = {(r["event_id"], r["paused"]) for r in got_df.collect()}
    assert got == expect
    assert any(p for _, p in expect) and any(not p for _, p in expect)


def test_pulse_calculator_slice(spark, tmp_path):
    """SURVEY §7.2 step 1's streaming minimum slice: pulse →
    calculator expression → sink, end-to-end on the rate source."""
    from streamtasks_spark.functions import calculator as calc

    pulse = pulse_generator(spark, interval_ms=50)
    stream = pulse.withColumn("v", F.unix_micros("ts").cast("double") % 100)
    out = stream.withColumn(
        "calc", calc.compile_column("sin(v) * 2 + max(v, 10)", {"v": F.col("v")})
    )
    name = f"slice_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline and spark.table(name).count() == 0:
            time.sleep(0.5)
        rows = spark.table(name).collect()
    finally:
        q.stop()
    import math

    assert rows
    for r in rows:
        assert r["calc"] == pytest.approx(
            math.sin(r["v"]) * 2 + max(r["v"], 10.0)
        )


def test_viewer_sinks_deliver_rows(spark, tmp_path, event_dir):
    """memory_viewer exposes the stream as a queryable table;
    foreach_batch_viewer delivers every micro-batch to a driver callback
    (the WebViewer transport point)."""
    from streamtasks_spark.streaming.sinks import (
        foreach_batch_viewer,
        memory_viewer,
    )

    src = parquet_stream(spark, str(event_dir / "p1"))
    name = f"viewer_{uuid.uuid4().hex[:8]}"
    q = memory_viewer(src, name, checkpoint=str(tmp_path / "v_ckpt"))
    try:
        deadline = time.time() + 60
        while time.time() < deadline and spark.table(name).count() == 0:
            time.sleep(0.5)
        n_mem = spark.table(name).count()
    finally:
        q.stop()
    assert n_mem > 0

    seen: list[tuple[int, int]] = []
    q2 = foreach_batch_viewer(
        src,
        lambda bdf, bid: seen.append((bid, bdf.count())),
        checkpoint=str(tmp_path / "fb_ckpt"),
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and not seen:
            time.sleep(0.5)
    finally:
        q2.stop()
    assert seen and seen[0][1] == n_mem


def test_streaming_time_buffer_holds_then_releases(spark, tmp_path):
    """Clock-mode TimeBuffer: rows must not appear before their
    processing-time hold elapses, and must come out with the ORIGINAL
    event timestamps (only delivery is delayed, reference
    timebuffer.py:20-77)."""
    from datetime import datetime

    from streamtasks_spark.streaming.stateful import streaming_time_buffer

    size_ms = 3000
    src = tmp_path / "tb_src"
    rows = [("k", datetime(2024, 1, 1, 0, 0, s), float(s)) for s in (1, 2, 3)]
    sdf = spark.createDataFrame(rows, "key string, ts timestamp, value double")
    sdf.coalesce(1).write.parquet(str(src / "p1"))

    stream = spark.readStream.schema(sdf.schema).option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    out = streaming_time_buffer(stream, keys=["key"], size_ms=size_ms)
    name = f"tb_{uuid.uuid4().hex[:8]}"
    t0 = time.time()
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "tb_ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        first_seen = None
        while time.time() - t0 < 60:
            if spark.table(name).count() == len(rows):
                first_seen = time.time() - t0
                break
            time.sleep(0.25)
        got = spark.table(name).collect()
    finally:
        q.stop()
    assert first_seen is not None, "buffered rows never released"
    # hold starts at batch processing (>= query start), so release can't
    # happen before t0 + size
    assert first_seen >= size_ms / 1000 * 0.9
    assert sorted((r["ts"].second, r["value"]) for r in got) == [
        (1, 1.0), (2, 2.0), (3, 3.0),
    ]


def test_streaming_message_detector_up_and_down_edges(spark, tmp_path):
    """Feed one batch of clicks, keep the query running with nothing new:
    the up edge appears immediately, the down edge after the
    processing-time timeout fires."""
    import uuid

    from streamtasks_spark.streaming.stateful import streaming_message_detector

    src_dir = tmp_path / "det_src"
    ev = read_parquet(spark, f"{SF_DIR}/events.parquet")
    one_user = ev.filter(
        (F.col("event_type") == "click") & (F.col("user_id") == 1)
    ).select("user_id", "ts")
    one_user.coalesce(1).write.parquet(str(src_dir / "p1"))

    stream = spark.readStream.schema(one_user.schema).option(
        "recursiveFileLookup", "true"
    ).parquet(str(src_dir))
    out = streaming_message_detector(
        stream, keys=["user_id"], timeout_ms=2000
    )
    name = f"det_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "det_ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 60
        rows = []
        while time.time() < deadline:
            rows = spark.table(name).collect()
            if len(rows) >= 2:
                break
            time.sleep(1)
    finally:
        q.stop()
    vals = sorted((r["value"], r["ts"]) for r in rows)
    assert [v for v, _ in vals] == [0.0, 1.0]
    up_ts = max(t for v, t in vals if v == 1.0)
    down_ts = max(t for v, t in vals if v == 0.0)
    expect_max = one_user.agg(F.max("ts")).collect()[0][0]
    assert up_ts == one_user.agg(F.min("ts")).collect()[0][0]
    assert (down_ts - expect_max).total_seconds() == 2.0


def test_streaming_dedup_exact_matches_batch(spark, tmp_path):
    """Streaming exact dedup must keep exactly the batch dedup_exact
    representatives. Duplicates are whitespace-perturbed copies arriving
    in a LATER micro-batch, so the test exercises both the text
    normalization and the cross-batch hash state."""
    from streamtasks_spark.llmdata.dedup import dedup_exact
    from streamtasks_spark.streaming.stateful import streaming_dedup_exact

    docs = read_parquet(spark, f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    dups = docs.filter(F.col("doc_id") <= 50).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.lit("  "), F.col("text"), F.lit("\t\n")).alias("text"),
    )
    # +1000 keeps every ts above the initial watermark (epoch 0) — a row
    # AT the watermark is late data and would be dropped, not deduped
    full = docs.unionByName(dups).withColumn(
        "ts", F.timestamp_seconds(F.col("doc_id") + 1000)
    )

    expect = {
        (r["norm_hash"], r["keep_id"])
        for r in dedup_exact(full).collect()
    }
    n_dup = full.count() - len(expect)
    assert n_dup == dups.count()  # the synthesized copies collapse, nothing else

    src = tmp_path / "dedup_src"
    full.filter(F.col("doc_id") <= 250).coalesce(1).write.parquet(str(src / "p1"))
    time.sleep(1.1)  # file-source ordering is by modification time
    full.filter(F.col("doc_id") > 250).coalesce(1).write.parquet(str(src / "p2"))
    stream = (
        spark.readStream.schema(full.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    # watermark wider than the full ts span so no hash state expires
    out = streaming_dedup_exact(stream, watermark_delay="6 hours")
    got_df = run_to_memory(spark, out, tmp_path)
    got = {(r["norm_hash"], r["doc_id"]) for r in got_df.collect()}
    assert got == expect


def test_streaming_paragraph_dedup_matches_batch(spark, tmp_path):
    """Streaming paragraph dedup must keep exactly the batch operator's
    surviving paragraphs, reassembling to the batch text_kept per doc.
    Duplicate paragraphs (a shared footer and whole-paragraph repeats)
    arrive in a LATER micro-batch than their originals, and every
    distinct paragraph appears at most once per batch — so first-arrival
    is unambiguous and must equal the batch min-(id, idx) winner."""
    from streamtasks_spark.llmdata.dedup import PARA_JOIN, paragraph_dedup
    from streamtasks_spark.streaming.stateful import streaming_paragraph_dedup

    nl = PARA_JOIN
    batch1 = [(1, f"intro one{nl}shared footer")] + [
        (k, f"body {k}") for k in range(2, 6)
    ]
    batch2 = [
        (100 + k, f"extra {k}{nl}shared footer{nl}body {k}")
        for k in range(2, 6)
    ]
    full = spark.createDataFrame(
        batch1 + batch2, "doc_id long, text string"
    ).withColumn("ts", F.timestamp_seconds(F.col("doc_id") + 1000))

    expect = {
        r["doc_id"]: (r["n_paras"], r["n_kept"], r["text_kept"])
        for r in paragraph_dedup(full.select("doc_id", "text")).collect()
    }
    # the batch operator collapses the footer and the body repeats
    assert expect[102] == (3, 1, "extra 2")

    src = tmp_path / "para_src"
    full.filter(F.col("doc_id") < 100).coalesce(1).write.parquet(str(src / "p1"))
    time.sleep(1.1)  # file-source ordering is by modification time
    full.filter(F.col("doc_id") >= 100).coalesce(1).write.parquet(str(src / "p2"))
    stream = (
        spark.readStream.schema(full.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    out = streaming_paragraph_dedup(stream, watermark_delay="6 hours")
    got_df = run_to_memory(spark, out, tmp_path)
    # sink-side reassembly: per-doc regroup of the surviving paragraphs
    got = {
        r["doc_id"]: (r["n_kept"], r["text_kept"])
        for r in got_df.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "para"))),
                    lambda x: x["para"],
                ),
                PARA_JOIN,
            ).alias("text_kept"),
        )
        .collect()
    }
    for doc_id, (n_paras, n_kept, text_kept) in expect.items():
        assert got.get(doc_id, (0, "")) == (n_kept, text_kept), doc_id


def _run_parquet_avail_now(build, out, ckpt):
    """One availableNow run of a freshly-built streaming pipeline into a
    parquet sink under a FIXED checkpoint — the restart unit: the next
    call with the same checkpoint resumes source offsets AND operator
    state exactly where this one stopped."""
    q = (
        build()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_streaming_paragraph_dedup_restart_restores_state(spark, tmp_path):
    """The native dedup state must survive a clean stop/restart: batch-2
    documents (arriving in a SECOND availableNow run against the same
    checkpoint) repeat batch-1 paragraphs, and the restored
    dropDuplicatesWithinWatermark state — not any in-memory residue —
    must drop them, reassembling to the one-shot batch output."""
    from streamtasks_spark.llmdata.dedup import PARA_JOIN, paragraph_dedup
    from streamtasks_spark.streaming.stateful import streaming_paragraph_dedup

    nl = PARA_JOIN
    b1 = [(1, f"intro one{nl}shared footer"), (2, "body two")]
    b2 = [(101, f"extra a{nl}shared footer"), (102, f"body two{nl}extra b")]
    mk = lambda rows: spark.createDataFrame(
        rows, "doc_id long, text string"
    ).withColumn("ts", F.timestamp_seconds(F.col("doc_id") + 1000))
    src, out = tmp_path / "pr_src", str(tmp_path / "pr_out")
    ckpt = str(tmp_path / "pr_ckpt")
    schema = mk(b1).schema

    def build():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )
        return streaming_paragraph_dedup(stream, watermark_delay="6 hours")

    mk(b1).coalesce(1).write.parquet(str(src / "p1"))
    _run_parquet_avail_now(build, out, ckpt)  # run 1: b1 only
    mk(b2).coalesce(1).write.parquet(str(src / "p2"))
    _run_parquet_avail_now(build, out, ckpt)  # restart: b2 via state

    got = {
        r["doc_id"]: (r["n_kept"], r["text_kept"])
        for r in spark.read.parquet(out)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "para"))),
                    lambda x: x["para"],
                ),
                PARA_JOIN,
            ).alias("text_kept"),
        )
        .collect()
    }
    expect = {
        r["doc_id"]: (r["n_kept"], r["text_kept"])
        for r in paragraph_dedup(
            mk(b1 + b2).select("doc_id", "text")
        ).collect()
        if r["n_kept"] > 0
    }
    assert got == expect
    assert got[101] == (1, "extra a") and got[102] == (1, "extra b")


def test_streaming_dedup_exact_restart_restores_state(spark, tmp_path):
    """Same restart contract for the document-level native twin: a
    batch-2 whitespace variant of a batch-1 doc must be dropped by the
    RESTORED hash state after a clean stop/restart."""
    from streamtasks_spark.streaming.stateful import streaming_dedup_exact

    mk = lambda rows: spark.createDataFrame(
        rows, "doc_id long, text string"
    ).withColumn("ts", F.timestamp_seconds(F.col("doc_id") + 1000))
    b1 = [(1, "alpha beta"), (2, "gamma")]
    b2 = [(101, "  alpha   beta "), (102, "delta")]
    src, out = tmp_path / "de_src", str(tmp_path / "de_out")
    ckpt = str(tmp_path / "de_ckpt")
    schema = mk(b1).schema

    def build():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )
        return streaming_dedup_exact(stream, watermark_delay="6 hours")

    mk(b1).coalesce(1).write.parquet(str(src / "p1"))
    _run_parquet_avail_now(build, out, ckpt)
    mk(b2).coalesce(1).write.parquet(str(src / "p2"))
    _run_parquet_avail_now(build, out, ckpt)

    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got == {1, 2, 102}  # 101 dropped by restored state


def test_streaming_llm_chat_matches_batch(spark, tmp_path, event_dir):
    """Conversation history latches across micro-batches: the streaming
    chat twin must produce the identical replies to the batch stub."""
    from streamtasks_spark.media.inference import llm_chat_stub
    from streamtasks_spark.streaming.stateful import streaming_llm_chat

    mk = lambda df: df.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id",
        F.concat(F.lit("m"), F.col("event_id").cast("string")).alias("value"),
    )
    ev_b = read_parquet(spark, f"{SF_DIR}/events.parquet")
    expect = {
        (r["user_id"], r["event_id"]): r["reply"]
        for r in llm_chat_stub(
            mk(ev_b), conversation_col="user_id", seq_col="event_id"
        ).collect()
    }

    ev_s = _events_stream(spark, event_dir)
    out = streaming_llm_chat(
        mk(ev_s), conversation_col="user_id", seq_col="event_id"
    )
    got_df = run_to_memory(spark, out, tmp_path)
    got = {(r["user_id"], r["event_id"]): r["reply"] for r in got_df.collect()}
    assert got == expect


def test_streaming_hourly_stats_emits_closed_windows(spark, tmp_path, event_dir):
    """Watermarked tumbling-window twin: append mode must emit exactly
    the batch windows whose end the final watermark passed, with
    identical aggregates."""
    import datetime

    from streamtasks_spark.relational.queries import events_hourly_stats
    from streamtasks_spark.streaming.windows import streaming_hourly_stats

    ev = read_parquet(spark, f"{SF_DIR}/events.parquet")
    out = streaming_hourly_stats(
        _events_stream(spark, event_dir), watermark_delay="2 hours"
    )
    got = run_to_memory(spark, out, tmp_path).collect()

    full = events_hourly_stats({"events": ev}).collect()
    wm = ev.agg(F.max("ts")).collect()[0][0] - datetime.timedelta(hours=2)
    closed = [
        r for r in full if (r["hour"] + datetime.timedelta(hours=1)) <= wm
    ]
    key = lambda r: (
        r["hour"], r["event_type"], r["n_events"], r["sum_value"],
        r["avg_value"],
    )
    assert set(map(key, got)) == set(map(key, closed))
    assert 0 < len(closed) < len(full)  # some windows closed, some open


def test_streaming_session_stats_matches_batch_sessions(spark, tmp_path, event_dir):
    """Native session_window twin: every emitted session must equal a
    batch sessionization row (start, count, sum), with the streaming
    window end = last event + gap; and every batch session the final
    watermark closed must be emitted."""
    import datetime

    from streamtasks_spark.relational.queries import events_session_windows
    from streamtasks_spark.streaming.windows import streaming_session_stats

    gap_min = 30
    ev = read_parquet(spark, f"{SF_DIR}/events.parquet")
    out = streaming_session_stats(
        _events_stream(spark, event_dir),
        gap_minutes=gap_min,
        watermark_delay="2 hours",
    )
    got = run_to_memory(spark, out, tmp_path).collect()

    batch = events_session_windows({"events": ev}, gap_minutes=gap_min).collect()
    gap = datetime.timedelta(minutes=gap_min)
    wm = ev.agg(F.max("ts")).collect()[0][0] - datetime.timedelta(hours=2)
    key = lambda start, end, uid, n, s: (start, end, uid, n, s)
    gset = {
        key(r["session_start"], r["session_end"] - gap, r["user_id"],
            r["n_events"], r["sum_value"])
        for r in got
    }
    closed = {
        key(r["session_start"], r["session_end"], r["user_id"],
            r["n_events"], r["sum_value"])
        for r in batch
        if r["session_end"] + gap <= wm
    }
    assert gset == closed
    assert 0 < len(closed) < len(batch)


def test_streaming_range_join_twin(spark, tmp_path, event_dir):
    """The batch range_join (bucketed equi-join) and Structured
    Streaming's NATIVE stream-stream interval join must produce the same
    pairs — the streaming side needs no custom operator, just watermarks
    bounding the join state."""
    from streamtasks_spark.operators.joins import range_join

    ev = read_parquet(spark, f"{SF_DIR}/events.parquet")
    clicks_b = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    wins_b = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 6 HOURS")).alias("end_ts"),
        F.col("event_id").alias("window_id"),
    )
    expected = sorted(
        (r["window_id"], r["ts"], r["value"])
        for r in range_join(
            clicks_b, wins_b, keys=["user_id"], bucket_minutes=120
        ).select("window_id", "ts", "value").collect()
    )

    from streamtasks_spark.streaming.stateful import streaming_interval_join

    evs = _events_stream(spark, event_dir)
    c = evs.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    evs2 = _events_stream(spark, event_dir)
    p = evs2.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 6 HOURS")).alias("end_ts"),
        F.col("event_id").alias("window_id"),
    )
    joined = streaming_interval_join(
        c, p, keys=["user_id"], left_delay="1 hour",
        interval_delay="7 hours", max_span="6 hours",
    ).select("window_id", "ts", "value")
    got = sorted(
        (r["window_id"], r["ts"], r["value"])
        for r in run_to_memory(spark, joined, tmp_path).collect()
    )
    assert len(got) > 0
    assert got == expected


def test_streaming_sliding_stats_matches_batch(spark, tmp_path, event_dir):
    """Sliding-window twin: append mode must emit exactly the batch
    sliding windows whose END the final watermark passed, with identical
    aggregates (each event feeds width/slide = 2 windows)."""
    import datetime

    from streamtasks_spark.relational.queries import events_sliding_stats
    from streamtasks_spark.streaming.windows import streaming_sliding_stats

    ev = read_parquet(spark, f"{SF_DIR}/events.parquet")
    out = streaming_sliding_stats(
        _events_stream(spark, event_dir), watermark_delay="3 hours"
    )
    got = run_to_memory(spark, out, tmp_path).collect()

    full = events_sliding_stats({"events": ev}).collect()
    wm = ev.agg(F.max("ts")).collect()[0][0] - datetime.timedelta(hours=3)
    closed = [
        r for r in full
        if (r["window_start"] + datetime.timedelta(hours=2)) <= wm
    ]
    key = lambda r: (
        r["window_start"], r["event_type"], r["n_events"], r["sum_value"]
    )
    assert set(map(key, got)) == set(map(key, closed))
    assert 0 < len(closed) < len(full)  # some windows closed, some open


def test_stateful_twin_survives_restart(spark, tmp_path):
    """Checkpoint recovery: run the gate twin over the first half of the
    data, STOP the query, add the second half, restart from the SAME
    checkpoint into a durable parquet sink. The per-user latched gate
    state must be recovered (not recomputed from scratch), and the
    combined output must equal the batch gate with no duplicate and no
    lost rows — the reference's restart semantics (deployments resume)
    expressed as Structured Streaming exactly-once recovery."""
    ev = read_parquet(spark, f"{SF_DIR}/events.parquet")
    mid = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    src_dir, out_dir, ckpt = tmp_path / "src", tmp_path / "out", tmp_path / "ck"
    ev.filter(F.col("event_id") <= mid).coalesce(1).write.parquet(
        str(src_dir / "p1")
    )

    schema = ev.schema
    ctl = lambda df: df.filter(F.col("event_type") == "purchase").withColumn(
        "value", F.when(F.col("value") > 25, F.lit(1.0)).otherwise(F.lit(0.0))
    )

    def run_once():
        s = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(str(src_dir))
        )
        out = streaming_gate(
            s.filter(F.col("event_type").isin("click", "view")),
            ctl(s),
            keys=["user_id"],
            seq_col="event_id",
        )
        q = (
            out.writeStream.format("parquet")
            .option("path", str(out_dir))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    n_first = spark.read.parquet(str(out_dir)).count()
    time.sleep(1.1)  # file-source ordering is by modification time
    ev.filter(F.col("event_id") > mid).coalesce(1).write.parquet(
        str(src_dir / "p2")
    )
    run_once()

    expect = {
        r["event_id"]
        for r in gate(
            ev.filter(F.col("event_type").isin("click", "view")),
            ctl(ev),
            keys=["user_id"],
            seq_col="event_id",
        ).collect()
    }
    got = [r["event_id"] for r in spark.read.parquet(str(out_dir)).collect()]
    assert len(got) == len(set(got)), "duplicate rows after restart"
    assert set(got) == expect, "state not recovered across restart"
    assert 0 < n_first < len(expect)  # the restart actually split the work


def test_streaming_stateless_text_tier(spark, tmp_path):
    """The stateless corpus ops (pii_scrub / text_stats) are narrow
    column maps, so they must run unchanged on a streaming DataFrame
    and emit exactly the batch result — the batch/stream duality the
    engine promises for every non-stateful operator."""
    from streamtasks_spark.llmdata.redact import pii_scrub
    from streamtasks_spark.llmdata.textstats import text_stats

    docs = read_parquet(spark, f"{SF_DIR}/documents.parquet").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" ping admin"),
            F.col("doc_id").cast("string"),
            F.lit("@corp.net from 172.16.0."),
            (F.col("doc_id") % 200).cast("string"),
        ).alias("text"),
    )
    src = tmp_path / "docs_src"
    docs.coalesce(1).write.parquet(str(src / "p1"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )

    for op, key_cols in ((pii_scrub, ["scrubbed", "n_email", "n_ip"]),
                         (text_stats, ["n_tokens", "quality_score"])):
        expect = {
            r["doc_id"]: tuple(r[c] for c in key_cols)
            for r in op(docs).collect()
        }
        got_df = run_to_memory(spark, op(stream), tmp_path)
        got = {
            r["doc_id"]: tuple(r[c] for c in key_cols)
            for r in got_df.collect()
        }
        assert got == expect, op.__name__


def test_stream_probe_pipelines_build(spark):
    """scripts/stream_probe.py is the measured-throughput record; its
    three pipeline builders must keep constructing valid streaming
    plans as the operator APIs evolve (build-only — the probe itself
    is run manually for numbers)."""
    import importlib.util
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts", "stream_probe.py",
    )
    spec = importlib.util.spec_from_file_location("stream_probe", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert set(mod.PIPELINES) == {"stateless", "windowed", "stateful"}
    for name, (build, _rpb, mode) in mod.PIPELINES.items():
        df = build(spark, 1000)
        assert df.isStreaming, name
        assert mode in ("append", "update"), name


def test_query_metrics_listener_collects_progress(spark, tmp_path):
    """The monitoring surface (reference task_web status dashboard):
    progress rows must accumulate per micro-batch and come back as a
    queryable DataFrame with sane rates."""
    from streamtasks_spark.streaming.metrics import (
        PHASES,
        attach_metrics,
        detach_metrics,
        metrics_df,
    )

    listener = attach_metrics(spark)
    try:
        name = f"met_{uuid.uuid4().hex[:8]}"
        df = pulse_generator(spark, interval_ms=50, partitions=2)
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_met"))
            .start()
        )
        try:
            deadline = time.time() + 60
            while time.time() < deadline:
                rows = [
                    r for r in listener.snapshot() if r[0] == name and r[4] > 0
                ]
                if len(rows) >= 2:
                    break
                time.sleep(0.5)
        finally:
            q.stop()
        mdf = metrics_df(spark, listener).filter(F.col("query_name") == name)
        got = mdf.filter(F.col("num_input_rows") > 0).collect()
        assert len(got) >= 2
        assert all(r["processed_rows_per_sec"] > 0 for r in got)
        assert all(r["batch_duration_ms"] >= 0 for r in got)
        # the engine's phases: none negative, and the sink's addBatch
        # is part of the trigger it ran in
        assert all(r[f"{ph}_ms"] >= 0 for r in got for ph in PHASES)
        assert all(r["addBatch_ms"] <= r["batch_duration_ms"] for r in got)
        # a local relation: the ring reaches the JVM without a Python worker
        assert "LocalTableScan" in mdf._jdf.queryExecution() \
            .executedPlan().toString()
        # empty-ring path stays queryable
        from streamtasks_spark.streaming.metrics import QueryMetricsListener

        empty = QueryMetricsListener()
        assert metrics_df(spark, empty).count() == 0
    finally:
        detach_metrics(spark, listener)


def test_streaming_stretch_align_matches_batch(spark, tmp_path):
    """Duality for the drift re-sync: the O(1)-state streaming twin must
    reproduce the batch fold bit-exactly across a micro-batch boundary
    (the clock recurrence spans the batch seam)."""
    from datetime import datetime, timedelta

    from streamtasks_spark.operators.chunks import stretch_align
    from streamtasks_spark.streaming.stateful import streaming_stretch_align

    n, rate = 16, 16_000
    t0 = datetime(2024, 1, 1)
    rows = []
    for k in (1, 2):
        drift = 0
        for i in range(30):
            drift += (31 * (i + k) % 19) - 9
            ts = t0 + timedelta(microseconds=i * 1000 + max(0, drift) * 10)
            rows.append(
                (k, i, ts, [float((i * n + j + k) % 9) for j in range(n)])
            )
    schema = (
        "user_id long, event_id long, ts timestamp, samples array<double>"
    )
    df = spark.createDataFrame(rows, schema)

    batch = stretch_align(
        df, keys=["user_id"], seq_col="event_id", rate=rate, chunk_size=n
    )
    expect = {
        (r["user_id"], r["event_id"]): (r["m"], tuple(r["aligned"]))
        for r in batch.collect()
    }

    # split mid-track so the recurrence crosses the micro-batch seam
    d = tmp_path / "stream_in"
    df.filter(F.col("event_id") < 15).coalesce(1).write.parquet(str(d / "p1"))
    time.sleep(1.1)
    df.filter(F.col("event_id") >= 15).coalesce(1).write.parquet(str(d / "p2"))

    src = ensure_event_time(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(d))
    )
    out = streaming_stretch_align(
        src, keys=["user_id"], seq_col="event_id", rate=rate, chunk_size=n
    )
    got_df = run_to_memory(spark, out, tmp_path)
    got = {
        (r["user_id"], r["event_id"]): (r["m"], tuple(r["aligned"]))
        for r in got_df.collect()
    }
    assert got == expect  # exact float equality — same op order both paths


def test_streaming_dedup_minhash_matches_batch(spark, tmp_path):
    """Streaming near-dedup over the persistent MinHash index: the
    union of per-micro-batch pair deltas equals one-shot batch
    dedup_minhash over everything ingested, each pair exactly once,
    with cross-micro-batch pairs found via the persisted postings."""
    from streamtasks_spark.llmdata.dedup import dedup_minhash
    from streamtasks_spark.streaming.stateful import streaming_dedup_minhash

    docs = read_parquet(spark, f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    expect = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup_minhash(docs, threshold=0.5).collect()
    }
    assert expect  # corpus has near-dup pairs; test must be non-vacuous

    src = tmp_path / "mh_src"
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "p1")
    )
    time.sleep(1.1)  # file-source ordering is by modification time
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "p2")
    )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    pairs_path = str(tmp_path / "pairs")
    q = streaming_dedup_minhash(
        stream,
        index_path=str(tmp_path / "mh_index"),
        pairs_path=pairs_path,
        checkpoint=str(tmp_path / "ckpt"),
        threshold=0.5,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got_rows = spark.read.parquet(pairs_path).collect()
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in got_rows}
    assert len(got_rows) == len(got)  # exactly-once per pair
    assert got == expect
    # cross-batch pairs exist (odd-even doc_id pairs span micro-batches)
    assert any((a % 2) != (b % 2) for a, b in got)


def test_streaming_bloom_dedup_matches_incremental_batches(spark, tmp_path):
    """Streaming bloom pre-filter over the persistent BloomIndex
    (r09): each micro-batch's flags equal bloom_dedup(batch, all
    PRIOR batches) — history-only probing, one flag row per doc,
    and the second batch's duplicates of first-batch text are
    flagged while the first batch (empty history) flags nothing."""
    from streamtasks_spark.llmdata.dedup import bloom_dedup
    from streamtasks_spark.streaming.stateful import streaming_bloom_dedup

    docs = read_parquet(spark, f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    # second batch: odd docs PLUS re-texts of 10 even docs under new ids
    # (guaranteed cross-batch membership hits)
    dups = b1.limit(10).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    b2 = docs.filter(F.col("doc_id") % 2 == 1).unionByName(dups)

    src = tmp_path / "bl_src"
    b1.coalesce(1).write.parquet(str(src / "p1"))
    time.sleep(1.1)
    b2.coalesce(1).write.parquet(str(src / "p2"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    flags_path = str(tmp_path / "flags")
    q = streaming_bloom_dedup(
        stream,
        index_path=str(tmp_path / "bl_index"),
        flags_path=flags_path,
        checkpoint=str(tmp_path / "ckpt"),
        m_bits=65536,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.read.parquet(flags_path).collect()
    got = {r["doc_id"]: (r["n_bits_hit"], r["maybe_dup"]) for r in rows}
    assert len(rows) == len(got) == b1.count() + b2.count()
    # batch 1: empty history, nothing flagged
    for r in rows:
        if r["batch_id"] == 0:
            assert r["n_bits_hit"] == 0 and not r["maybe_dup"]
    # batch 2 flags equal one-shot bloom_dedup(b2, b1) bit-exactly
    expect = {
        r["doc_id"]: (r["n_bits_hit"], r["maybe_dup"])
        for r in bloom_dedup(b2, b1, m_bits=65536).collect()
    }
    got2 = {
        r["doc_id"]: (r["n_bits_hit"], r["maybe_dup"])
        for r in rows if r["batch_id"] == 1
    }
    assert got2 == expect
    # the re-texted dups are flagged (no false negatives)
    assert all(got2[1_000_000 + i][1] for i in
               [r["doc_id"] for r in b1.limit(10).collect()])


def test_streaming_dedup_minhash_survives_restart(spark, tmp_path):
    """Clean stop → new query on the same checkpoint resumes WITHOUT
    re-ingesting processed batches: pair deltas across the restart are
    still exactly-once and equal to one-shot batch dedup."""
    from streamtasks_spark.llmdata.dedup import dedup_minhash
    from streamtasks_spark.streaming.stateful import streaming_dedup_minhash

    docs = read_parquet(spark, f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    src = tmp_path / "mh_src"
    kwargs = dict(
        index_path=str(tmp_path / "mh_index"),
        pairs_path=str(tmp_path / "pairs"),
        checkpoint=str(tmp_path / "ckpt"),
        threshold=0.5,
    )

    def make_stream():
        return (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )

    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "p1")
    )
    q = streaming_dedup_minhash(make_stream(), **kwargs)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # restart on the same checkpoint with more data
    time.sleep(1.1)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "p2")
    )
    q2 = streaming_dedup_minhash(make_stream(), **kwargs)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    expect = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup_minhash(docs, threshold=0.5).collect()
    }
    rows = spark.read.parquet(kwargs["pairs_path"]).collect()
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in rows}
    assert len(rows) == len(got)  # no pair duplicated across the restart
    assert got == expect


def test_streaming_last_value_join_survives_restart(spark, tmp_path):
    """Checkpoint recovery for the param-cache twin: the latched latest
    control value per key must be RECOVERED from state (not recomputed)
    when the query restarts on new data — data rows in the second run
    whose user saw no second-run control must still carry the first
    run's latched value. No lost and no duplicated output rows."""
    from streamtasks_spark.operators.joins import last_value_join
    from streamtasks_spark.streaming.stateful import streaming_last_value_join

    ev = read_parquet(spark, f"{SF_DIR}/events.parquet")
    mid = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    src_dir, out_dir, ckpt = tmp_path / "src", tmp_path / "out", tmp_path / "ck"
    ev.filter(F.col("event_id") <= mid).coalesce(1).write.parquet(
        str(src_dir / "p1")
    )

    schema = ev.schema
    narrow = lambda df, t: df.filter(F.col("event_type") == t).select(
        "user_id", "ts", "value", "event_id"
    )

    def run_once():
        s = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(str(src_dir))
        )
        out = streaming_last_value_join(
            narrow(s, "click"),
            {"p": narrow(s, "purchase")},
            keys=["user_id"],
            seq_col="event_id",
        )
        q = (
            out.writeStream.format("parquet")
            .option("path", str(out_dir))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    n_first = spark.read.parquet(str(out_dir)).count()
    time.sleep(1.1)  # file-source ordering is by modification time
    ev.filter(F.col("event_id") > mid).coalesce(1).write.parquet(
        str(src_dir / "p2")
    )
    run_once()

    expect = {
        (r["event_id"], r["p"])
        for r in last_value_join(
            narrow(ev, "click"),
            {"p": narrow(ev, "purchase")},
            keys=["user_id"],
            seq_col="event_id",
        ).collect()
    }
    rows = spark.read.parquet(str(out_dir)).collect()
    got = [(r["event_id"], r["p"]) for r in rows]
    assert len(got) == len(set(got)), "duplicate rows after restart"
    assert set(got) == expect, "latched control state not recovered"
    assert 0 < n_first < len(expect)  # the restart actually split the work
    # at least one second-run click must ride a FIRST-run latch: a user
    # whose only purchase predates the restart boundary
    second_run = {eid for eid, _ in got if eid > mid}
    latched_from_first = {
        (r["event_id"], r["p"])
        for r in rows
        if r["event_id"] > mid and r["p"] is not None
    }
    assert second_run and latched_from_first, (
        "restart geometry never exercised the recovered latch"
    )


@pytest.mark.slow  # slow tier (pytest.ini, r12)
def test_streaming_time_buffer_survives_restart(spark, tmp_path):
    """Checkpoint recovery for the clock-mode TimeBuffer: rows buffered
    (held, unreleased) when the query stops must survive in state and be
    released exactly once by a later incarnation once their hold
    elapses — the reference's replay/latch restart behavior (SURVEY
    §2.9) for the wall-clock operator. Timers must re-fire after
    recovery: run 2's source only sees the p2 file (p1 is committed in
    the checkpoint), so the held key-1 rows can only come out of the
    recovered processing-time timeout, never out of reprocessed input.

    availableNow can't express "stop while held": with pending
    ProcessingTimeTimeout timers the micro-batch engine keeps running
    batches until they fire (measured: a 30 s hold blocks the run past
    120 s), so both runs use a processingTime trigger and stop
    explicitly once the batch they are waiting for has committed."""
    from streamtasks_spark.streaming.stateful import streaming_time_buffer

    size_ms = 20_000  # must outlast run 1's commit-to-stop latency
    src_dir, out_dir, ckpt = tmp_path / "src", tmp_path / "out", tmp_path / "ck"
    schema = "user_id long, ts timestamp, value double"

    def write_rows(rows, part):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src_dir / part)
        )

    def start_query():
        s = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(str(src_dir))
        )
        out = streaming_time_buffer(s, keys=["user_id"], size_ms=size_ms)
        return (
            out.writeStream.format("parquet")
            .option("path", str(out_dir))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(processingTime="500 milliseconds")
            .start()
        )

    def wait_until(pred, timeout_s, what):
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            if pred():
                return
            time.sleep(0.25)
        raise AssertionError(f"timed out waiting for {what}")

    def rows_in(dirpath):
        try:
            return spark.read.parquet(str(dirpath)).collect()
        except Exception:  # sink dir not created yet
            return []

    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    a_rows = [
        (1, t0 + datetime.timedelta(seconds=i), float(i)) for i in range(3)
    ]
    write_rows(a_rows, "p1")
    q = start_query()
    # stop as soon as the data batch has been read — well inside the hold
    wait_until(
        lambda: any(p["numInputRows"] > 0 for p in q.recentProgress),
        90, "run 1 to ingest the p1 rows",
    )
    t_ingest = time.time()
    q.stop()
    q.awaitTermination(60)
    assert rows_in(out_dir) == [], "rows released before their hold elapsed"

    # the hold elapses while STOPPED; run 2 reads only p2, so key 1 can
    # only be released by the timer recovered from the checkpoint
    write_rows([(2, t0, 99.0)], "p2")
    time.sleep(max(0.0, size_ms / 1000 + 1.0 - (time.time() - t_ingest)))
    q = start_query()
    wait_until(
        lambda: len([r for r in rows_in(out_dir) if r["user_id"] == 1]) >= 3,
        120, "run 2 to release the recovered key-1 rows",
    )
    q.stop()
    q.awaitTermination(60)

    got = sorted(
        (r["user_id"], r["ts"], r["value"])
        for r in rows_in(out_dir)
        if r["user_id"] == 1
    )
    assert got == sorted((u, ts, v) for u, ts, v in a_rows), (
        "buffered rows lost or duplicated across restart"
    )


@pytest.mark.slow  # slow tier (pytest.ini, r12)
def test_streaming_message_detector_survives_restart(spark, tmp_path):
    """Checkpoint recovery for the other wall-clock twin: a key that
    went silent BEFORE the query stopped must get its down edge
    (last_ts + timeout, 0.0) from the RECOVERED processing-time timer
    in the next incarnation — exactly once, with the deterministic
    event-time stamp — and its up edge must not re-emit (state says
    the key is already active). Same stop-while-armed geometry as the
    time-buffer restart test: processingTime trigger + explicit stop,
    because availableNow blocks until pending timers fire."""
    from streamtasks_spark.streaming.stateful import streaming_message_detector

    timeout_ms = 20_000  # must outlast run 1's commit-to-stop latency
    src_dir, out_dir, ckpt = tmp_path / "src", tmp_path / "out", tmp_path / "ck"
    schema = "user_id long, ts timestamp"

    def write_rows(rows, part):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src_dir / part)
        )

    def start_query():
        s = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(str(src_dir))
        )
        out = streaming_message_detector(
            s, keys=["user_id"], timeout_ms=timeout_ms
        )
        return (
            out.writeStream.format("parquet")
            .option("path", str(out_dir))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(processingTime="500 milliseconds")
            .start()
        )

    def wait_until(pred, timeout_s, what):
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            if pred():
                return
            time.sleep(0.25)
        raise AssertionError(f"timed out waiting for {what}")

    def rows_in():
        try:
            return spark.read.parquet(str(out_dir)).collect()
        except Exception:
            return []

    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    k1 = [(1, t0 + datetime.timedelta(seconds=i)) for i in range(3)]
    write_rows(k1, "p1")
    q = start_query()
    wait_until(
        lambda: any(r["user_id"] == 1 and r["value"] == 1.0 for r in rows_in()),
        90, "run 1 to emit the key-1 up edge",
    )
    t_up = time.time()
    q.stop()
    q.awaitTermination(60)
    edges1 = [(r["user_id"], r["ts"], r["value"]) for r in rows_in()]
    assert edges1 == [(1, t0, 1.0)], edges1  # up edge only, once

    # the silence elapses while STOPPED; run 2's new key triggers
    # batches, and key 1's down edge can only come from the recovered
    # timer (p1 is committed — its rows are never reprocessed)
    write_rows([(2, t0)], "p2")
    time.sleep(max(0.0, timeout_ms / 1000 + 1.0 - (time.time() - t_up)))
    q = start_query()
    wait_until(
        lambda: any(r["user_id"] == 1 and r["value"] == 0.0 for r in rows_in()),
        120, "run 2 to emit the recovered down edge",
    )
    q.stop()
    q.awaitTermination(60)

    k1_edges = sorted(
        (r["ts"], r["value"]) for r in rows_in() if r["user_id"] == 1
    )
    down_ts = k1[-1][1] + datetime.timedelta(milliseconds=timeout_ms)
    assert k1_edges == [(t0, 1.0), (down_ts, 0.0)], (
        f"expected one up + one recovered down edge, got {k1_edges}"
    )
    assert any(
        r["user_id"] == 2 and r["value"] == 1.0 for r in rows_in()
    ), "run 2's own key never produced its up edge"


def test_streaming_semantic_dedup_matches_sequential_ingest(spark, tmp_path):
    """Streaming semantic dedup over the persistent SemDedupIndex:
    with id-monotone micro-batches, the streamed verdicts equal the
    sequential batch ingests of the same splits (one verdict per
    vector), and the keep-set is a superset of one-shot semantic_dedup
    under the index's frozen codebook."""
    from streamtasks_spark.llmdata.similarity import (
        SemDedupIndex,
        semantic_dedup,
    )
    from streamtasks_spark.streaming.stateful import streaming_semantic_dedup

    vecs = read_parquet(spark, f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    src = tmp_path / "sem_src"
    lo = vecs.filter(F.col("vec_id") < 250)
    hi = vecs.filter(F.col("vec_id") >= 250)
    lo.coalesce(1).write.parquet(str(src / "p1"))
    time.sleep(1.1)  # file-source ordering is by modification time
    hi.coalesce(1).write.parquet(str(src / "p2"))
    stream = (
        spark.readStream.schema(vecs.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    verdicts_path = str(tmp_path / "verdicts")
    q = streaming_semantic_dedup(
        stream,
        index_path=str(tmp_path / "sem_index"),
        verdicts_path=verdicts_path,
        checkpoint=str(tmp_path / "ckpt"),
        threshold=0.35,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["vec_id"]: (r["cell"], r["keep"])
        for r in spark.read.parquet(verdicts_path).collect()
    }
    assert len(got) == spark.read.parquet(verdicts_path).count()  # 1/vec

    # sequential batch ingests of the same splits == streamed verdicts
    ref_idx = SemDedupIndex(str(tmp_path / "ref_index"), threshold=0.35)
    ref = {}
    for batch in (lo, hi):
        for r in ref_idx.ingest(batch).collect():
            ref[r["vec_id"]] = (r["cell"], r["keep"])
    assert got == ref

    # superset of one-shot under the streamed index's frozen codebook
    streamed_idx = SemDedupIndex(str(tmp_path / "sem_index"), threshold=0.35)
    one = {
        r["vec_id"]: r["keep"]
        for r in semantic_dedup(
            vecs, centroids=streamed_idx.codebook(spark)
        ).collect()
    }
    assert set(one) == set(got)
    assert all(got[v][1] for v, keep in one.items() if keep)
    assert any(not keep for keep in one.values())  # non-vacuous


def test_streaming_semantic_dedup_survives_restart(spark, tmp_path):
    """Clean stop → new query on the same checkpoint resumes without
    re-verdicting processed batches; verdicts across the restart equal
    an uninterrupted sequential ingest of both splits."""
    from streamtasks_spark.llmdata.similarity import SemDedupIndex
    from streamtasks_spark.streaming.stateful import streaming_semantic_dedup

    vecs = read_parquet(spark, f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    src = tmp_path / "sem_src"
    kwargs = dict(
        index_path=str(tmp_path / "sem_index"),
        verdicts_path=str(tmp_path / "verdicts"),
        checkpoint=str(tmp_path / "ckpt"),
        threshold=0.35,
    )

    def make_stream():
        return (
            spark.readStream.schema(vecs.schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )

    lo = vecs.filter(F.col("vec_id") < 250)
    hi = vecs.filter(F.col("vec_id") >= 250)
    lo.coalesce(1).write.parquet(str(src / "p1"))
    q = streaming_semantic_dedup(make_stream(), **kwargs)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    time.sleep(1.1)
    hi.coalesce(1).write.parquet(str(src / "p2"))
    q2 = streaming_semantic_dedup(make_stream(), **kwargs)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    rows = spark.read.parquet(kwargs["verdicts_path"]).collect()
    got = {r["vec_id"]: (r["cell"], r["keep"]) for r in rows}
    assert len(rows) == len(got)  # no re-verdict across the restart

    ref_idx = SemDedupIndex(str(tmp_path / "ref_index"), threshold=0.35)
    ref = {}
    for batch in (lo, hi):
        for r in ref_idx.ingest(batch).collect():
            ref[r["vec_id"]] = (r["cell"], r["keep"])
    assert got == ref


def test_streaming_unigram_lm_matches_batch_scoring(spark, tmp_path):
    """Frozen-model streaming scoring: the union of per-micro-batch
    score appends equals batch unigram_lm_score over everything
    ingested, bit-exactly, one row per document — a document's score
    is a pure function of (text, model), independent of batching."""
    import numpy as np

    from streamtasks_spark.llmdata.quality import (
        unigram_lm_score,
        unigram_lm_train,
    )
    from streamtasks_spark.streaming.stateful import streaming_unigram_lm

    docs = read_parquet(spark, f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    vocab, total = unigram_lm_train(docs, vocab_size=64)
    expect = {
        r["doc_id"]: (r["n_tokens"], r["oov_count"], r["oov_ratio"], r["score"])
        for r in unigram_lm_score(docs, vocab, total).collect()
    }

    src = tmp_path / "ul_src"
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "p1")
    )
    time.sleep(1.1)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "p2")
    )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    scores_path = str(tmp_path / "scores")
    q = streaming_unigram_lm(
        stream,
        vocab=vocab,
        total=total,
        scores_path=scores_path,
        checkpoint=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.read.parquet(scores_path).collect()
    got = {
        r["doc_id"]: (r["n_tokens"], r["oov_count"], r["oov_ratio"], r["score"])
        for r in rows
    }
    assert len(rows) == len(got) == len(expect)  # one row per doc
    assert {r["batch_id"] for r in rows} == {0, 1}  # really two batches
    for k in expect:
        for a, b in zip(expect[k], got[k]):
            if isinstance(a, float):
                assert (np.isnan(a) and np.isnan(b)) or a == b, k
            else:
                assert a == b, k


def test_streaming_ngram_lm_matches_batch_scoring(spark, tmp_path):
    """Frozen-model streaming BIGRAM scoring (r09): same purity
    contract as the unigram twin — per-batch appends union to the
    batch ngram_lm_score result bit-exactly, one row per document."""
    import numpy as np

    from streamtasks_spark.llmdata.quality import (
        ngram_lm_score,
        ngram_lm_train,
    )
    from streamtasks_spark.streaming.stateful import streaming_ngram_lm

    docs = read_parquet(spark, f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    vocab, total = ngram_lm_train(docs, n=2, vocab_size=64)
    expect = {
        r["doc_id"]: (r["n_tokens"], r["oov_count"], r["oov_ratio"], r["score"])
        for r in ngram_lm_score(docs, vocab, total, n=2).collect()
    }

    src = tmp_path / "nl_src"
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "p1")
    )
    time.sleep(1.1)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "p2")
    )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    scores_path = str(tmp_path / "scores")
    q = streaming_ngram_lm(
        stream,
        vocab=vocab,
        total=total,
        scores_path=scores_path,
        checkpoint=str(tmp_path / "ckpt"),
        n=2,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.read.parquet(scores_path).collect()
    got = {
        r["doc_id"]: (r["n_tokens"], r["oov_count"], r["oov_ratio"], r["score"])
        for r in rows
    }
    assert len(rows) == len(got) == len(expect)
    assert {r["batch_id"] for r in rows} == {0, 1}
    for k in expect:
        for a, b in zip(expect[k], got[k]):
            if isinstance(a, float):
                assert (np.isnan(a) and np.isnan(b)) or a == b, k
            else:
                assert a == b, k


def test_streaming_bm25_filter_matches_batch_threshold(spark, tmp_path):
    """Streaming topical-crawl filter (r09): the union of per-batch
    hit appends equals batch bm25_score_frozen over everything
    ingested filtered at the same threshold, bit-exactly — and only
    above-threshold docs are ever written."""
    from streamtasks_spark.llmdata.textstats import (
        bm25_score_frozen,
        bm25_stats,
    )
    from streamtasks_spark.streaming.stateful import streaming_bm25_filter

    docs = read_parquet(spark, f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    terms = ("spark", "hash", "window", "merge")
    stats = bm25_stats(docs, terms=terms)
    scored = bm25_score_frozen(docs, stats, terms=terms).toPandas()
    thr = float(scored["bm25"].median())  # half the matched docs pass
    expect = {
        r["doc_id"]: (r["n_terms_matched"], r["bm25"])
        for r in bm25_score_frozen(docs, stats, terms=terms)
        .filter(F.col("bm25") >= thr).collect()
    }
    assert 0 < len(expect) < len(scored)

    src = tmp_path / "bf_src"
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "p1")
    )
    time.sleep(1.1)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "p2")
    )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    hits_path = str(tmp_path / "hits")
    q = streaming_bm25_filter(
        stream,
        terms=terms,
        stats=stats,
        threshold=thr,
        hits_path=hits_path,
        checkpoint=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.read.parquet(hits_path).collect()
    got = {r["doc_id"]: (r["n_terms_matched"], r["bm25"]) for r in rows}
    assert len(rows) == len(got)  # one row per hit doc
    assert {r["batch_id"] for r in rows} == {0, 1}
    assert got == expect


def test_atomic_state_write_swap_and_orphan_inertness(spark, tmp_path):
    """_atomic_state_write (r10, advisor finding): the sketch state is
    replaced by a tmp-dir + rename swap, never overwrite's
    delete-then-write — a rewrite that dies BEFORE the swap leaves the
    old state untouched and readable, and the orphaned __swap_/__old_
    sibling directories a crash can leave behind are invisible to
    snapshot_read (siblings, not children)."""
    import os

    from streamtasks_spark.llmdata.dedup import snapshot_read
    from streamtasks_spark.streaming.stateful import _atomic_state_write

    path = str(tmp_path / "state")
    _atomic_state_write(
        spark, [(0, 3), (1, 5)], "`__bucket` bigint, `__M` int", path
    )
    assert {
        (r["__bucket"], r["__M"])
        for r in snapshot_read(spark, path).collect()
    } == {(0, 3), (1, 5)}
    # a crashed rewrite: the replacement landed in a __swap_ sibling
    # but the swap never happened; an aborted previous swap also left
    # an __old_ sibling. Readers of `path` must see ONLY live state.
    spark.createDataFrame(
        [(9, 9)], "`__bucket` bigint, `__M` int"
    ).write.parquet(f"{path}__swap_deadbeef")
    spark.createDataFrame(
        [(8, 8)], "`__bucket` bigint, `__M` int"
    ).write.parquet(f"{path}__old_deadbeef")
    assert {
        (r["__bucket"], r["__M"])
        for r in snapshot_read(spark, path).collect()
    } == {(0, 3), (1, 5)}
    # the next successful write still swaps cleanly with orphans present
    _atomic_state_write(
        spark, [(0, 4)], "`__bucket` bigint, `__M` int", path
    )
    assert {
        (r["__bucket"], r["__M"])
        for r in snapshot_read(spark, path).collect()
    } == {(0, 4)}
    assert os.path.isdir(f"{path}__swap_deadbeef")  # orphans untouched


def test_streaming_approx_distinct_merges_to_one_shot(spark, tmp_path):
    """Streaming HLL (r09): after two micro-batches the max-merged
    register file — and therefore the estimate — equals the one-shot
    batch approx_distinct_hll over everything ingested (merge is
    associative/commutative/idempotent); the state table stays
    register-file-sized; per-batch estimates are monotone
    non-decreasing (registers only ever grow)."""
    from streamtasks_spark.llmdata.textstats import approx_distinct_hll
    from streamtasks_spark.streaming.stateful import (
        streaming_approx_distinct,
    )

    docs = read_parquet(spark, f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    expect = approx_distinct_hll(docs, n=3, p=8).collect()[0]

    src = tmp_path / "hll_src"
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "p1")
    )
    time.sleep(1.1)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "p2")
    )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    state = str(tmp_path / "state")
    ests = str(tmp_path / "ests")
    q = streaming_approx_distinct(
        stream,
        state_path=state,
        estimates_path=ests,
        checkpoint=str(tmp_path / "ckpt"),
        n=3,
        p=8,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = sorted(
        spark.read.parquet(ests).collect(), key=lambda r: r["batch_id"]
    )
    assert [r["batch_id"] for r in rows] == [0, 1]
    assert rows[0]["raw_estimate"] <= rows[1]["raw_estimate"]
    assert rows[1]["raw_estimate"] == expect["raw_estimate"]
    assert rows[1]["n_buckets_hit"] == expect["n_buckets_hit"]
    from streamtasks_spark.llmdata.dedup import snapshot_read

    assert snapshot_read(spark, state).count() <= 256


def test_streaming_heavy_hitters_sums_to_one_shot_sketch(spark, tmp_path):
    """Streaming CMS (r09): after two micro-batches the sum-merged
    sketch equals the one-shot sketch over everything ingested, cell
    for cell (counter merge is associative/commutative), and the
    accumulated token total matches the corpus."""
    from streamtasks_spark.llmdata.dedup import spread, tokens_expr
    from streamtasks_spark.streaming.stateful import (
        streaming_heavy_hitters,
    )

    docs = read_parquet(spark, f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )

    # the one-shot sketch, built the same way the twin builds batches
    toks = spread(docs, "doc_id").select(
        F.explode(F.expr(tokens_expr("text"))).alias("__t")
    )
    counts = toks.groupBy("__t").agg(F.count(F.lit(1)).alias("__c"))
    width, depth = 64, 3
    bucket = (
        "pmod(cast(conv(substring(md5(concat(cast({j} as string), ':', "
        "__t)), 1, 12), 16, 10) as bigint), {w})"
    )
    parts = [
        counts.select(
            F.lit(j).alias("__row"),
            F.expr(bucket.format(j=j, w=width)).alias("__bucket"),
            "__c",
        )
        for j in range(depth)
    ]
    allc = parts[0]
    for piece in parts[1:]:
        allc = allc.unionByName(piece)
    expect = {
        (r["__row"], r["__bucket"]): r["s"]
        for r in allc.groupBy("__row", "__bucket")
        .agg(F.sum("__c").alias("s")).collect()
    }

    src = tmp_path / "cms_src"
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "p1")
    )
    time.sleep(1.1)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "p2")
    )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    state = str(tmp_path / "state")
    reports = str(tmp_path / "reports")
    q = streaming_heavy_hitters(
        stream,
        state_path=state,
        reports_path=reports,
        checkpoint=str(tmp_path / "ckpt"),
        width=width,
        depth=depth,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    from streamtasks_spark.llmdata.dedup import snapshot_read

    got = {
        (r["__row"], r["__bucket"]): r["__cell"]
        for r in snapshot_read(spark, state).collect()
    }
    assert got == expect
    reps = sorted(
        spark.read.parquet(reports).collect(), key=lambda r: r["batch_id"]
    )
    assert [r["batch_id"] for r in reps] == [0, 1]
    assert reps[1]["token_total"] == toks.count()


def test_streaming_unigram_lm_survives_restart(spark, tmp_path):
    """Clean stop → new query on the same checkpoint resumes without
    re-scoring processed batches (the last uncovered twin's restart
    path, r07 verdict task 4): scores across the restart equal batch
    unigram_lm_score over everything ingested, one row per document."""
    import numpy as np

    from streamtasks_spark.llmdata.quality import (
        unigram_lm_score,
        unigram_lm_train,
    )
    from streamtasks_spark.streaming.stateful import streaming_unigram_lm

    docs = read_parquet(spark, f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    vocab, total = unigram_lm_train(docs, vocab_size=64)
    src = tmp_path / "ul_src"
    kwargs = dict(
        vocab=vocab,
        total=total,
        scores_path=str(tmp_path / "scores"),
        checkpoint=str(tmp_path / "ckpt"),
    )

    def make_stream():
        return (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )

    lo = docs.filter(F.col("doc_id") % 2 == 0)
    hi = docs.filter(F.col("doc_id") % 2 == 1)
    lo.coalesce(1).write.parquet(str(src / "p1"))
    q = streaming_unigram_lm(make_stream(), **kwargs)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n_first = spark.read.parquet(kwargs["scores_path"]).count()
    assert n_first == lo.count()  # first run scored exactly split 1
    time.sleep(1.1)
    hi.coalesce(1).write.parquet(str(src / "p2"))
    q2 = streaming_unigram_lm(make_stream(), **kwargs)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    rows = spark.read.parquet(kwargs["scores_path"]).collect()
    got = {
        r["doc_id"]: (r["n_tokens"], r["oov_count"], r["oov_ratio"], r["score"])
        for r in rows
    }
    assert len(rows) == len(got)  # no re-score across the restart
    expect = {
        r["doc_id"]: (r["n_tokens"], r["oov_count"], r["oov_ratio"], r["score"])
        for r in unigram_lm_score(docs, vocab, total).collect()
    }
    assert set(got) == set(expect)
    for k in expect:
        for a, b in zip(expect[k], got[k]):
            if isinstance(a, float):
                assert (np.isnan(a) and np.isnan(b)) or a == b, k
            else:
                assert a == b, k


def _assert_score_frames_equal(expect, got):
    import numpy as np

    assert set(got) == set(expect)
    for k in expect:
        for a, b in zip(expect[k], got[k]):
            if isinstance(a, float):
                assert (np.isnan(a) and np.isnan(b)) or a == b, k
            else:
                assert a == b, k


def test_streaming_dsir_weights_matches_batch_scoring(spark, tmp_path):
    """Frozen-model streaming importance weighting (r08 twin): the
    union of per-micro-batch weight appends equals batch dsir_score
    over everything ingested, bit-exactly, one row per document."""
    from streamtasks_spark.llmdata.quality import dsir_score, dsir_train
    from streamtasks_spark.streaming.stateful import streaming_dsir_weights

    docs = read_parquet(spark, f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    counts, t_t, t_r = dsir_train(
        docs, target_pred="lang = 'en'", n_buckets=128
    )
    expect = {
        r["doc_id"]: (r["n_tokens"], r["target_mass"], r["raw_mass"],
                      r["weight"])
        for r in dsir_score(docs, counts, t_t, t_r, n_buckets=128).collect()
    }

    src = tmp_path / "dw_src"
    stream_docs = docs.select("doc_id", "text")
    stream_docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "p1")
    )
    time.sleep(1.1)
    stream_docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "p2")
    )
    stream = (
        spark.readStream.schema(stream_docs.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    weights_path = str(tmp_path / "weights")
    q = streaming_dsir_weights(
        stream, counts=counts, t_t=t_t, t_r=t_r,
        weights_path=weights_path, checkpoint=str(tmp_path / "ckpt"),
        n_buckets=128,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.read.parquet(weights_path).collect()
    got = {
        r["doc_id"]: (r["n_tokens"], r["target_mass"], r["raw_mass"],
                      r["weight"])
        for r in rows
    }
    assert len(rows) == len(got) == len(expect)  # one row per doc
    assert {r["batch_id"] for r in rows} == {0, 1}  # really two batches
    _assert_score_frames_equal(expect, got)


def test_streaming_dsir_weights_survives_restart(spark, tmp_path):
    """Clean stop → new query on the same checkpoint weighs only the
    new split (no re-weigh); union across the restart equals batch
    dsir_score over everything ingested."""
    from streamtasks_spark.llmdata.quality import dsir_score, dsir_train
    from streamtasks_spark.streaming.stateful import streaming_dsir_weights

    docs = read_parquet(spark, f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    counts, t_t, t_r = dsir_train(
        docs, target_pred="lang = 'en'", n_buckets=128
    )
    src = tmp_path / "dw_src"
    stream_docs = docs.select("doc_id", "text")
    kwargs = dict(
        counts=counts, t_t=t_t, t_r=t_r, n_buckets=128,
        weights_path=str(tmp_path / "weights"),
        checkpoint=str(tmp_path / "ckpt"),
    )

    def make_stream():
        return (
            spark.readStream.schema(stream_docs.schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )

    lo = stream_docs.filter(F.col("doc_id") % 2 == 0)
    hi = stream_docs.filter(F.col("doc_id") % 2 == 1)
    lo.coalesce(1).write.parquet(str(src / "p1"))
    q = streaming_dsir_weights(make_stream(), **kwargs)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert spark.read.parquet(kwargs["weights_path"]).count() == lo.count()
    time.sleep(1.1)
    hi.coalesce(1).write.parquet(str(src / "p2"))
    q2 = streaming_dsir_weights(make_stream(), **kwargs)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    rows = spark.read.parquet(kwargs["weights_path"]).collect()
    got = {
        r["doc_id"]: (r["n_tokens"], r["target_mass"], r["raw_mass"],
                      r["weight"])
        for r in rows
    }
    assert len(rows) == len(got)  # no re-weigh across the restart
    expect = {
        r["doc_id"]: (r["n_tokens"], r["target_mass"], r["raw_mass"],
                      r["weight"])
        for r in dsir_score(
            stream_docs, counts, t_t, t_r, n_buckets=128
        ).collect()
    }
    _assert_score_frames_equal(expect, got)


def test_streaming_doc_chunk_is_a_direct_transformation(spark, tmp_path):
    """doc_chunk is stateless and narrow, so it composes with
    readStream DIRECTLY (no foreachBatch): chunks produced through a
    two-micro-batch stream equal the one-shot batch chunking."""
    from streamtasks_spark.llmdata.pipeline import doc_chunk

    docs = read_parquet(spark, f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    expect = {
        (r["doc_id"], r["chunk_id"]): (r["n_chunk_tokens"], r["chunk_text"])
        for r in doc_chunk(docs, window=16, stride=12).collect()
    }
    assert expect

    src = tmp_path / "dc_src"
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "p1")
    )
    time.sleep(1.1)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "p2")
    )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    out_path = str(tmp_path / "chunks")
    q = (
        doc_chunk(stream, window=16, stride=12)
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["doc_id"], r["chunk_id"]): (r["n_chunk_tokens"], r["chunk_text"])
        for r in spark.read.parquet(out_path).collect()
    }
    assert got == expect


def test_streaming_importance_resample_matches_batch_draw(spark, tmp_path):
    """Frozen-model streaming DSIR SELECTION (r09 twin): the union of
    per-micro-batch kept appends equals batch importance_resample_score
    over everything ingested, bit-exactly — the weight AND the hash
    coin are pure per-document functions of the frozen models, so
    batching can't move the draw. Restart on the same checkpoint draws
    only the new split (no re-draw, no double-keep)."""
    from streamtasks_spark.llmdata.quality import (
        dsir_train,
        importance_resample_score,
    )
    from streamtasks_spark.streaming.stateful import (
        streaming_importance_resample,
    )

    docs = read_parquet(spark, f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    counts, t_t, t_r = dsir_train(
        docs, target_pred="lang = 'en'", n_buckets=128
    )
    expect = {
        r["doc_id"]: (r["n_tokens"], r["weight"], r["p_keep"], r["u"])
        for r in importance_resample_score(
            docs, counts, t_t, t_r, n_buckets=128, rate=0.5
        ).collect()
    }
    assert expect  # the draw must actually keep documents

    src = tmp_path / "ir_src"
    stream_docs = docs.select("doc_id", "text")
    kwargs = dict(
        counts=counts, t_t=t_t, t_r=t_r, n_buckets=128, rate=0.5,
        kept_path=str(tmp_path / "kept"),
        checkpoint=str(tmp_path / "ckpt_ir"),
    )

    def make_stream():
        return (
            spark.readStream.schema(stream_docs.schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )

    lo = stream_docs.filter(F.col("doc_id") % 2 == 0)
    hi = stream_docs.filter(F.col("doc_id") % 2 == 1)
    lo.coalesce(1).write.parquet(str(src / "p1"))
    q = streaming_importance_resample(make_stream(), **kwargs)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    first = spark.read.parquet(kwargs["kept_path"]).count()
    # only lo-split keeps so far, and exactly the batch draw over lo
    assert first == len(
        {i for i in expect if i % 2 == 0}
    )
    time.sleep(1.1)
    hi.coalesce(1).write.parquet(str(src / "p2"))
    q2 = streaming_importance_resample(make_stream(), **kwargs)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    rows = spark.read.parquet(kwargs["kept_path"]).collect()
    got = {
        r["doc_id"]: (r["n_tokens"], r["weight"], r["p_keep"], r["u"])
        for r in rows
    }
    assert len(rows) == len(got)  # no re-draw across the restart
    assert got == expect  # bit-exact: same kept SET, same audit values


def test_checkpoints_use_the_filesystem_manager(spark):
    """Checkpoint I/O goes through Hadoop's FileSystem API: the default
    FileContext manager forks `readlink`/`chmod` processes per rename
    and per file on a local filesystem without the native library. The
    class must exist under the configured name (it moved packages in
    Spark 4.1; a stale name fails every streaming query)."""
    name = spark.conf.get("spark.sql.streaming.checkpointFileManagerClass")
    assert name.endswith(".FileSystemBasedCheckpointFileManager")
    assert spark._jvm.java.lang.Class.forName(name).getName() == name
