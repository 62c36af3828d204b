"""Streaming (applyInPandasWithState) variants of the stateful tier.

The batch operators in ``operators/stateful.py`` realize the reference
semantics as event-time window functions; these are their streaming
twins, holding per-key state across micro-batches:

- :func:`streaming_last_value_join` — reference param cache
  (fntask.py:141-150, calculator.py:227-239): latest value of each
  control stream, latched across batches.
- :func:`streaming_gate` — reference gate.py:15-110 state machine.
- :func:`streaming_ordered_merge` — reference synchronizer
  (client/topic.py:117-141) with the per-stream "drop the past" rule
  (:127) enforced against arrival order (``seq_col``).

Processing model: within a micro-batch rows are sorted by (event time,
control-before-data priority, seq); state carries the latch across
batches. This matches the reference's arrival-order processing under its
own assumption of per-topic nondecreasing timestamps (SURVEY §1.3) —
out-of-order arrivals WITHIN a batch are handled exactly; an arrival in
a LATER batch with an earlier timestamp is late data (the reference
drops it; so do we).

State is per group key — at 100 TB the state store shards by key across
executors exactly like the batch shuffles partition by key.

The foreachBatch twins (:func:`streaming_dedup_minhash` through
:func:`streaming_ann_ingest`) keep their state outside the checkpoint:
in a persistent index, in a sketch table, or nowhere (frozen-model
twins). All of them start through :func:`_start_twin`, which owns
their output layout and replay contract:

- Batch *n*'s output is the directory ``<out>/batch_id=<n>/``, rewritten
  whole when the batch replays. ``spark.read.parquet(out)`` returns the
  union with a ``batch_id`` column discovered from the directory names
  (type int); no plan carries the batch id as a literal, so a batch
  reuses the previous batch's generated code.
- One query per output path: the query's persistent id (the checkpoint's
  ``metadata``, ``StreamingQuery.id``) is recorded in
  ``<out>/_QUERY_ID`` on its first batch, and a batch of any other query
  fails naming both ids before it writes anything. A fresh checkpoint
  therefore needs a fresh output path.
- Frozen-model twins are pure functions of the batch: a replay rewrites
  the same rows, so the output is exactly-once per checkpoint.
- Stateful twins return ``(output, commit)``, and the skeleton runs
  skip → write output → commit: a batch whose ``(query, batch)`` fence
  the state already holds is skipped whole, and the fence is committed
  with the state, in the same manifest flip, only after the output is
  durable. The sketch twins (:func:`streaming_approx_distinct`,
  :func:`streaming_heavy_hitters`) merge a state table; the index twins
  (MinHash, bloom, semantic dedup, ANN ingest) land the batch's index
  rows in uncommitted segments and commit them through
  :class:`~streamtasks_spark.core.state.Staging`, which also undoes a
  commit torn between two tables. Output and state are exactly-once per
  checkpoint for all of them.
- The sketch twins and the bloom, MinHash and semantic twins run a
  batch at the partitioning its source gave it (a small file is one
  partition), with no per-trigger repartition.
- No twin runs a per-batch ``isEmpty`` job: a stateless upstream plan
  never sends an empty batch, and on an empty one (after a stateful
  upstream's no-data batch) each step changes no table's rows.
"""

from __future__ import annotations

import json
import operator
import os
import uuid
from collections.abc import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType

from streamtasks_spark.core.timeutil import ensure_event_time
from streamtasks_spark.session import local_frame

_PRIO_CONTROL, _PRIO_DATA = 0, 1


def _schema_of(df: DataFrame, cols: Sequence[str]) -> StructType:
    return StructType([df.schema[c] for c in cols])


def _atomic_state_write(spark, rows, schema: str, path: str, *,
                        fence: dict | None = None) -> None:
    """Replace a (small) persistent state table atomically through the
    versioned-manifest commit protocol
    (:func:`streamtasks_spark.core.state.replace_write`): the rewrite
    lands in a fresh immutable segment, then ONE atomic single-file
    manifest replace makes it the live version. A crash at any point
    before the flip leaves the previous state the live one (a restart
    replays the in-flight batch against intact registers/counters —
    never against empty state, which would be a silent under-estimate,
    and never against a half-written rewrite). Unlike a
    directory-rename swap there is NO residual window: directory
    rename is copy+delete on S3-class object stores, while atomic
    replacement of one small file is the primitive every target
    filesystem provides (POSIX rename, HDFS rename, object PUT).
    Crash debris is an unreferenced segment directory — inert (never
    resolved by :func:`~streamtasks_spark.llmdata.dedup.snapshot_read`,
    which reads through the manifest) and swept by the next commit.
    ``rows`` is sketch-bounded, so it is written from a JVM local
    relation (:func:`~streamtasks_spark.session.local_frame`) as one
    file by one task: coalescing a local relation runs no Python worker
    and starts no shuffle. ``fence`` is recorded in the same flip."""
    from streamtasks_spark.core.state import replace_write

    replace_write(
        local_frame(spark, rows, schema).coalesce(1), path, fence=fence
    )


def streaming_last_value_join(
    data: DataFrame,
    controls: dict[str, DataFrame],
    *,
    keys: Sequence[str],
    ts: str = "ts",
    value_col: str = "value",
    seq_col: str | None = None,
    control_first: bool = True,
) -> DataFrame:
    """Streaming last-value join: data rows come out with one extra
    column per control stream holding its latest value as of the row
    (latched across micro-batches)."""
    data_cols = list(data.columns)
    names = list(controls)
    tagged = data.select(
        *data_cols,
        F.lit(_PRIO_DATA if control_first else _PRIO_CONTROL).alias("__prio"),
        *[F.lit(None).cast("double").alias(f"__ctl_{n}") for n in names],
    )
    for n in names:
        cdf = controls[n]
        sel = [
            (cdf[c] if c in cdf.columns else F.lit(None).cast(data.schema[c].dataType)).alias(c)
            for c in data_cols
        ] + [
            F.lit(_PRIO_CONTROL if control_first else _PRIO_DATA).alias("__prio"),
            *[
                (cdf[value_col].cast("double") if m == n else F.lit(None).cast("double")).alias(f"__ctl_{m}")
                for m in names
            ],
        ]
        tagged = tagged.unionByName(cdf.select(*sel))

    out_schema = StructType(
        list(_schema_of(data, data_cols))
        + [StructType.fromDDL(f"`{n}` double")[0] for n in names]
    )
    state_schema = StructType.fromDDL(
        ", ".join(f"`__ctl_{n}` double" for n in names)
    )
    sort_cols = [ts, "__prio"] + ([seq_col] if seq_col else [])

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        latest = list(state.get) if state.exists else [None] * len(names)
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(sort_cols, kind="stable", ignore_index=True)
        for i, n in enumerate(names):
            # explicit dtype: concat of chunks with all-NA columns is
            # dtype-unstable across pandas versions
            c = pdf[f"__ctl_{n}"].astype("float64")
            filled = c.ffill()
            if latest[i] is not None:
                filled = filled.fillna(latest[i])
            pdf[n] = filled
            last_valid = c.dropna()
            if len(last_valid):
                latest[i] = float(last_valid.iloc[-1])
        state.update(tuple(latest))
        out = pdf[pdf["__prio"] == _PRIO_DATA]
        yield out[[*data_cols, *names]]

    return tagged.groupBy(*keys).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def streaming_gate(
    data: DataFrame,
    control: DataFrame,
    *,
    keys: Sequence[str],
    ts: str = "ts",
    control_value: str = "value",
    initial_open: bool = False,
    seq_col: str | None = None,
    fail_mode: str = "open",
) -> DataFrame:
    """Streaming Gate: pass data rows while the latched control is open
    (>0.5); control applies before data at equal timestamps. ``fail_mode``
    mirrors the batch twin: an invalid (NULL-valued) control never
    updates the latch; ``"closed"`` additionally forces the gate shut
    while the most recent control row is invalid."""
    if fail_mode not in ("open", "closed"):
        raise ValueError(
            f"streaming_gate: fail_mode must be open|closed, got {fail_mode!r}"
        )
    ctl_cols = [*keys, ts, F.col(control_value).alias("value")]
    if seq_col is not None and seq_col in control.columns:
        ctl_cols.append(F.col(seq_col))
    ctl = control.select(*ctl_cols)
    controls = {"__gate_ctl": ctl}
    if fail_mode == "closed":
        controls["__gate_bad"] = ctl.withColumn(
            "value", F.col("value").isNull().cast("double")
        )
    joined = streaming_last_value_join(
        data,
        controls,
        keys=keys,
        ts=ts,
        seq_col=seq_col,
    )
    open_ = F.coalesce(F.col("__gate_ctl") > 0.5, F.lit(bool(initial_open)))
    if fail_mode == "closed":
        open_ = open_ & ~F.coalesce(F.col("__gate_bad") > 0.5, F.lit(False))
        return joined.filter(open_).drop("__gate_ctl", "__gate_bad")
    return joined.filter(open_).drop("__gate_ctl")


def streaming_pause_state(
    data: DataFrame,
    control: DataFrame,
    *,
    keys: Sequence[str],
    ts: str = "ts",
    control_value: str = "value",
    initial_paused: bool = False,
    seq_col: str | None = None,
    out_col: str = "paused",
) -> DataFrame:
    """Streaming pause propagation (reference net/__init__.py:317-321):
    the latched pause state carries across micro-batches, so a
    subscriber joining late still sees the replayed last state — the
    switch's latch-and-replay, per key."""
    ctl_cols = [*keys, ts, F.col(control_value).alias("value")]
    if seq_col is not None and seq_col in control.columns:
        ctl_cols.append(F.col(seq_col))
    joined = streaming_last_value_join(
        data,
        {"__pause_ctl": control.select(*ctl_cols)},
        keys=keys,
        ts=ts,
        seq_col=seq_col,
    )
    return joined.withColumn(
        out_col,
        F.coalesce(F.col("__pause_ctl") > F.lit(0.5), F.lit(bool(initial_paused))),
    ).drop("__pause_ctl")


def streaming_switch(
    pairs: Sequence[tuple[DataFrame, DataFrame]],
    *,
    keys: Sequence[str],
    ts: str = "ts",
    control_value: str = "value",
    seq_col: str | None = None,
) -> DataFrame:
    """Streaming Switch / mux (reference switch.py:21-81): same argmax
    routing as the batch twin (operators/stateful.py), built on the
    streaming last-value join so control latches carry across
    micro-batches. Ties break to the lowest pair index; rows before any
    control are dropped."""
    data0, _ = pairs[0]

    def ctl_sel(c: DataFrame) -> DataFrame:
        cols = [*keys, ts, F.col(control_value).alias("value")]
        if seq_col is not None and seq_col in c.columns:
            cols.append(F.col(seq_col))
        return c.select(*cols)

    controls = {f"__sw_ctl_{i}": ctl_sel(c) for i, (_, c) in enumerate(pairs)}
    tagged = None
    for i, (d, _) in enumerate(pairs):
        t = d.select(*data0.columns).withColumn("__pair", F.lit(i))
        tagged = t if tagged is None else tagged.unionByName(t)

    joined = streaming_last_value_join(
        tagged, controls, keys=keys, ts=ts, seq_col=seq_col
    )
    ctl_cols = [F.col(f"__sw_ctl_{i}") for i in range(len(pairs))]
    max_ctl = F.greatest(*ctl_cols) if len(pairs) > 1 else ctl_cols[0]
    selected = F.lit(len(pairs) - 1)
    for i in range(len(pairs) - 2, -1, -1):
        selected = F.when(ctl_cols[i] == max_ctl, F.lit(i)).otherwise(selected)
    sel = F.when(max_ctl.isNotNull(), selected)
    return joined.filter(sel == F.col("__pair")).drop(
        "__pair", *[f"__sw_ctl_{i}" for i in range(len(pairs))]
    )


def streaming_sr_latch(
    set_stream: DataFrame,
    reset_stream: DataFrame,
    *,
    keys: Sequence[str],
    ts: str = "ts",
    value_col: str = "value",
    default: bool = False,
    seq_col: str | None = None,
) -> DataFrame:
    """Streaming SR latch (reference srlatch.py:20-55): per-key state
    holds (latest set bool, latest reset bool, latched value); every
    event emits the latched value, which flips only when exactly one of
    set/reset is true. Cross-batch latching via applyInPandasWithState.
    Same ordering caveat as the batch twin: two same-source events at
    identical (keys, ts) are order-undefined without ``seq_col``."""
    seq_cols = [seq_col] if seq_col is not None else []
    # tags sort reset(0) before set(1) at equal ts without a seq column,
    # matching the batch operator's 'reset' < 'set' string ordering
    s = set_stream.select(
        *keys, ts, *seq_cols,
        F.col(value_col).cast("double").alias("__v"),
        F.lit(1).alias("__src"),
    )
    r = reset_stream.select(
        *keys, ts, *seq_cols,
        F.col(value_col).cast("double").alias("__v"),
        F.lit(0).alias("__src"),
    )
    u = s.unionByName(r)
    out_schema = StructType(
        list(_schema_of(u, [*keys, ts]))
        + [StructType.fromDDL("`value` double")[0]]
    )
    state_schema = StructType.fromDDL(
        "set_b boolean, reset_b boolean, latched double"
    )
    sort_cols = [ts] + (seq_cols if seq_col else ["__src"])

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        set_b, reset_b, latched = (
            state.get if state.exists else (False, False, 1.0 if default else 0.0)
        )
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(sort_cols, kind="stable", ignore_index=True)
        vals = []
        for src, v in zip(
            pdf["__src"].astype("int64"), pdf["__v"].astype("float64")
        ):
            if src == 1:
                set_b = bool(v > 0.5)
            else:
                reset_b = bool(v > 0.5)
            if set_b != reset_b:
                latched = 1.0 if set_b else 0.0
            vals.append(latched)
        state.update((set_b, reset_b, latched))
        out = pdf[[*keys, ts]].copy()
        out["value"] = vals
        yield out

    return u.groupBy(*keys).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def streaming_message_detector(
    data: DataFrame,
    *,
    keys: Sequence[str],
    ts: str = "ts",
    timeout_ms: int = 1000,
) -> DataFrame:
    """Streaming MessageDetector (reference messagedetector.py:50-88):
    per key emit (ts, 1.0) when messages resume after silence and
    (last_ts + timeout, 0.0) when ``timeout_ms`` of PROCESSING time
    passes without input — the wall-clock half of the semantic that the
    batch formulation (event-time gaps) cannot express. Uses
    ``GroupStateTimeout.ProcessingTimeTimeout``: every batch with rows
    re-arms the timer; the timer firing emits the down edge."""
    out_schema = StructType(
        list(_schema_of(data, [*keys]))
        + list(StructType.fromDDL(f"`{ts}` timestamp, `value` double"))
    )
    state_schema = StructType.fromDDL("active boolean, last_ts_us bigint")
    src = data.select(*keys, ts)

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        active, last_us = state.get if state.exists else (False, None)
        if state.hasTimedOut:
            state.remove()
            if active and last_us is not None:
                yield pd.DataFrame(
                    {
                        **{k: [key[i]] for i, k in enumerate(keys)},
                        ts: [pd.Timestamp(last_us + timeout_ms * 1000, unit="us")],
                        "value": [0.0],
                    }
                )
            return
        pdf = pd.concat(list(pdfs), ignore_index=True)
        rows_ts = pdf[ts].astype("int64") // 1000  # ns -> us
        first_us, max_us = int(rows_ts.min()), int(rows_ts.max())
        out = []
        if not active:
            out.append(
                {
                    **{k: key[i] for i, k in enumerate(keys)},
                    ts: pd.Timestamp(first_us, unit="us"),
                    "value": 1.0,
                }
            )
        last_us = max_us if last_us is None else max(last_us, max_us)
        state.update((True, last_us))
        state.setTimeoutDuration(timeout_ms)
        if out:
            yield pd.DataFrame(out)

    return src.groupBy(*keys).applyInPandasWithState(
        fn,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.ProcessingTimeTimeout,
    )


def streaming_time_buffer(
    data: DataFrame,
    *,
    keys: Sequence[str],
    ts: str = "ts",
    size_ms: int = 1000,
) -> DataFrame:
    """Streaming TimeBuffer in CLOCK mode (reference timebuffer.py:20-77
    with ``reference="clock"``): every row is held for ``size_ms`` of
    PROCESSING time after arrival, then released with its original event
    timestamp — the wall-clock half of the semantic the batch operator
    (pure event-time shift) cannot express.

    Per-key state buffers one JSON blob per arrived micro-batch with its
    arrival clock; a processing-time timer drains blobs whose hold has
    elapsed. At scale the buffer is bounded by (arrival rate × size_ms)
    per key — the same bound as the reference's dbm spill buffer.

    Operational note (measured, tests/test_streaming.py restart test):
    ``trigger(availableNow=True)`` does NOT terminate while holds are
    pending — the micro-batch engine keeps scheduling batches until
    every ProcessingTimeTimeout timer fires. To stop mid-hold (and
    later recover the held rows from the checkpoint), drive the query
    with a processingTime trigger and stop it explicitly."""
    import json

    cols = list(data.columns)
    out_schema = _schema_of(data, cols)
    state_schema = StructType.fromDDL("bufs array<string>, arrivals array<bigint>")
    ts_cols = [c for c, f in zip(cols, out_schema.fields)
               if f.dataType.typeName().startswith("timestamp")]

    def decode(blobs: list[str]) -> pd.DataFrame:
        recs = [r for b in blobs for r in json.loads(b)]
        out = pd.DataFrame(recs, columns=cols)
        for c in ts_cols:
            out[c] = pd.to_datetime(out[c], unit="us")
        return out

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        bufs, arrivals = state.get if state.exists else ([], [])
        bufs, arrivals = list(bufs), list(arrivals)
        now = state.getCurrentProcessingTimeMs()
        if not state.hasTimedOut:
            pdf = pd.concat(list(pdfs), ignore_index=True)
            enc = pdf.copy()
            for c in ts_cols:
                enc[c] = enc[c].astype("int64") // 1000  # ns -> us
            bufs.append(enc[cols].to_json(orient="records"))
            arrivals.append(now)
        due = [i for i, a in enumerate(arrivals) if a + size_ms <= now]
        if due:
            yield decode([bufs[i] for i in due])
        keep = [i for i in range(len(bufs)) if i not in set(due)]
        if keep:
            state.update(([bufs[i] for i in keep], [arrivals[i] for i in keep]))
            # fire when the oldest remaining blob's hold elapses
            state.setTimeoutDuration(
                max(1, min(arrivals[i] for i in keep) + size_ms - now)
            )
        else:
            state.remove()

    return data.groupBy(*keys).applyInPandasWithState(
        fn, out_schema, state_schema, "append",
        GroupStateTimeout.ProcessingTimeTimeout,
    )


def streaming_stretch_align(
    data: DataFrame,
    *,
    keys: Sequence[str],
    ts: str = "ts",
    samples_col: str = "samples",
    seq_col: str | None = None,
    rate: int = 16_000,
    chunk_size: int = 16,
    max_stretch_ratio: float = 1.1,
) -> DataFrame:
    """Streaming twin of ``operators.chunks.stretch_align`` — and the
    operator's true 100 TB shape: the batch version resolves the
    clamped clock recurrence with a per-key fold (bounded tracks),
    while here the recurrence IS the state: one (t0, emitted-samples)
    pair per key, O(1) state, unbounded tracks. Same integer
    arithmetic, same interpolation op order, so outputs are
    bit-identical to the batch twin (duality-tested).

    Rows are processed in (ts, seq) order within each micro-batch;
    cross-batch order follows the topic contract (nondecreasing event
    time per key, SURVEY \u00a71.3)."""
    import numpy as np

    n = int(chunk_size)
    d = int(round(n * (max_stretch_ratio - 1.0)))
    cols = list(data.columns)
    base = _schema_of(data, cols)
    out_schema = StructType(
        base.fields
        + StructType.fromDDL("m bigint, aligned array<double>").fields
    )
    state_schema = StructType.fromDDL("t0 bigint, s bigint")
    sort_cols = [ts] + ([seq_col] if seq_col else [])

    def interp(s: "np.ndarray", m: int) -> "np.ndarray":
        if m <= 1:
            return s[:1].copy()
        j = np.arange(m, dtype=np.int64)
        pos = (j * (n - 1)) / (m - 1)
        lo = np.floor(pos)
        frac = pos - lo
        hi_idx = np.minimum(lo.astype(np.int64) + 1, n - 1)
        # op order mirrors the JVM expression: frac*hi + (1.0-frac)*lo
        return frac * s[hi_idx] + (1.0 - frac) * s[lo.astype(np.int64)]

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)
        ts_us = pdf[ts].astype("int64") // 1000  # ns -> us
        if state.exists:
            t0, s_emitted = state.get
        else:
            t0, s_emitted = int(ts_us.iloc[0]), 0
        ms = []
        aligned = []
        for i in range(len(pdf)):
            # float64 division exactly as the batch expression computes it
            e = int(np.floor(float((int(ts_us.iloc[i]) - t0) * rate) / 1_000_000.0))
            m = n + max(-d, min(d, e - s_emitted))
            s_emitted += m
            ms.append(m)
            arr = np.asarray(pdf[samples_col].iloc[i], dtype=np.float64)
            aligned.append(interp(arr, m))
        state.update((t0, s_emitted))
        out = pdf[cols].copy()
        out["m"] = pd.Series(ms, dtype="int64")
        out["aligned"] = aligned
        yield out

    return data.groupBy(*keys).applyInPandasWithState(
        fn, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout,
    )


def streaming_llm_chat(
    messages: DataFrame,
    *,
    conversation_col: str = "user_id",
    ts: str = "ts",
    text_col: str = "value",
    seq_col: str | None = None,
    history_limit: int = 8,
) -> DataFrame:
    """Streaming chat stage (reference inference/llamacppchat.py:51-57:
    the model holds per-conversation history). The rolling history (last
    ``history_limit`` messages) is per-key state carried across
    micro-batches — a conversation resumed in a later batch continues
    where it left off. Stub reply = f(history length, history chars),
    identical to the batch twin ``media.inference.llm_chat_stub``; a real
    llama.cpp call drops into the same loop. At scale the state store
    shards conversations by key, the same ownership discipline as the
    batch twin's repartition(conversation)."""
    seq_cols = [seq_col] if seq_col else []
    src = messages.select(conversation_col, ts, *seq_cols, text_col)
    out_schema = StructType(
        list(_schema_of(src, [conversation_col, ts, *seq_cols]))
        + [StructType.fromDDL("`reply` string")[0]]
    )
    state_schema = StructType.fromDDL("history array<string>")
    sort_cols = [ts] + seq_cols

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        hist = list(state.get[0]) if state.exists else []
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(sort_cols, kind="stable", ignore_index=True)
        replies = []
        for t in pdf[text_col].astype(str):
            hist.append(t)
            # not hist[:-limit]: a -0 slice would delete nothing at limit=0
            del hist[: max(0, len(hist) - history_limit)]
            replies.append(f"reply#{len(hist)}:{sum(len(h) for h in hist)}")
        state.update((hist,))
        out = pdf[[conversation_col, ts, *seq_cols]].copy()
        out["reply"] = replies
        yield out

    return src.groupBy(conversation_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def streaming_dedup_exact(
    docs: DataFrame,
    *,
    ts: str = "ts",
    text_col: str = "text",
    watermark_delay: str = "10 seconds",
) -> DataFrame:
    """Streaming twin of ``llmdata.dedup.dedup_exact``: emit only the
    first arrival of each distinct normalized text.

    Built entirely from Spark's native streaming dedup —
    ``dropDuplicatesWithinWatermark`` keyed on the md5 of the normalized
    text — so the state store holds ONE compact row per distinct hash
    (not per document) and expires it once the watermark passes. No
    Python state loop: hashing is a JVM expression, dedup is the
    built-in operator, and state shards by hash across executors exactly
    like the batch groupBy(norm_hash) shuffle.

    Semantics vs batch: ``dedup_exact`` keeps ``min(doc_id)`` per hash;
    under the reference's ordered-ingestion assumption (SURVEY §1.3,
    per-topic nondecreasing timestamps) "first arrival" selects the same
    canonical representative. Duplicates arriving later than
    ``watermark_delay`` after their original are late data and may be
    re-emitted — the documented horizon of any watermarked stream dedup.

    "First arrival" is well-defined only down to MICRO-BATCH
    granularity: duplicates landing in the SAME batch are arrival ties,
    and the state store keeps an arbitrary one of them (measured: a
    multi-file batch can pick a non-minimal doc_id). Sources whose
    batches preserve ingestion order (e.g. one file per trigger) get
    the batch operator's min-id representative exactly; coarser batches
    still dedup correctly but the surviving representative within a
    tied batch is unspecified.
    """
    from streamtasks_spark.llmdata.dedup import norm_text

    hashed = ensure_event_time(
        docs.withColumn("norm_hash", F.expr(f"md5({norm_text(text_col)})")), ts
    )
    return hashed.withWatermark(ts, watermark_delay).dropDuplicatesWithinWatermark(
        ["norm_hash"]
    )


def streaming_paragraph_dedup(
    docs: DataFrame,
    *,
    ts: str = "ts",
    id_col: str = "doc_id",
    text_col: str = "text",
    watermark_delay: str = "10 seconds",
) -> DataFrame:
    """Streaming twin of ``llmdata.dedup.paragraph_dedup`` at PARAGRAPH
    granularity: explode each arriving document on the shared blank-line
    regex and emit only the FIRST arrival of each distinct normalized
    paragraph, as ``(id, ts, idx, para, para_hash)`` rows.

    The cross-batch state stays NATIVE: one compact state-store row per
    distinct paragraph hash via ``dropDuplicatesWithinWatermark``,
    sharded by hash across executors exactly like the batch
    ``groupBy(__h)`` shuffle — no Python state loop, and boilerplate on
    a billion pages is still one state row. Document reassembly
    (``n_paras``/``n_kept``/``text_kept``) is a per-batch grouped agg
    the consumer applies at the sink: a document's paragraphs all ride
    in its arrival batch (the explode is stateless), so a foreachBatch
    ``groupBy(id)`` rebuilds the batch operator's output shape without
    any extra streaming state. Same micro-batch arrival-tie and
    late-data horizon caveats as :func:`streaming_dedup_exact`."""
    from streamtasks_spark.llmdata.dedup import PARA_SPLIT_RE, norm_text

    paras = (
        docs.select(
            F.col(id_col),
            F.col(ts),
            F.posexplode(F.split(F.col(text_col), PARA_SPLIT_RE)).alias(
                "idx", "para"
            ),
        )
        .withColumn("__norm", F.expr(norm_text("para")))
        .filter(F.col("__norm") != "")
        .select(id_col, ts, "idx", "para", F.md5("__norm").alias("para_hash"))
    )
    paras = ensure_event_time(paras, ts)
    return paras.withWatermark(ts, watermark_delay).dropDuplicatesWithinWatermark(
        ["para_hash"]
    )


def streaming_ordered_merge(
    streams: Sequence[DataFrame],
    *,
    keys: Sequence[str],
    ts: str = "ts",
    seq_col: str,
    stream_col: str = "stream_idx",
    watermark_delay: str = "10 seconds",
) -> DataFrame:
    """Streaming synchronizer: union N streams with a stream index, apply
    an event-time watermark, and enforce the per-(key, stream) "drop the
    past" rule with latched max-ts state (client/topic.py:127)."""
    tagged = None
    for i, s in enumerate(streams):
        t = s.withColumn(stream_col, F.lit(i))
        tagged = t if tagged is None else tagged.unionByName(t, allowMissingColumns=True)
    tagged = ensure_event_time(tagged, ts).withWatermark(ts, watermark_delay)

    cols = list(tagged.columns)
    out_schema = _schema_of(tagged, cols)
    state_schema = StructType.fromDDL("max_ts_us bigint")

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        max_us = state.get[0] if state.exists else None
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values([seq_col], kind="stable", ignore_index=True)
        ts_us = pdf[ts].astype("int64")  # pandas datetime64[ns] -> ns
        keep = []
        cur = max_us
        for v in ts_us:
            ok = cur is None or v >= cur
            keep.append(ok)
            if ok:
                cur = v if cur is None else max(cur, v)
        state.update((int(cur) if cur is not None else 0,))
        yield pdf[pd.Series(keep, index=pdf.index)][cols]

    return tagged.groupBy(*keys, stream_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def streaming_interval_join(
    left: DataFrame,
    intervals: DataFrame,
    *,
    keys: Sequence[str],
    left_ts: str = "ts",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    left_delay: str = "1 hour",
    interval_delay: str = "7 hours",
    max_span: str = "24 hours",
) -> DataFrame:
    """Streaming twin of ``operators.joins.range_join``: each left row
    pairs with every interval of the same ``keys`` whose
    ``[start_col, end_col)`` contains ``left_ts``.

    No custom state: this IS Structured Streaming's native stream-stream
    interval join. State eviction needs range conditions between the two
    WATERMARKED event-time columns (``left_ts``, ``start_col``) — a
    bound against the un-watermarked ``end_col`` alone would buffer
    every interval forever. So the join carries BOTH
    ``left_ts < start_col + max_span`` (evicts interval state once the
    left watermark passes ``start + max_span``) and the exact
    ``left_ts < end_col`` band. ``max_span`` must cover the longest
    interval; longer intervals fail loudly via an in-plan guard (the
    same contract as the batch operator's ``max_span_buckets``), never
    silently truncate. ``interval_delay`` additionally allows interval
    rows themselves to arrive late.

    The two inputs' non-key columns must be disjoint (rename upstream);
    the helper renames its join-side working columns internally. The
    batch/stream pair is equivalence-tested in tests/test_streaming.py.
    """
    overlap = (
        (set(left.columns) - set(keys))
        & (set(intervals.columns) - set(keys))
    )
    if overlap:
        raise ValueError(
            "streaming_interval_join: non-key columns appear on both "
            f"sides (ambiguous): {sorted(overlap)} — rename them upstream"
        )
    ivs = ensure_event_time(
        ensure_event_time(intervals, start_col), end_col
    )
    # loud guard, inside an expression Catalyst must keep: an interval
    # longer than max_span would lose its tail matches to the state
    # bound below, so fail the query instead
    ok = F.col(end_col) <= F.col(start_col) + F.expr(f"INTERVAL {max_span}")
    ivs = ivs.filter(
        F.when(ok, F.lit(True)).otherwise(
            F.raise_error(
                F.concat_ws(
                    "",
                    F.lit(
                        f"streaming_interval_join: interval exceeds "
                        f"max_span ({max_span}) at "
                    ),
                    F.col(start_col).cast("string"),
                    F.lit(".."),
                    F.col(end_col).cast("string"),
                )
            )
        )
    ).withWatermark(start_col, interval_delay)
    lhs = ensure_event_time(left, left_ts).withWatermark(left_ts, left_delay)
    cond = (
        (F.col(left_ts) >= F.col(start_col))
        & (F.col(left_ts) < F.col(start_col) + F.expr(f"INTERVAL {max_span}"))
        & (F.col(left_ts) < F.col(end_col))
    )
    for k in keys:
        lk = f"__l_{k}"
        lhs = lhs.withColumnRenamed(k, lk)
        cond = cond & (F.col(lk) == F.col(k))
    out = lhs.join(ivs, cond)
    for k in keys:
        out = out.drop(f"__l_{k}")
    return out


def _claim(checkpoint: str, out_path: str) -> str:
    """The persistent id of the query on ``checkpoint`` (its
    ``metadata`` file, written before batch 0; ``StreamingQuery.id``),
    made the one query that writes ``out_path``: recorded in
    ``_QUERY_ID`` on its first batch (Spark's listing skips ``_``
    names), and any other query is refused before it writes."""
    with open(os.path.join(checkpoint, "metadata")) as f:
        qid = json.load(f)["id"]
    owner_file = os.path.join(out_path, "_QUERY_ID")
    try:
        with open(owner_file) as f:
            owner = f.read()
    except FileNotFoundError:
        os.makedirs(out_path, exist_ok=True)
        tmp = f"{owner_file}.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(qid)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, owner_file)
        owner = qid
    if owner != qid:
        raise ValueError(
            f"{out_path} belongs to streaming query {owner}; query {qid} "
            "may not write it (one query per output path: give this "
            "checkpoint its own output path)"
        )
    return qid


def _start_twin(stream: DataFrame, checkpoint: str, out_path: str, step):
    """Start ``stream`` as the foreachBatch query of a twin below.
    ``step(batch, fence)`` is the twin's per-batch work, with ``fence``
    its ``{"query": id, "batch": n}``. It returns None (nothing to
    write, or a batch already committed), the batch's output DataFrame,
    or ``(output, commit)`` — an index's ``stage(batch, fence)`` —
    where ``commit()`` runs once the output is durable. Batch ``n``'s
    output replaces ``<out_path>/batch_id=<n>/``; see the module
    docstring for the replay contract this gives."""

    def run(batch: DataFrame, batch_id: int) -> None:
        qid = _claim(checkpoint, out_path)
        res = step(batch, {"query": qid, "batch": batch_id})
        if res is None:
            return
        out, commit = res if isinstance(res, tuple) else (res, None)
        out.write.mode("overwrite").parquet(
            os.path.join(out_path, f"batch_id={batch_id}")
        )
        out.unpersist()
        if commit is not None:
            commit()

    return (
        stream.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def _sketch_step(state_path: str, schema: str, cells, bound: int, merge,
                 report, what: str):
    """The step of a sketch twin over the mergeable table at
    ``state_path`` (``schema``: key columns, then one value column).
    ``cells(batch)`` is the batch's sketch in that shape, at most
    ``bound`` rows; ``merge(old, new)`` folds a value into the state
    (``max`` for registers, ``operator.add`` for counters); and
    ``report(spark, rows)`` builds the batch's one-row report from the
    merged rows.

    The merged state is committed after the report is written, with
    the batch's fence in the same manifest flip, and a batch this query
    already fenced is skipped whole: so a replay neither merges a batch
    twice nor adds a report. The merged table is sketch-sized, so it is
    cached on the driver; the cache is merged into a copy, published
    only after the flip, and reloaded whenever the manifest version is
    not the one it mirrors."""
    from streamtasks_spark.core.state import Staging, read_manifest
    from streamtasks_spark.llmdata.dedup import bounded_collect, snapshot_read

    cache: dict = {"version": None, "rows": None}

    def step(batch: DataFrame, fence: dict):
        if Staging((state_path,), fence).committed():
            return None  # this query already committed the batch
        m = read_manifest(state_path)
        spark = batch.sparkSession
        new = cells(batch)
        # the bound is enforced, not just argued
        new_rows = bounded_collect(new, bound, f"{what} batch")
        # a batch with cells is not empty: isEmpty runs only without
        if not new_rows and batch.isEmpty():
            return None
        version = m["version"] if m else None
        if cache["version"] != version or cache["rows"] is None:
            old = snapshot_read(spark, state_path)
            cache["rows"] = {} if old is None else {
                tuple(r[:-1]): r[-1] for r in bounded_collect(
                    old.select(*new.columns), bound, f"{what} state"
                )
            }
            cache["version"] = version
        merged = dict(cache["rows"])
        for r in new_rows:
            k = tuple(r[:-1])
            merged[k] = merge(merged[k], r[-1]) if k in merged else r[-1]
        rows = [(*k, v) for k, v in sorted(merged.items())]

        def commit() -> None:
            _atomic_state_write(spark, rows, schema, state_path, fence=fence)
            cache["version"] = read_manifest(state_path)["version"]
            cache["rows"] = merged

        return report(spark, rows), commit

    return step


def streaming_dedup_minhash(
    docs: DataFrame,
    *,
    index_path: str,
    pairs_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_bucket: int | None = None,
):
    """Streaming near-dedup: continuously ingest a document stream
    against a persistent :class:`~streamtasks_spark.llmdata.dedup.
    MinHashIndex`, writing each micro-batch's verified near-dup pairs
    under ``pairs_path``.

    Near-dedup is join-against-all-history — outside the watermark
    model that serves :func:`streaming_dedup_exact` (whose state is one
    row per hash with an expiry horizon). The scale-correct streaming
    shape is therefore ``foreachBatch`` over the incremental index: the
    stream only ever shuffles the micro-batch's own sketches, history
    participates as one band-keyed join against the postings table, and
    the union of all emitted pair deltas equals the one-shot batch
    ``dedup_minhash`` over everything ingested (the property
    MinHashIndex pins in its batch-equivalence test; each pair is
    emitted by the micro-batch where its later doc arrives).

    Replay: the index twins' contract (module docstring), through
    :meth:`~streamtasks_spark.llmdata.dedup.MinHashIndex.stage`; no
    pair row repeats.

    Returns the started StreamingQuery.
    """
    from streamtasks_spark.llmdata.dedup import MinHashIndex

    index = MinHashIndex(
        index_path,
        id_col=id_col,
        text_col=text_col,
        k=k,
        threshold=threshold,
        max_bucket=max_bucket,
    )
    return _start_twin(
        docs, checkpoint, pairs_path,
        lambda batch, fence: index.stage(batch.select(id_col, text_col), fence),
    )


def streaming_bloom_dedup(
    docs: DataFrame,
    *,
    index_path: str,
    flags_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_bits: int = 1 << 20,
    n_hashes: int = 5,
):
    """Streaming bloom membership pre-filter: continuously ingest a
    document stream against a persistent
    :class:`~streamtasks_spark.llmdata.dedup.BloomIndex`, writing
    each micro-batch's flags (``id, n_bits_hit, maybe_dup``) under
    ``flags_path`` — the cheap always-on first gate of a crawl-ingest
    topology, with :func:`streaming_dedup_minhash` as the exact
    near-dup stage behind it.

    Same foreachBatch-over-incremental-index shape and the same
    batch-decomposition guarantee as the MinHash twin, with a STRONGER
    union property: the bit set is a pure set union over keys, so each
    batch's flags equal ``bloom_dedup(batch, all prior batches)``
    bit-exactly regardless of batching (BloomIndex pins this).

    Replay: the index twins' contract (module docstring), through
    :meth:`~streamtasks_spark.llmdata.dedup.BloomIndex.stage`; a
    replay never probes the batch's own bits.

    Returns the started StreamingQuery."""
    from streamtasks_spark.llmdata.dedup import BloomIndex

    index = BloomIndex(
        index_path,
        id_col=id_col,
        text_col=text_col,
        m_bits=m_bits,
        n_hashes=n_hashes,
    )
    return _start_twin(
        docs, checkpoint, flags_path,
        lambda batch, fence: index.stage(batch.select(id_col, text_col), fence),
    )


def streaming_semantic_dedup(
    vectors: DataFrame,
    *,
    index_path: str,
    verdicts_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_cells: int = 8,
    n_iters: int = 2,
    threshold: float = 0.35,
):
    """Streaming semantic dedup: continuously ingest an embedding
    stream against a persistent :class:`~streamtasks_spark.llmdata.
    similarity.SemDedupIndex`, writing each micro-batch's keep/drop
    verdicts under ``verdicts_path`` — the embedding-space twin of
    :func:`streaming_dedup_minhash`, and the same reasoning for the
    ``foreachBatch`` shape: domination-against-all-history is outside
    the watermark model, so history participates as the index's
    cell-keyed join against the kept table while the stream only ever
    shuffles the micro-batch's own vectors.

    Verdict semantics are the index's (greedy-by-arrival): a vector is
    dropped iff a lower-id cluster-mate at cosine ≥ threshold exists
    among SURVIVORS of earlier micro-batches or anywhere in its own
    batch. With id-monotone arrival (ids increase across batches — the
    natural crawl order) the streamed keep-set is a SUPERSET of the
    one-shot :func:`~streamtasks_spark.llmdata.similarity.
    semantic_dedup` under the same codebook, per vector exactly one
    verdict row (each id is verdict-ed by the micro-batch that carries
    it).

    Replay: the index twins' contract (module docstring), through
    :meth:`~streamtasks_spark.llmdata.similarity.SemDedupIndex.stage`;
    ``kept/`` holds each survivor once.

    Returns the started StreamingQuery."""
    from streamtasks_spark.core.state import read_manifest
    from streamtasks_spark.llmdata.similarity import SemDedupIndex

    index = SemDedupIndex(
        index_path,
        id_col=id_col,
        vec_col=vec_col,
        dim=dim,
        n_cells=n_cells,
        n_iters=n_iters,
        threshold=threshold,
    )

    def step(batch: DataFrame, fence: dict):
        # an empty batch cannot train the codebook: checked until it can
        if read_manifest(index.codebook_path) is None and batch.isEmpty():
            return None
        return index.stage(batch.select(id_col, vec_col), fence)

    return _start_twin(vectors, checkpoint, verdicts_path, step)


def streaming_unigram_lm(
    docs: DataFrame,
    *,
    vocab: list[tuple[str, int]],
    total: int,
    scores_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Streaming quality scoring against a FROZEN unigram LM: each
    arriving micro-batch is scored by :func:`~streamtasks_spark.
    llmdata.quality.unigram_lm_score` under the ``(vocab, total)``
    model trained once on a reference corpus
    (:func:`~streamtasks_spark.llmdata.quality.unigram_lm_train`) —
    the continuous-ingest shape of CCNet-style perplexity filtering,
    and the same frozen-model semantics as SemDedupIndex's codebook:
    the quantizer never moves under already-scored documents, so a
    document's score is a pure function of its own text and the model,
    independent of arrival batching or order.

    That purity is why ``foreachBatch`` needs no index or state here
    (unlike streaming_dedup_minhash): the union of per-batch scores
    equals the batch :func:`unigram_lm_score` over everything
    ingested, bit-exactly, one row per arriving document.

    Returns the started StreamingQuery."""
    from streamtasks_spark.llmdata.quality import unigram_lm_score

    return _start_twin(
        docs, checkpoint, scores_path,
        lambda batch, _: unigram_lm_score(
            batch.select(id_col, text_col), vocab, total,
            id_col=id_col, text_col=text_col,
        ),
    )


def streaming_ngram_lm(
    docs: DataFrame,
    *,
    vocab: list[tuple[str, int]],
    total: int,
    scores_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
):
    """Streaming n-gram fluency scoring against a FROZEN model from
    :func:`~streamtasks_spark.llmdata.quality.ngram_lm_train` — the
    bigram rung of the CCNet-style ladder under the exact
    frozen-model/foreachBatch contract of :func:`streaming_unigram_lm`
    (a doc's score is a pure function of its own text and the model,
    so per-batch outputs union to the batch result bit-exactly).

    Returns the started StreamingQuery."""
    from streamtasks_spark.llmdata.quality import ngram_lm_score

    return _start_twin(
        docs, checkpoint, scores_path,
        lambda batch, _: ngram_lm_score(
            batch.select(id_col, text_col), vocab, total,
            id_col=id_col, text_col=text_col, n=n,
        ),
    )


def streaming_bm25_filter(
    docs: DataFrame,
    *,
    terms,
    stats: tuple,
    threshold: float,
    hits_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
):
    """Streaming topical-crawl filter: score each arriving document's
    BM25 relevance to a fixed ``terms`` bag under FROZEN corpus stats
    from :func:`~streamtasks_spark.llmdata.textstats.bm25_stats`, and
    write documents scoring ≥ ``threshold`` under ``hits_path`` — the
    targeted-crawl curation shape (keep the pages relevant to a topic
    bag as they arrive). Same frozen-model/foreachBatch contract as
    :func:`streaming_unigram_lm`: a doc's score is a pure function of
    (text, terms, stats), so per-batch outputs union to the batch
    :func:`bm25_score_frozen` result filtered at the same threshold,
    bit-exactly, independent of batching.

    Returns the started StreamingQuery."""
    from streamtasks_spark.llmdata.textstats import bm25_score_frozen

    return _start_twin(
        docs, checkpoint, hits_path,
        lambda batch, _: bm25_score_frozen(
            batch.select(id_col, text_col), stats, terms=terms,
            id_col=id_col, text_col=text_col, k1=k1, b=b,
        ).filter(F.col("bm25") >= F.lit(threshold)),
    )


def streaming_bpe_count(
    docs: DataFrame,
    *,
    merge_rows: list[tuple],
    out_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Streaming subword accounting under a FROZEN BPE merge table
    (``merge_rows`` as ``(merge_rank, x, y, ...)`` tuples from a
    :func:`~streamtasks_spark.llmdata.bpe.bpe_train` result, collected
    once at stream start): each arriving document is encoded with
    :func:`~streamtasks_spark.llmdata.bpe.bpe_encode_frozen` and its
    ``(id, n_bpe_tokens)`` row written under ``out_path`` — the live
    half of token-budget accounting while a
    crawl streams in (what does this batch cost in training tokens
    under OUR tokenizer, not a whitespace estimate). Same
    frozen-model/foreachBatch contract as :func:`streaming_bm25_filter`:
    a doc's encoding is a pure function of (text, merges), so per-batch
    outputs union to the one-shot batch encode bit-exactly,
    independent of arrival batching and order.

    Returns the started StreamingQuery."""
    from streamtasks_spark.llmdata.bpe import bpe_encode_frozen

    rows = sorted(tuple(m[:3]) for m in merge_rows)
    return _start_twin(
        docs, checkpoint, out_path,
        lambda batch, _: bpe_encode_frozen(
            batch.select(id_col, text_col), rows,
            id_col=id_col, text_col=text_col,
        ).select(id_col, "n_bpe_tokens"),
    )


def streaming_approx_distinct(
    docs: DataFrame,
    *,
    state_path: str,
    estimates_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 1,
    p: int = 5,
):
    """Streaming distinct-unit cardinality over a persistent
    HyperLogLog register file — the MERGEABILITY that makes sketches
    the streaming-native summary: per micro-batch, compute the batch's
    registers and max-merge them into the ``state_path`` table (≤ 2^p
    rows however much history accretes), then write one
    (n_buckets_hit, raw_estimate, corrected_estimate) row under
    ``estimates_path``.
    After any batch decomposition the merged registers — and therefore
    the estimate — equal the one-shot
    :func:`~streamtasks_spark.llmdata.textstats.approx_distinct_hll`
    register state over everything ingested, EXACTLY: max-merge is
    associative, commutative, and idempotent. The state rewrite is
    ATOMIC (:func:`_atomic_state_write`: versioned segment + one-file
    manifest flip, never ``mode('overwrite')``'s delete-then-write) and
    fenced by the batch (:func:`_sketch_step`); run one ingest owner
    per state table, the MinHashIndex discipline.

    Returns the started StreamingQuery."""
    from streamtasks_spark.llmdata.textstats import (
        _hll_corrected_expr,
        _hll_units_expr,
    )

    if not (2 <= p <= 14):
        raise ValueError(f"streaming_approx_distinct: p in [2, 14], got {p}")
    m = 1 << p
    w = 48 - p
    s = w + 1
    alpha = 0.7213 / (1.0 + 1.079 / m) if m >= 128 else (
        0.673 if m == 16 else 0.697 if m == 32 else 0.709 if m == 64
        else 0.5
    )
    am2 = alpha * m * m
    h = "cast(conv(substring(md5(__t), 1, 12), 16, 10) as bigint)"

    def registers(batch: DataFrame) -> DataFrame:
        return (
            batch.select(
                F.explode(F.expr(_hll_units_expr(text_col, n, "spark")))
                .alias("__t")
            )
            .filter(F.col("__t").isNotNull())
            .select(
                F.expr(f"pmod({h}, {m})").alias("__bucket"),
                F.expr(f"cast(floor({h} / {m}) as bigint)").alias("__v"),
            )
            .select(
                "__bucket",
                F.expr(
                    f"CASE WHEN __v = 0 THEN {s} "
                    f"ELSE {w} - length(bin(__v)) + 1 END"
                ).alias("__M"),
            )
            .groupBy("__bucket")
            .agg(F.max("__M").alias("__M"))
        )

    def report(spark, rows) -> DataFrame:
        n_hit = len(rows)
        ssum = sum(2 ** (s - M) for _, M in rows) + (m - n_hit) * (2 ** s)
        est = am2 * float(2 ** s) / float(ssum)
        # est is one correctly-rounded double division over exact
        # integers — bit-identical in Python and the JVM. The ROUNDING
        # and the linear-counting ln, however, go through the same JVM
        # expressions the batch op uses (F.round is HALF_UP; Python's
        # round() is banker's and could disagree on an exact-half 7th
        # decimal; ln must come from the same libm as approx_distinct_
        # hll's corrected_estimate), so the documented bit-equality to
        # the one-shot batch estimate holds by construction.
        return local_frame(
            spark, [(n_hit, est)], "n_buckets_hit long, __est double",
        ).select(
            "n_buckets_hit",
            F.round(F.col("__est"), 6).alias("raw_estimate"),
            F.round(
                F.expr(_hll_corrected_expr("__est", "n_buckets_hit", m)), 6
            ).alias("corrected_estimate"),
        )

    return _start_twin(
        docs, checkpoint, estimates_path,
        _sketch_step(
            state_path, "`__bucket` bigint, `__M` int", registers, m, max,
            report, "streaming_approx_distinct",
        ),
    )


def streaming_heavy_hitters(
    docs: DataFrame,
    *,
    state_path: str,
    reports_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 256,
    depth: int = 4,
    phi: float = 0.005,
):
    """Streaming heavy hitters over a persistent Count-Min sketch —
    the SUM-mergeable sibling of :func:`streaming_approx_distinct`'s
    max-merge: per micro-batch, the batch's d×w cell counts ADD into
    the ``state_path`` sketch (counter merge is associative and
    commutative, so the merged sketch equals the one-shot sketch over
    everything ingested for ANY batch decomposition), the corpus
    token total accumulates alongside, and one report row per batch
    (current token total and heavy-cell count) is written under
    ``reports_path``. Counter adds are NOT idempotent, so exactness
    under replay rests on the batch fence committed with the state
    (:func:`_sketch_step`): a batch this query already merged is
    skipped. A different query on the same state (a fresh checkpoint)
    is new input and adds again; run one ingest owner per state table.

    The heavy SET itself (with exact verification) remains the batch
    op's job — this twin maintains the mergeable state the way a
    production pipeline would, then the batch
    :func:`~streamtasks_spark.llmdata.textstats.heavy_hitters_cms`
    runs over the full corpus when the exact column is wanted.

    Returns the started StreamingQuery."""
    from streamtasks_spark.llmdata.dedup import tokens_expr

    def cells(batch: DataFrame) -> DataFrame:
        toks = batch.select(
            F.explode(F.expr(tokens_expr(text_col))).alias("__t")
        )
        counts = toks.groupBy("__t").agg(
            F.count(F.lit(1)).cast("bigint").alias("__c")
        )
        bucket = (
            "pmod(cast(conv(substring(md5(concat(cast({j} as string), "
            "':', __t)), 1, 12), 16, 10) as bigint), {w})"
        )
        parts = [
            counts.select(
                F.lit(j).alias("__row"),
                F.expr(bucket.format(j=j, w=width)).alias("__bucket"),
                "__c",
            )
            for j in range(depth)
        ]
        out = parts[0]
        for piece in parts[1:]:
            out = out.unionByName(piece)
        return out.groupBy("__row", "__bucket").agg(
            F.sum("__c").alias("__cell")
        )

    def report(spark, rows) -> DataFrame:
        total = sum(c for rj, b, c in rows if rj == 0)
        bar = total * int(round(phi * 1_000_000))
        # heavy-cell count: every truly heavy token's cell clears the
        # bar in EVERY row (CMS never under-counts), but a CELL is not
        # a TOKEN — two heavy tokens hashed into the same bucket of a
        # row merge into one cell there, so a row's heavy-cell count
        # can sit BELOW the heavy-token count. max() across rows is
        # therefore the report: it is an upper bound on the heavy-token
        # count whenever at least one row separates all heavy tokens
        # (collision in every one of the `depth` independent rows has
        # probability ~(k²/2w)^depth for k heavy tokens), where min()
        # already undercounts at a single colliding row. Report-only;
        # the token-level heavy SET is the batch op's job.
        n_heavy_cells = max(
            sum(
                1 for rj, b, c in rows
                if rj == j and c * 1_000_000 >= bar
            )
            for j in range(depth)
        )
        return local_frame(
            spark, [(total, n_heavy_cells)],
            "token_total long, n_heavy_cells long",
        )

    return _start_twin(
        docs, checkpoint, reports_path,
        _sketch_step(
            state_path, "`__row` int, `__bucket` bigint, `__cell` bigint",
            cells, depth * width, operator.add, report,
            "streaming_heavy_hitters",
        ),
    )


def streaming_dsir_weights(
    docs: DataFrame,
    *,
    counts: list[tuple[int, int, int]],
    t_t: int,
    t_r: int,
    weights_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
):
    """Streaming importance weighting against FROZEN DSIR models: each
    arriving micro-batch is weighed by :func:`~streamtasks_spark.
    llmdata.quality.dsir_score` under the ``(counts, t_t, t_r)``
    target/raw models trained once on reference corpora
    (:func:`~streamtasks_spark.llmdata.quality.dsir_train`) — the
    continuous-ingest shape of importance-resampling data selection
    (Xie et al. 2023), and the same frozen-model contract as
    :func:`streaming_unigram_lm`: the models never move under
    already-weighed documents, so a document's weight is a pure
    function of its own text and the models, independent of arrival
    batching or order.

    That purity is why ``foreachBatch`` needs no index or state: the
    union of per-batch weights equals the batch :func:`dsir_score`
    over everything ingested, bit-exactly, one row per arriving
    document.

    Returns the started StreamingQuery."""
    from streamtasks_spark.llmdata.quality import dsir_score

    return _start_twin(
        docs, checkpoint, weights_path,
        lambda batch, _: dsir_score(
            batch.select(id_col, text_col), counts, t_t, t_r,
            id_col=id_col, text_col=text_col, n_buckets=n_buckets,
        ),
    )


def streaming_importance_resample(
    docs: DataFrame,
    *,
    counts: list[tuple[int, int, int]],
    t_t: int,
    t_r: int,
    kept_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
    rate: float = 0.5,
    salt: str = "resample",
):
    """Streaming DSIR SELECTION against frozen models: each arriving
    micro-batch is weighed by :func:`~streamtasks_spark.llmdata.
    quality.dsir_score` under the frozen ``(counts, t_t, t_r)`` models
    and thinned by the deterministic hash coin
    (u = md5-28-bit(salt, id)/2^28 < min(1, rate·weight)) — the
    continuous-ingest shape of the selection step itself, one tier past
    :func:`streaming_dsir_weights` (which reports weights and leaves
    the draw to a batch pass).

    Both the weight and the coin are pure functions of the document
    and the frozen models — independent of arrival batching and order
    — so the union of per-batch kept rows equals the batch
    :func:`~streamtasks_spark.llmdata.quality.importance_resample_score`
    over everything ingested, bit-exactly (the streaming_dsir_weights
    purity argument carried through the filter: a filter of a pure
    projection is itself pure).

    Returns the started StreamingQuery."""
    from streamtasks_spark.llmdata.quality import importance_resample_score

    return _start_twin(
        docs, checkpoint, kept_path,
        lambda batch, _: importance_resample_score(
            batch.select(id_col, text_col), counts, t_t, t_r,
            id_col=id_col, text_col=text_col, n_buckets=n_buckets,
            rate=rate, salt=salt,
        ),
    )


def streaming_cluster_prune(
    vectors: DataFrame,
    *,
    centroids_rows: list[tuple[int, list[float], float]],
    cutoffs: list[tuple[int, float]],
    verdicts_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
):
    """Streaming D4 curation against a FROZEN prune policy: each
    arriving embedding micro-batch is judged by :func:`~streamtasks_
    spark.llmdata.similarity.cluster_prune_frozen` under the
    ``(centroids, cutoffs)`` policy profiled once on a reference
    corpus (:func:`~streamtasks_spark.llmdata.similarity.
    cluster_profile` → :func:`cluster_prune` →
    :func:`prune_cutoffs`) — the continuous-ingest shape of
    cluster-then-prune data curation, and the same frozen-model
    contract as :func:`streaming_unigram_lm`: the policy never moves
    under already-judged vectors, so a verdict is a pure function of
    the vector and the policy, independent of arrival batching or
    order. Per-batch verdicts union to the batch
    ``cluster_prune_frozen`` over everything ingested, bit-exactly.

    ``centroids_rows``: the frozen codebook as plain
    ``(cell, vector, norm)`` tuples (collect the ``__cell/__cv/__cn``
    table once on the driver — codebook-sized), so the twin carries
    no live DataFrame across micro-batches.

    Returns the started StreamingQuery."""
    from streamtasks_spark.llmdata.similarity import cluster_prune_frozen

    return _start_twin(
        vectors, checkpoint, verdicts_path,
        lambda batch, _: cluster_prune_frozen(
            batch.select(id_col, vec_col),
            centroids=local_frame(
                batch.sparkSession, centroids_rows,
                "__cell int, __cv array<double>, __cn double",
            ),
            cutoffs=cutoffs, id_col=id_col, vec_col=vec_col, dim=dim,
        ),
    )


def streaming_ann_ingest(
    vectors: DataFrame,
    *,
    index_path: str,
    reports_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_cells: int = 8,
    n_probe: int = 2,
    m_sub: int = 8,
    n_codes: int = 8,
    n_iters: int = 2,
    rerank: int = 4,
):
    """Continuous ANN-index ingestion: each micro-batch appends into a
    persistent
    :class:`~streamtasks_spark.llmdata.similarity.IvfPqIndex` (raw
    vectors commit before codes; each commit is one atomic manifest
    flip), and the batch's own drift-stats row — measured against the
    frozen codebooks — is written under ``reports_path``, so the
    monitoring stream and the index's
    :meth:`drift_report` are the same numbers. Queries serve from the
    index between batches via :meth:`IvfPqIndex.query` (snapshot-
    isolated by the manifest protocol).

    First batch freezes BOTH codebooks (the IvfPqIndex seeding
    contract: it must carry ids below ``n_cells``/``n_codes`` — the
    natural id-monotone crawl order — or pre-build the index with
    trained codebooks before starting the stream).

    Replay: the index twins' contract (module docstring), through
    :meth:`~streamtasks_spark.llmdata.similarity.IvfPqIndex.stage`;
    the report is the batch's landed stats row, and ``stats/`` holds
    one row per batch.

    Returns the started StreamingQuery."""
    from streamtasks_spark.core.state import read_manifest
    from streamtasks_spark.llmdata.similarity import IvfPqIndex

    index = IvfPqIndex(
        index_path,
        id_col=id_col,
        vec_col=vec_col,
        dim=dim,
        n_cells=n_cells,
        n_probe=n_probe,
        m_sub=m_sub,
        n_codes=n_codes,
        n_iters=n_iters,
        rerank=rerank,
    )

    def step(batch: DataFrame, fence: dict):
        # an empty batch cannot seed the codebooks: checked until it can
        if read_manifest(index.centroids_path) is None and batch.isEmpty():
            return None
        return index.stage(batch.select(id_col, vec_col), fence)

    return _start_twin(vectors, checkpoint, reports_path, step)
