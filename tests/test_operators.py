"""Temporal/stateful operators vs hand-written Python reference models,
the reference's Simulator pattern (/root/reference/tests/sim.py:78-137):
seeded random interleaved event sequences, exact output comparison."""

from __future__ import annotations

import random
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from streamtasks_spark.operators.joins import asof_join, last_value_join, ordered_merge
from streamtasks_spark.operators.stateful import (
    gate,
    message_detector,
    sr_latch,
    string_concatenator,
    switch,
)
from streamtasks_spark.operators.timing import repeater, time_buffer


def ms(x: int) -> datetime:
    return datetime.fromtimestamp(x / 1000.0, tz=timezone.utc).replace(tzinfo=None)


def make_streams(seed: int, n: int, n_keys: int = 3):
    """Interleaved (key, ts, value) events with equal-ts collisions and
    values straddling the 0.5 threshold (FIXTURES.md §1)."""
    rng = random.Random(seed)
    t = 1_000_000
    rows = []
    for i in range(n):
        t += rng.choice([0, 0, 1, 5, 100, 1000, 3000])
        rows.append(
            {
                "key": f"k{rng.randrange(n_keys)}",
                "ts": t,
                "value": rng.choice([0.0, 0.49, 0.5, 0.51, 1.0, -1.0, 1337.0]),
                "seq": i,
            }
        )
    return rows


def to_df(spark, rows):
    return spark.createDataFrame(
        [
            {**r, "ts": ms(r["ts"])}
            for r in rows
        ]
    )


# ------------------------------------------------------- last_value_join


def test_last_value_join_matches_model(spark):
    data = make_streams(1, 120)
    ctrl = make_streams(2, 80)
    out = last_value_join(
        to_df(spark, data),
        {"ctl": to_df(spark, ctrl)},
        keys=["key"],
        ts="ts",
        control_first=True,
        seq_col=None,
    ).collect()

    def model(row):
        # latest ctrl value with ts <= row ts (control first at equal ts)
        cands = [c for c in ctrl if c["key"] == row["key"] and c["ts"] <= row["ts"]]
        if not cands:
            return None
        best = max(cands, key=lambda c: (c["ts"], c["seq"]))
        return best["value"]

    got = {(r["key"], r["seq"]): r["ctl"] for r in out}
    assert len(out) == len(data)
    for d in data:
        assert got[(d["key"], d["seq"])] == model(d), d


def test_gate_matches_model(spark):
    for initial_open in (False, True):
        data = make_streams(3, 150)
        ctrl = make_streams(4, 60)
        out = gate(
            to_df(spark, data),
            to_df(spark, ctrl),
            keys=["key"],
            initial_open=initial_open,
        ).collect()
        passed = {(r["key"], r["seq"]) for r in out}
        for d in data:
            cands = [c for c in ctrl if c["key"] == d["key"] and c["ts"] <= d["ts"]]
            if cands:
                best = max(cands, key=lambda c: (c["ts"], c["seq"]))
                expect = best["value"] > 0.5
            else:
                expect = initial_open
            assert ((d["key"], d["seq"]) in passed) == expect, (d, initial_open)


def test_switch_matches_model(spark):
    d0, d1 = make_streams(5, 80), make_streams(6, 80)
    for r in d1:
        r["seq"] += 1000  # unique identity across the two data streams
    c0, c1 = make_streams(7, 40), make_streams(8, 40)
    out = switch(
        [(to_df(spark, d0), to_df(spark, c0)), (to_df(spark, d1), to_df(spark, c1))],
        keys=["key"],
    ).collect()
    passed = {(r["key"], r["seq"]) for r in out}

    def latest(ctrl, key, ts):
        cands = [c for c in ctrl if c["key"] == key and c["ts"] <= ts]
        return max(cands, key=lambda c: (c["ts"], c["seq"]))["value"] if cands else None

    for idx, data, in ((0, d0), (1, d1)):
        for d in data:
            vals = [latest(c0, d["key"], d["ts"]), latest(c1, d["key"], d["ts"])]
            present = [v for v in vals if v is not None]
            if not present:
                expect = False
            else:
                mx = max(present)
                sel = next(i for i, v in enumerate(vals) if v == mx)
                expect = sel == idx
            assert ((d["key"], d["seq"]) in passed) == expect, (idx, d)


def test_sr_latch_matches_model(spark):
    sets = make_streams(9, 70)
    resets = make_streams(10, 70)
    out = sr_latch(
        to_df(spark, sets), to_df(spark, resets), keys=["key"], default=False
    ).collect()

    # python model per key: replay merged events in (ts, src) order —
    # reset sorts before set at equal ts (matching the operator's rule)
    events = [(r["ts"], "reset", r["key"], r["value"]) for r in resets]
    events += [(s["ts"], "set", s["key"], s["value"]) for s in sets]
    events.sort(key=lambda e: (e[0], e[1] == "set"))
    state: dict = {}
    expected = []
    for ts, src, key, value in events:
        st = state.setdefault(key, {"set": False, "reset": False, "value": False})
        st[src] = value > 0.5
        if st["set"] != st["reset"]:
            st["value"] = st["set"]
        expected.append((key, ts, 1.0 if st["value"] else 0.0))
    got = sorted((r["key"], r["ts"], r["value"]) for r in out)
    exp = sorted((k, ms(t), v) for k, t, v in expected)
    assert got == exp


def test_ordered_merge_drops_late(spark):
    rows = [
        {"key": "a", "ts": 10, "value": 1.0, "seq": 0},
        {"key": "a", "ts": 5, "value": 2.0, "seq": 1},   # late -> dropped
        {"key": "a", "ts": 10, "value": 3.0, "seq": 2},  # equal -> kept
        {"key": "a", "ts": 20, "value": 4.0, "seq": 3},
        {"key": "b", "ts": 1, "value": 5.0, "seq": 4},
    ]
    out = ordered_merge(
        [to_df(spark, rows)], keys=["key"], drop_late=True, seq_col="seq"
    ).collect()
    kept = sorted(r["seq"] for r in out)
    assert kept == [0, 2, 3, 4]


def test_message_detector(spark):
    rows = [
        {"key": "a", "ts": 1000, "value": 0.0, "seq": 0},
        {"key": "a", "ts": 1400, "value": 0.0, "seq": 1},   # gap 400 < 1000
        {"key": "a", "ts": 5000, "value": 0.0, "seq": 2},   # gap 3600 -> off+on
        {"key": "b", "ts": 2000, "value": 0.0, "seq": 3},
    ]
    out = message_detector(
        to_df(spark, rows), keys=["key"], timeout_ms=1000
    ).collect()
    got = sorted((r["key"], r["ts"], r["value"]) for r in out)
    assert got == sorted(
        [
            ("a", ms(1000), 1.0),
            ("a", ms(2400), 0.0),
            ("a", ms(5000), 1.0),
            ("a", ms(6000), 0.0),
            ("b", ms(2000), 1.0),
            ("b", ms(3000), 0.0),
        ]
    )


def test_string_concatenator(spark):
    data = [
        {"key": "a", "ts": 1, "value": "x", "seq": 0},
        {"key": "a", "ts": 2, "value": "y", "seq": 1},
        {"key": "a", "ts": 5, "value": "z", "seq": 2},   # after flush
        {"key": "a", "ts": 7, "value": "w", "seq": 3},
    ]
    ctrl = [
        {"key": "a", "ts": 3, "value": 1.0, "seq": 10},  # rising edge: flush "xy"
        {"key": "a", "ts": 4, "value": 1.0, "seq": 11},  # still high: no flush
        {"key": "a", "ts": 6, "value": 0.0, "seq": 12},  # falling
        {"key": "a", "ts": 8, "value": 1.0, "seq": 13},  # rising: flush "zw"
    ]
    dd = spark.createDataFrame([{**r, "ts": ms(r["ts"])} for r in data])
    cc = spark.createDataFrame([{**r, "ts": ms(r["ts"])} for r in ctrl])
    out = string_concatenator(dd, cc, keys=["key"]).collect()
    got = sorted((r["ts"], r["value"]) for r in out)
    assert got == [(ms(3), "xy"), (ms(8), "zw")]


def test_asof_join_and_tolerance(spark):
    left = to_df(
        spark,
        [
            {"key": "a", "ts": 10, "value": 0.0, "seq": 0},
            {"key": "a", "ts": 25, "value": 0.0, "seq": 1},
            {"key": "b", "ts": 5, "value": 0.0, "seq": 2},
        ],
    )
    right = to_df(
        spark,
        [
            {"key": "a", "ts": 10, "value": 100.0, "seq": 10},
            {"key": "a", "ts": 20, "value": 200.0, "seq": 11},
            {"key": "b", "ts": 9, "value": 300.0, "seq": 12},
        ],
    )
    out = asof_join(
        left, right, keys=["key"], right_cols=["value"], suffix="_r"
    ).collect()
    got = {r["seq"]: r["value_r"] for r in out}
    assert got == {0: 100.0, 1: 200.0, 2: None}

    out2 = asof_join(
        left, right, keys=["key"], right_cols=["value"], suffix="_r",
        tolerance_ms=4,
    ).collect()
    got2 = {r["seq"]: r["value_r"] for r in out2}
    assert got2 == {0: 100.0, 1: None, 2: None}

    out3 = asof_join(
        left, right, keys=["key"], right_cols=["value"], suffix="_r",
        allow_exact_match=False,
    ).collect()
    got3 = {r["seq"]: r["value_r"] for r in out3}
    assert got3 == {0: None, 1: 200.0, 2: None}


def test_time_buffer_and_repeater(spark):
    rows = [
        {"key": "a", "ts": 1000, "value": 1.0, "seq": 0},
        {"key": "a", "ts": 3500, "value": 2.0, "seq": 1},
        {"key": "a", "ts": 4000, "value": 3.0, "seq": 2},
    ]
    df = to_df(spark, rows)
    shifted = time_buffer(df, delay_ms=500).collect()
    assert sorted(r["ts"] for r in shifted) == [ms(1500), ms(4000), ms(4500)]

    held = repeater(df, keys=["key"], interval_ms=1000, value_cols=["value"]).collect()
    got = sorted((r["ts"], r["value"]) for r in held)
    assert got == [(ms(2000), 1.0), (ms(3000), 1.0), (ms(4000), 3.0)]


def test_media_switch_matches_model(spark):
    """Reference mediaswitch.py:15-27 semantics: only selected-input rows
    forward, and only once the selected input has delivered a keyframe
    while selected; active survives deselection."""
    from streamtasks_spark.operators.chunks import media_switch

    d0, d1 = make_streams(15, 120), make_streams(16, 120)
    for r in d1:
        r["seq"] += 1000
    for r in d0 + d1:
        r["is_keyframe"] = r["seq"] % 3 == 0
    c0, c1 = make_streams(17, 50), make_streams(18, 50)
    for r in c0 + c1:
        r["is_keyframe"] = False

    out = media_switch(
        [(to_df(spark, d0), to_df(spark, c0)), (to_df(spark, d1), to_df(spark, c1))],
        keys=["key"],
        seq_col="seq",
    ).collect()
    got = {(r["key"], r["seq"]) for r in out}

    # python reference model, replayed in (ts, prio, seq) order per key
    events = (
        [(r["ts"], 0, r["seq"], "c0", r) for r in c0]
        + [(r["ts"], 0, r["seq"], "c1", r) for r in c1]
        + [(r["ts"], 1, r["seq"], "d0", r) for r in d0]
        + [(r["ts"], 1, r["seq"], "d1", r) for r in d1]
    )
    keys = {r["key"] for r in d0 + d1 + c0 + c1}
    expect = set()
    for key in keys:
        ctl = {0: None, 1: None}
        active = None
        for ts, prio, seq, kind, r in sorted(
            (e for e in events if e[4]["key"] == key), key=lambda e: (e[0], e[1], e[2])
        ):
            if kind == "c0":
                ctl[0] = r["value"]
            elif kind == "c1":
                ctl[1] = r["value"]
            else:
                pair = 0 if kind == "d0" else 1
                if ctl[0] is None and ctl[1] is None:
                    desired = None
                elif ctl[0] is not None and ctl[0] >= (ctl[1] if ctl[1] is not None else ctl[0]):
                    desired = 0
                else:
                    desired = 1
                if pair == desired and r["is_keyframe"]:
                    active = pair
                if pair == desired and pair == active:
                    expect.add((key, seq))
    assert got == expect


def test_replay_buffer_round_trip(spark, tmp_path):
    """ReplayBuffer lifecycle (reference replaybuffer.py:21-90): record a
    stream to storage, read it back, replay rebased with loop — spacing
    within each iteration preserved, iterations tiled by span + gap."""
    from streamtasks_spark.operators.timing import replay

    data = make_streams(21, 40)
    df = to_df(spark, data)
    path = str(tmp_path / "recorded")
    df.write.parquet(path)  # record

    rec = spark.read.parquet(path)  # replay source
    out = replay(
        rec, keys=["key"], new_start_ms=1_000_000, loop=3, gap_ms=500
    ).collect()

    by_key = {}
    for r in data:
        by_key.setdefault(r["key"], []).append(r)
    for key, rows in by_key.items():
        t0 = min(r["ts"] for r in rows)
        span = max(r["ts"] for r in rows) - t0
        got = {
            (r["iteration"], r["seq"]): r["ts"]
            for r in out
            if r["key"] == key
        }
        assert len(got) == 3 * len(rows)
        for it in range(3):
            for r in rows:
                expect_ms = 1_000_000 + (r["ts"] - t0) + it * (span + 500)
                ts = got[(it, r["seq"])]
                got_ms = ts.timestamp() * 1000
                assert abs(got_ms - expect_ms) < 1, (key, it, r["seq"])


def test_interleave_max_desync_flags_lagging_stream(spark):
    """OutputContainer's max_desync rule (reference outputcontainer.py:
    49,70-101): a packet timestamped more than max_desync ms behind the
    mux head (the newest timestamp already muxed) is flagged for drop.
    Desync needs duration/timestamp disagreement: stream 0 accumulates
    duration fast (muxed late) while its timestamps crawl; stream 1 races
    ahead in timestamps on tiny durations."""
    from streamtasks_spark.operators.timing import interleave_by_duration

    a = spark.createDataFrame(
        [
            {"key": "k", "seq": i, "duration": 100.0, "ts": ms(1_000_000 + 10 * i)}
            for i in range(5)
        ]
    )
    b = spark.createDataFrame(
        [
            {"key": "k", "seq": i, "duration": 10.0, "ts": ms(1_000_000 + 1000 * i)}
            for i in range(5)
        ]
    )
    out = interleave_by_duration(
        [a, b], keys=["key"], seq_col="seq", max_desync_ms=1000.0
    ).collect()

    # python model: replay in mux order tracking the head timestamp
    rows = sorted(out, key=lambda r: r["mux_order"])
    head = None
    for r in rows:
        t = r["ts"].timestamp() * 1000
        expect = head is not None and head - t > 1000.0
        assert r["dropped"] == expect, r
        head = t if head is None else max(head, t)
    dropped = [r for r in rows if r["dropped"]]
    assert dropped  # the rule actually fires on this data
    assert all(r["stream_idx"] == 0 for r in dropped)  # only the stale track


def test_interleave_seq_col_fallback_and_raise(spark):
    from streamtasks_spark.operators.timing import interleave_by_duration

    no_order = spark.createDataFrame([{"key": "k", "duration": 1.0}])
    with pytest.raises(ValueError, match="seq_col"):
        interleave_by_duration([no_order, no_order], keys=["key"])

    with_ts = spark.createDataFrame(
        [{"key": "k", "ts": ms(1_000_000 + i), "duration": 1.0} for i in range(3)]
    )
    out = interleave_by_duration([with_ts, with_ts], keys=["key"]).collect()
    assert len(out) == 6  # falls back to ts ordering, deterministic


def test_range_join_semantics(spark):
    from streamtasks_spark.operators.joins import range_join

    # buckets are 1 minute; interval A spans 3 buckets, B is sub-bucket
    left = spark.createDataFrame(
        [("a", 0, 1), ("a", 150, 2), ("a", 180, 3), ("b", 150, 4), ("a", 70, 5)],
        "key string, sec long, v long",
    ).select("key", F.timestamp_seconds("sec").alias("ts"), "v")
    iv = spark.createDataFrame(
        [("a", 0, 180, "A"), ("a", 65, 80, "B")],
        "key string, s long, e long, iv string",
    ).select(
        "key",
        F.timestamp_seconds("s").alias("start_ts"),
        F.timestamp_seconds("e").alias("end_ts"),
        "iv",
    )
    out = range_join(
        left, iv, keys=["key"], bucket_minutes=1
    ).select("iv", "v").collect()
    got = sorted((r["iv"], r["v"]) for r in out)
    # ts==start included, ts==end excluded, keys respected, a row inside
    # two intervals matches both exactly once each
    assert got == [("A", 1), ("A", 2), ("A", 5), ("B", 5)]


def test_range_join_span_guard(spark):
    from pyspark.errors.exceptions.captured import SparkRuntimeException
    from streamtasks_spark.operators.joins import range_join

    left = spark.createDataFrame(
        [("a", 0, 1)], "key string, sec long, v long"
    ).select("key", F.timestamp_seconds("sec").alias("ts"), "v")
    iv = spark.createDataFrame(
        [("a", 0, 10_000_000)], "key string, s long, e long"
    ).select(
        "key",
        F.timestamp_seconds("s").alias("start_ts"),
        F.timestamp_seconds("e").alias("end_ts"),
    )
    with pytest.raises(SparkRuntimeException, match="range_join"):
        range_join(
            left, iv, keys=["key"], bucket_minutes=1, max_span_buckets=100
        ).collect()


def test_range_join_reversed_and_null_bounds(spark):
    from pyspark.errors.exceptions.captured import SparkRuntimeException
    from streamtasks_spark.operators.joins import range_join

    left = spark.createDataFrame(
        [("a", 100, 1)], "key string, sec long, v long"
    ).select("key", F.timestamp_seconds("sec").alias("ts"), "v")

    # reversed interval: fail fast, not a descending runaway sequence
    rev = spark.createDataFrame(
        [("a", 500_000, 0)], "key string, s long, e long"
    ).select(
        "key",
        F.timestamp_seconds("s").alias("start_ts"),
        F.timestamp_seconds("e").alias("end_ts"),
    )
    with pytest.raises(SparkRuntimeException, match="reversed"):
        range_join(left, rev, keys=["key"], bucket_minutes=1).collect()

    # NULL bound: the row can never match the band — dropped, no error
    nulls = spark.createDataFrame(
        [("a", 0, None), ("a", 0, 200)], "key string, s long, e long"
    ).select(
        "key",
        F.timestamp_seconds("s").alias("start_ts"),
        F.timestamp_seconds("e").alias("end_ts"),
    )
    out = range_join(left, nulls, keys=["key"], bucket_minutes=1).collect()
    assert len(out) == 1 and out[0]["v"] == 1


def test_stretch_align_resyncs_clock_and_matches_duckdb(spark, tmp_path):
    """AudioSequencer drift correction (reference media/util.py:188-269,
    max_stretch_ratio audiomixer.py:33): per-track sample clock must
    converge to event time under jitter, stretch stays within the
    ratio bound, and the whole op is bit-identical to a DuckDB twin
    built on the same integer recurrence."""
    from datetime import datetime, timedelta

    import duckdb

    from streamtasks_spark.operators.chunks import stretch_align
    from streamtasks_spark.oracle import compare

    n, rate, ratio = 16, 16_000, 1.1
    d = round(n * (ratio - 1.0))  # ±2 samples per chunk
    t0 = datetime(2024, 1, 1)
    rows = []
    for k in (1, 2, 3):
        drift = 0
        for i in range(40):
            # deterministic jitter: accumulating then receding phase
            drift += (37 * (i + k) % 23) - 11
            ts = t0 + timedelta(microseconds=i * 1000 + max(0, drift) * 10)
            rows.append(
                (k, i, ts, [float((i * n + j + k) % 9) for j in range(n)])
            )
    df = spark.createDataFrame(
        rows,
        "user_id long, event_id long, ts timestamp, samples array<double>",
    )
    src = str(tmp_path / "chunks.parquet")
    df.coalesce(1).write.parquet(src)
    back = spark.read.parquet(src)

    out = stretch_align(
        back, keys=["user_id"], seq_col="event_id",
        rate=rate, chunk_size=n, max_stretch_ratio=ratio,
    )
    got = out.select(
        "user_id", "event_id", "m",
        F.size("aligned").alias("n_out"),
        (F.round(F.expr("aggregate(aligned, 0D, (acc, x) -> acc + x)"), 6)
         + F.lit(0.0)).alias("sum_aligned"),
        (F.round(F.element_at("aligned", 1), 6) + F.lit(0.0)).alias("first_s"),
    ).toPandas()

    # stretch bound honored
    assert got["m"].between(n - d, n + d).all()

    # the clock converges: cumulative emitted samples track the nominal
    # event-time clock within one chunk's correction budget window
    per_key = out.select("user_id", "ts", "m").toPandas()
    for k, g in per_key.groupby("user_id"):
        g = g.sort_values("ts")
        emitted = g["m"].cumsum().shift(fill_value=0)
        nominal = (
            (g["ts"] - g["ts"].iloc[0]).dt.total_seconds() * rate
        ).apply(int)
        # drift never exceeds the per-chunk clamp times a small factor
        assert (emitted - nominal).abs().max() <= 4 * d + n

    pos = "((j * 15) / (m - 1))"
    oracle = f"""
WITH RECURSIVE b AS (
  SELECT user_id, event_id, samples,
    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS idx,
    CAST(floor((epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY user_id))
         * {rate} / 1000000.0) AS BIGINT) AS e
  FROM read_parquet('{src}/*.parquet')
), rec AS (
  SELECT user_id, idx,
    CAST({n} AS BIGINT) + greatest(-{d}, least({d}, e)) AS m,
    CAST({n} AS BIGINT) + greatest(-{d}, least({d}, e)) AS s_after
  FROM b WHERE idx = 0
  UNION ALL
  SELECT b.user_id, b.idx,
    {n} + greatest(-{d}, least({d}, b.e - r.s_after)),
    r.s_after + {n} + greatest(-{d}, least({d}, b.e - r.s_after))
  FROM b JOIN rec r ON b.user_id = r.user_id AND b.idx = r.idx + 1
), j AS (
  SELECT b.user_id, b.event_id, r.m,
    CASE WHEN r.m <= 1 THEN [b.samples[1]]
    ELSE list_transform(range(0, CAST(r.m AS INT)), j ->
      ({pos} - floor({pos})) * b.samples[CAST(least(floor({pos}) + 2, {n}) AS INT)]
      + (1.0 - ({pos} - floor({pos}))) * b.samples[CAST(floor({pos}) + 1 AS INT)])
    END AS aligned
  FROM b JOIN rec r ON b.user_id = r.user_id AND b.idx = r.idx
)
SELECT user_id, event_id, m, len(aligned) AS n_out,
  round(list_sum(aligned), 6) + 0.0 AS sum_aligned,
  round(aligned[1], 6) + 0.0 AS first_s
FROM j
"""
    want = duckdb.connect().execute(oracle).df()
    assert compare("stretch_align", got, want) == []
