#!/usr/bin/env python
"""Fresh-seed cross-engine fuzz sweep over all four adversarial tiers.

The committed fuzz fixtures (tests/test_oracle_fuzz.py) pin specific
seeds; this tool runs the SAME generators and compare machinery with
arbitrary new seeds — the campaign that found the r04 regexp/ANSI bugs
and the r05 sr_latch tie-indeterminacy (seed 523, later promoted into
the fixtures). When a seed fails here, fix the divergence, then add the
seed to the committed fixture so the geometry stays covered.

Usage:
  python scripts/fuzz_sweep.py                      # default 3 seeds/tier
  python scripts/fuzz_sweep.py --seeds 11,22,33     # same seeds, all tiers
  python scripts/fuzz_sweep.py --tiers events,docs  # restrict tiers
  python scripts/fuzz_sweep.py --doc-len 50         # docs tier only:
      # prose docs grow to ~2000 tokens (the LENGTH volume axis —
      # shingle sets, substring grams, token-histogram mass per doc)
  python scripts/fuzz_sweep.py --dim 512            # vectors tier only:
      # embedding dimensionality MISMATCH axis (default 64). The
      # entry queries and their oracles are configured for the driver
      # corpus's dim 64, so a non-64 run must fail LOUDLY — expected
      # outcome is 17 ERR lines naming the dim mismatch (10 through
      # r08: 7 pre-r08 + the semantic_dedup train guard + the
      # ann_sq_topk and ann_ivf_sq_topk entry guards; +2 r09 PQ/
      # decontaminate guards; +2 r10 cluster_prune pair; +3 r11:
      # ann_index_drift, ann_ivf_pq_res_topk, and cluster_profile —
      # whose missing guard the r11 campaign found as a LIVE silent
      # divergence at dim 512 that the r10 "0 silent FAIL" record had
      # miscounted; the guard now rides its training pass) and ZERO
      # silent FAIL lines (the r07 pre-guard state was 15 silent
      # FAILs at dim 3 plus oracle-truncation at dim 512;
      # re-verified r11, seeds 7310 + 11422: 17 loud ERR, 0 silent
      # FAIL)
  python scripts/fuzz_sweep.py --paragraphs         # docs tier only:
      # ~30% of prose separators become blank-line runs — the r11
      # PARAGRAPH axis giving paragraph_dedup real multi-paragraph
      # geometry (duplicate docs, spliced tails crossing paragraph
      # boundaries, trailing separator runs)
  python scripts/fuzz_sweep.py --unicode            # docs tier only:
      # half the prose tokens drawn from UNI_WORDS (Σ/İ special
      # casing, CJK, emoji, combining marks, NBSP/ZWSP-in-token —
      # the UNICODE axis; found the r07 norm_text case-fold bug)
  python scripts/fuzz_sweep.py --nonfinite          # vectors tier only:
      # ~1/8 of the embeddings carry NaN/+-Inf components — the axis
      # behind the r07 finite-positive norm gate (NaN poisoned the
      # k-means codebook into an unparseable `nanD` literal)
  python scripts/fuzz_sweep.py --rich-props         # events tier only:
      # half the props become valid-JSON-but-non-integer k shapes
      # (float/string/bool/null/array/object/unicode) — the axis that
      # found ANSI Spark dying on {"k": 3.5} while the oracle coerced
  python scripts/fuzz_sweep.py --scale 10           # 10x corpora: docs/
      # events/vectors get 10x rows, tpch mutates the sf0.01 base
      # instead of sf0.001 — the volume axis that stresses percentile
      # ties, window population, and LSH bucket geometry (r06 ran
      # events 10x, vectors 10x, tpch 10x clean; the docs "7.5x" in
      # that run came from a manual row-count override, not this
      # integer knob)
  python scripts/fuzz_sweep.py --streaming          # the STREAMING-TWIN
      # axis (r07 verdict task 7): instead of the batch oracle surface,
      # replay FUZZED events (duplicate ts, hot users, NULL props,
      # boundary values) through the 14 batch≡streaming equivalence
      # specs of tests/test_streaming_equivalence.py — fuzzed rows are
      # globally time-sorted, re-sequenced, and chunked into the same
      # 125-row time-ordered micro-batch files (+ watermark flush row)
      # the committed harness uses, then each twin's streamed frame is
      # compared frame-for-frame against its batch counterpart over
      # the identical chunked copy. Composes with --seeds; other axes
      # are ignored in this mode.

Exit 0 = no divergences; 1 = at least one FAIL/ERR line printed.
"""

from __future__ import annotations

import sys
import tempfile

REPO = __file__.rsplit("/", 2)[0]
sys.path.insert(0, REPO)
sys.path.insert(0, f"{REPO}/tests")

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from streamtasks_spark.oracle import (  # noqa: E402
    MISSING_TABLE,
    certify,
    duck_conn,
)
from test_oracle_fuzz import (  # noqa: E402
    TPCH_TABLES,
    make_corpus,
    make_events,
    make_vectors,
    mutate_tpch,
)

DOC_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])
EV_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string()),
])
VEC_SCHEMA = pa.schema([
    ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
    ("label", pa.int32()),
])

def write_one(d: str, name: str, schema, rows) -> None:
    cols = list(zip(*rows))
    pq.write_table(
        pa.table({f.name: list(c) for f, c in zip(schema, cols)},
                 schema=schema),
        f"{d}/{name}.parquet",
    )


def make_dir(tier: str, seed: int, scale: int = 1, doc_len: int = 1,
             dim: int = 64, unicode_frac: float = 0.0,
             rich_props: bool = False, nonfinite: bool = False,
             para_frac: float = 0.0) -> str:
    d = tempfile.mkdtemp(prefix=f"fz_{tier}{seed}_")
    if tier == "docs":
        write_one(d, "documents", DOC_SCHEMA,
                  make_corpus(seed, n=80 * scale, doc_len=doc_len,
                              unicode_frac=unicode_frac,
                              para_frac=para_frac))
    elif tier == "events":
        write_one(d, "events", EV_SCHEMA,
                  make_events(seed, n=400 * scale, rich_props=rich_props))
    elif tier == "vectors":
        write_one(d, "embeddings", VEC_SCHEMA,
                  make_vectors(seed, n=80 * scale, dim=dim,
                               nonfinite=nonfinite))
    elif tier == "tpch":
        # scale>1 mutates the sf0.01 base (10x rows) instead of
        # sf0.001 — resampling already randomizes row COUNT via frac,
        # so the base swap is the volume knob
        base = (
            "/root/testdata/sf0.01" if scale > 1
            else "/root/testdata/sf0.001"
        )
        tables = mutate_tpch(seed, 0.25 + (seed % 7) / 10.0, base=base)
        for t in TPCH_TABLES:
            schema = pq.read_schema(f"{base}/{t}.parquet")
            pq.write_table(
                pa.Table.from_pylist(tables[t], schema=schema),
                f"{d}/{t}.parquet",
            )
    return d


def make_stream_chunk_dir(spark, events_dir: str) -> str:
    """Chunk a fuzzed events table into the committed equivalence
    harness's geometry: rows globally sorted by (ts, event_id) and
    RE-SEQUENCED (event_id := time rank), split into 125-row files in
    time order, plus a far-future flush row that pushes the final
    watermark past every real window. Re-sequencing establishes the
    per-topic nondecreasing-ts-in-seq contract the harness requires
    (the reference's topic ordering, SURVEY §1.3) — without it the two
    sides would legitimately disagree about which fuzzed rows are
    late. File mtimes are forced strictly increasing (the parquet file
    stream orders by modification time), no sleeps."""
    import os as _os
    import pandas as pd_

    from test_streaming_equivalence import CHUNK_SIZE, FLUSH_TYPE

    pdf = (
        pq.read_table(f"{events_dir}/events.parquet")
        .to_pandas()
        .sort_values(["ts", "event_id"], kind="mergesort")
        .reset_index(drop=True)
    )
    pdf["event_id"] = pdf.index.astype("int64")
    d = tempfile.mkdtemp(prefix="fzs_chunks_")
    n_chunks = (len(pdf) + CHUNK_SIZE - 1) // CHUNK_SIZE
    for i in range(n_chunks):
        part = pdf.iloc[i * CHUNK_SIZE:(i + 1) * CHUNK_SIZE]
        _os.makedirs(f"{d}/c{i:02d}")
        pq.write_table(
            pa.Table.from_pandas(part, schema=EV_SCHEMA,
                                 preserve_index=False),
            f"{d}/c{i:02d}/part.parquet",
        )
    flush = pd_.DataFrame([{
        "event_id": 10**9,
        "ts": pdf["ts"].max() + pd_.Timedelta(days=10),
        "user_id": -1, "event_type": FLUSH_TYPE,
        "value": 0.0, "props": None,
    }])
    _os.makedirs(f"{d}/c99_flush")
    pq.write_table(
        pa.Table.from_pandas(flush, schema=EV_SCHEMA,
                             preserve_index=False),
        f"{d}/c99_flush/part.parquet",
    )
    t0 = 1_700_000_000
    for i, sub in enumerate(sorted(_os.listdir(d))):
        for f in _os.listdir(f"{d}/{sub}"):
            _os.utime(f"{d}/{sub}/{f}", (t0 + 10 * i, t0 + 10 * i))
    return d


def run_streaming_sweep(seeds: list[int]) -> int:
    """Fuzzed-input batch≡streaming frame equality over every
    sweepable twin — the committed harness's specs and comparison,
    arbitrary fresh events."""
    import pathlib

    from test_streaming_equivalence import (
        _batch_mod,
        _frame,
        _stream_mod,
        batch_events,
        run_stream,
        stream_events,
        SPECS,
    )

    from streamtasks_spark.session import get_spark

    spark = get_spark("fuzz_streaming")
    BatchMod, StreamMod = _batch_mod(), _stream_mod()
    n_fail = 0
    for seed in seeds:
        src_dir = tempfile.mkdtemp(prefix=f"fzs_ev{seed}_")
        write_one(src_dir, "events", EV_SCHEMA, make_events(seed, n=400))
        chunk_dir = pathlib.Path(make_stream_chunk_dir(spark, src_dir))
        ran = 0
        for name, spec in sorted(SPECS.items()):
            try:
                expect = _frame(
                    spec(lambda: batch_events(spark, chunk_dir), BatchMod)
                )
                ckpt = pathlib.Path(tempfile.mkdtemp(prefix="fzs_ckpt_"))
                got = _frame(run_stream(
                    spark,
                    spec(lambda: stream_events(spark, chunk_dir), StreamMod),
                    ckpt,
                ))
            except Exception as e:  # noqa: BLE001
                n_fail += 1
                print(f"ERR  streaming/{seed}/{name}: "
                      f"{type(e).__name__}: {str(e)[:200]}", flush=True)
                continue
            ran += 1
            if not expect:
                print(f"WARN streaming/{seed}/{name}: batch side empty "
                      f"(equality vacuous)", flush=True)
            if got != expect:
                n_fail += 1
                only_b = [r for r in expect if r not in got][:2]
                only_s = [r for r in got if r not in expect][:2]
                print(
                    f"FAIL streaming/{seed}/{name}: {len(got)} streamed "
                    f"vs {len(expect)} batch rows; batch-only "
                    f"{only_b} stream-only {only_s}", flush=True,
                )
        print(f"streaming seed {seed}: {ran} twins compared", flush=True)
    print(f"TOTAL FAILS: {n_fail}", flush=True)
    return 1 if n_fail else 0


def main() -> int:
    seeds = [37, 141, 245]
    tiers = ["docs", "events", "vectors", "tpch"]
    scale = 1
    doc_len = 1
    dim = 64
    unicode_frac = 0.0
    para_frac = 0.0
    rich_props = False
    nonfinite = False
    streaming = False

    def flag_value(argv, i):
        """Support both --flag=v and --flag v (the usage shows both)."""
        if "=" in argv[i]:
            return argv[i].split("=", 1)[1], i + 1
        if i + 1 >= len(argv):
            raise SystemExit(f"{argv[i]} needs a value")
        return argv[i + 1], i + 2

    def is_flag(arg: str, name: str) -> bool:
        # exact match only — "--seedsfoo"/"--scales" must hit the
        # unknown-argument error, not silently parse
        return arg == name or arg.startswith(name + "=")

    argv = sys.argv[1:]
    i = 0
    while i < len(argv):
        if is_flag(argv[i], "--seeds"):
            v, i = flag_value(argv, i)
            seeds = [int(x) for x in v.split(",")]
        elif is_flag(argv[i], "--tiers"):
            v, i = flag_value(argv, i)
            tiers = v.split(",")
        elif is_flag(argv[i], "--scale"):
            v, i = flag_value(argv, i)
            scale = int(v)
        elif is_flag(argv[i], "--doc-len"):
            v, i = flag_value(argv, i)
            doc_len = int(v)
        elif is_flag(argv[i], "--dim"):
            v, i = flag_value(argv, i)
            dim = int(v)
        elif argv[i] == "--unicode":
            unicode_frac = 0.5
            i += 1
        elif argv[i] == "--paragraphs":
            para_frac = 0.3
            i += 1
        elif argv[i] == "--rich-props":
            rich_props = True
            i += 1
        elif argv[i] == "--nonfinite":
            nonfinite = True
            i += 1
        elif argv[i] == "--streaming":
            streaming = True
            i += 1
        else:
            raise SystemExit(f"unknown argument: {argv[i]}")

    if streaming:
        return run_streaming_sweep(seeds)

    import __spark_entry__ as entrymod
    from streamtasks_spark.session import get_spark

    spark = get_spark("fuzz_sweep")
    n_fail = 0
    for tier in tiers:
        for seed in seeds:
            d = make_dir(tier, seed, scale, doc_len, dim, unicode_frac,
                         rich_props, nonfinite, para_frac)
            con = duck_conn(d)
            ran = 0
            for name in entrymod.queries():
                problems = certify(spark, con, name, d)
                err = bool(problems) and problems[0].startswith(
                    ("spark error", "duckdb error"))
                if err and problems[0].startswith(MISSING_TABLE):
                    continue  # query needs tables this tier lacks
                ran += not err
                if problems:
                    n_fail += 1
                    print(f"{'ERR ' if err else 'FAIL'} {tier}/{seed}/"
                          f"{name}: {problems[:2]}", flush=True)
            print(f"tier {tier} seed {seed}: {ran} queries compared",
                  flush=True)
    print(f"TOTAL FAILS: {n_fail}", flush=True)
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
