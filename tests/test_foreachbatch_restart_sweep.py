"""Restart/replay sweep over every foreachBatch persistent-index,
sketch and frozen-model streaming twin.

The applyInPandasWithState twins get their restart coverage from
test_streaming_restart_sweep.py (checkpointed state store). The
foreachBatch twins keep their durable state OUTSIDE the checkpoint —
parquet index tables, sketch files, per-batch output directories — so
their restart contract is different and is pinned here, parametrized
over all thirteen:

1. **clean-stop resume**: the stream is stopped after the first two
   of four micro-batches and a NEW query incarnation resumes from the
   same checkpoint over the remaining files. The union of both runs'
   outputs — and, for the index/sketch twins, the final state table —
   must equal the one-shot batch result over everything ingested,
   bit-exactly, with no row re-emitted (the committed-offset log is
   what keeps run 2 from re-reading run 1's files).

2. **crash after commit** (all thirteen): the last batch's output and
   state are durable but its checkpoint commit is deleted, so the same
   checkpoint replays it. Every output row stays one copy (the batch
   rewrites its own ``batch_id=<n>`` directory) and the state does not
   move (the batch fence in the sketch twins' state and in every
   index's last table skips it), so the Count-Min grid still equals
   the one-shot grid and every index is unchanged.

3. **one query per output path**: a fresh checkpoint on the same output
   path fails before it writes; output and state are unchanged.

4. **replay as a new query**: the whole source re-runs against the
   same durable state under a FRESH checkpoint and a FRESH output path.
   A new query is new input to the state algebra:

   - max-merge registers (HLL) and set-union bits (bloom):
     IDEMPOTENT — state bit-identical after the full replay;
   - sum-merge cells (CMS): NOT idempotent — every cell exactly
     doubles;
   - frozen-model twins (unigram, ngram, bm25 filter, bpe count, dsir
     weights, importance resample, cluster prune): stateless — the new
     path holds exactly one copy of every row and the old path is
     unchanged;
   - pair/verdict/ANN index twins (minhash, semantic, ann ingest):
     no leg; their per-batch restart behavior is covered by the resume
     half and their own dedicated tests.
"""

from __future__ import annotations

import os

import pytest

# the default run excludes this sweep (pytest.ini):
# it is the slow tier — run with `-m slow`
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from streamtasks_spark.session import read_parquet

SF_DIR = "/root/testdata/sf0.001"
CUTS = (125, 250, 375)  # four id-range chunks -> four micro-batches


def _chunk_preds(idc):
    lo = (0, *CUTS)
    hi = (*CUTS, 1 << 62)
    return [
        (F.col(idc) >= a) & (F.col(idc) < b) for a, b in zip(lo, hi)
    ]


def _write_chunks(df, idc, dst, which, mtime_base):
    """Write the selected id-range chunks as single files with forced
    mtimes (the file source orders by modification time)."""
    preds = _chunk_preds(idc)
    for i in which:
        sub = os.path.join(dst, f"c{i}")
        df.filter(preds[i]).coalesce(1).write.parquet(sub)
        t = mtime_base + 10 * i
        for f in os.listdir(sub):
            os.utime(os.path.join(sub, f), (t, t))


def _drain(q):
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _state_read(spark, path):
    """Durable state tables commit through the versioned-manifest
    protocol — resolve them the way the engine does."""
    from streamtasks_spark.llmdata.dedup import snapshot_read

    df = snapshot_read(spark, path)
    assert df is not None, f"no committed state at {path}"
    return df


def _rows(spark, path, drop=("batch_id",)):
    df = spark.read.parquet(path).drop(*drop)
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _canon(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


# ---------------------------------------------------------------- specs
#
# Each spec: source table, id column, start(stream, td, ctx) building
# the twin with its paths under td, prepare(spark, full) for frozen
# models, expect(spark, full, chunks, td, ctx) -> canonical rows the
# appended outputs must equal after the resume, out_path, state(spark,
# td) -> canonical durable state for the replay leg, and replay mode
# (None | "idempotent" | "double").


def _spec_unigram():
    from streamtasks_spark.llmdata.quality import (
        unigram_lm_score,
        unigram_lm_train,
    )
    from streamtasks_spark.streaming.stateful import streaming_unigram_lm

    return dict(
        source="documents", idc="doc_id",
        prepare=lambda spark, full: unigram_lm_train(full, vocab_size=64),
        start=lambda stream, td, ctx, ck, out: streaming_unigram_lm(
            stream, vocab=ctx[0], total=ctx[1],
            scores_path=out, checkpoint=ck,
        ),
        expect=lambda spark, full, chunks, td, ctx: _canon(
            unigram_lm_score(full, ctx[0], ctx[1])
        ),
        replay="stateless",
    )


def _spec_ngram():
    from streamtasks_spark.llmdata.quality import (
        ngram_lm_score,
        ngram_lm_train,
    )
    from streamtasks_spark.streaming.stateful import streaming_ngram_lm

    return dict(
        source="documents", idc="doc_id",
        prepare=lambda spark, full: ngram_lm_train(
            full, n=2, vocab_size=64
        ),
        start=lambda stream, td, ctx, ck, out: streaming_ngram_lm(
            stream, vocab=ctx[0], total=ctx[1],
            scores_path=out, checkpoint=ck, n=2,
        ),
        expect=lambda spark, full, chunks, td, ctx: _canon(
            ngram_lm_score(full, ctx[0], ctx[1], n=2)
        ),
        replay="stateless",
    )


_BM25_TERMS = ("spark", "hash", "window", "merge")


def _spec_bm25_filter():
    from streamtasks_spark.llmdata.textstats import (
        bm25_score_frozen,
        bm25_stats,
    )
    from streamtasks_spark.streaming.stateful import streaming_bm25_filter

    def prepare(spark, full):
        stats = bm25_stats(full, terms=_BM25_TERMS)
        scores = [
            r["bm25"]
            for r in bm25_score_frozen(
                full, stats, terms=_BM25_TERMS
            ).collect()
        ]
        assert scores
        thr = sorted(scores)[len(scores) // 2]  # median: both sides hit
        return stats, thr

    return dict(
        source="documents", idc="doc_id",
        prepare=prepare,
        start=lambda stream, td, ctx, ck, out: streaming_bm25_filter(
            stream, terms=_BM25_TERMS, stats=ctx[0], threshold=ctx[1],
            hits_path=out, checkpoint=ck,
        ),
        expect=lambda spark, full, chunks, td, ctx: _canon(
            bm25_score_frozen(full, ctx[0], terms=_BM25_TERMS).filter(
                F.col("bm25") >= F.lit(ctx[1])
            )
        ),
        replay="stateless",
    )


def _spec_bpe_count():
    from streamtasks_spark.llmdata.bpe import bpe_encode_frozen, bpe_train
    from streamtasks_spark.streaming.stateful import streaming_bpe_count

    def prepare(spark, full):
        rows = [
            tuple(r)
            for r in bpe_train(full, n_merges=6, min_freq=2).collect()
        ]
        assert rows  # the corpus must actually learn merges
        return (rows,)

    return dict(
        source="documents", idc="doc_id",
        prepare=prepare,
        start=lambda stream, td, ctx, ck, out: streaming_bpe_count(
            stream, merge_rows=ctx[0], out_path=out,
            checkpoint=ck,
        ),
        expect=lambda spark, full, chunks, td, ctx: _canon(
            bpe_encode_frozen(
                full, sorted(m[:3] for m in ctx[0])
            ).select("doc_id", "n_bpe_tokens")
        ),
        replay="stateless",
    )


def _spec_dsir_weights():
    from streamtasks_spark.llmdata.quality import dsir_score, dsir_train
    from streamtasks_spark.streaming.stateful import streaming_dsir_weights

    pred = "doc_id % 7 = 0"
    return dict(
        source="documents", idc="doc_id",
        prepare=lambda spark, full: dsir_train(full, target_pred=pred),
        start=lambda stream, td, ctx, ck, out: streaming_dsir_weights(
            stream, counts=ctx[0], t_t=ctx[1], t_r=ctx[2],
            weights_path=out, checkpoint=ck,
        ),
        expect=lambda spark, full, chunks, td, ctx: _canon(
            dsir_score(full, ctx[0], ctx[1], ctx[2])
        ),
        replay="stateless",
    )


def _spec_importance_resample():
    from streamtasks_spark.llmdata.quality import (
        dsir_train,
        importance_resample_score,
    )
    from streamtasks_spark.streaming.stateful import (
        streaming_importance_resample,
    )

    pred = "doc_id % 7 = 0"
    return dict(
        source="documents", idc="doc_id",
        prepare=lambda spark, full: dsir_train(full, target_pred=pred),
        start=lambda stream, td, ctx, ck, out: streaming_importance_resample(
            stream, counts=ctx[0], t_t=ctx[1], t_r=ctx[2],
            kept_path=out, checkpoint=ck, rate=0.5,
        ),
        expect=lambda spark, full, chunks, td, ctx: _canon(
            importance_resample_score(
                full, ctx[0], ctx[1], ctx[2], rate=0.5
            )
        ),
        replay="stateless",
    )


def _spec_minhash():
    from streamtasks_spark.llmdata.dedup import dedup_minhash
    from streamtasks_spark.streaming.stateful import streaming_dedup_minhash

    return dict(
        source="documents", idc="doc_id",
        prepare=lambda spark, full: None,
        start=lambda stream, td, ctx, ck, out: streaming_dedup_minhash(
            stream, index_path=f"{td}/index", pairs_path=out,
            checkpoint=ck, threshold=0.5,
        ),
        expect=lambda spark, full, chunks, td, ctx: _canon(
            dedup_minhash(full, threshold=0.5)
        ),
        state=lambda spark, td: (
            sorted(
                (r["doc_id"], r["__band_idx"], r["__band_key"])
                for r in _state_read(spark, f"{td}/index/bands").collect()
            ),
            sorted(
                (r["doc_id"], tuple(r["hashes"]))
                for r in _state_read(spark, f"{td}/index/hashes").collect()
            ),
        ),
        replay=None,
    )


def _spec_bloom():
    from streamtasks_spark.llmdata.dedup import _bloom_bits, bloom_dedup
    from streamtasks_spark.streaming.stateful import streaming_bloom_dedup

    def expect(spark, full, chunks, td, ctx):
        # per-batch flags = bloom_dedup(batch, union of PRIOR batches);
        # batch 0 probes empty history -> all zero
        out = [
            (int(r["doc_id"]), 0, False) for r in chunks[0].collect()
        ]
        hist = chunks[0]
        for c in chunks[1:]:
            out += [
                (r["doc_id"], r["n_bits_hit"], r["maybe_dup"])
                for r in bloom_dedup(c, hist, m_bits=1 << 16).collect()
            ]
            hist = hist.unionByName(c)
        return sorted(out)

    return dict(
        source="documents", idc="doc_id",
        prepare=lambda spark, full: None,
        start=lambda stream, td, ctx, ck, out: streaming_bloom_dedup(
            stream, index_path=f"{td}/index", flags_path=out,
            checkpoint=ck, m_bits=1 << 16,
        ),
        expect=expect,
        # ordered (id, n_bits_hit, maybe_dup) triples, like expect
        canon_out=lambda spark, out: sorted(
            (r["doc_id"], r["n_bits_hit"], r["maybe_dup"])
            for r in spark.read.parquet(out).collect()
        ),
        state=lambda spark, td: sorted(
            r["__pos"]
            for r in _state_read(spark, f"{td}/index/bits")
            .select("__pos").distinct().collect()
        ),
        state_expect=lambda spark, full, td: sorted(
            r["__pos"]
            for r in _bloom_bits(full, "text", 1 << 16, 5).collect()
        ),
        replay="idempotent",
    )


def _spec_semantic():
    from streamtasks_spark.llmdata.similarity import SemDedupIndex
    from streamtasks_spark.streaming.stateful import (
        streaming_semantic_dedup,
    )

    def expect(spark, full, chunks, td, ctx):
        # sequential index ingests of the same id-monotone splits
        ref = SemDedupIndex(f"{td}/ref_index", threshold=0.35)
        out = []
        for c in chunks:
            out += [
                (r["vec_id"], r["cell"], r["keep"])
                for r in ref.ingest(c).collect()
            ]
        return sorted(out)

    return dict(
        source="embeddings", idc="vec_id",
        prepare=lambda spark, full: None,
        start=lambda stream, td, ctx, ck, out: streaming_semantic_dedup(
            stream, index_path=f"{td}/index",
            verdicts_path=out, checkpoint=ck, threshold=0.35,
        ),
        expect=expect,
        canon_out=lambda spark, out: sorted(
            (r["vec_id"], r["cell"], r["keep"])
            for r in spark.read.parquet(out).collect()
        ),
        state=lambda spark, td: sorted(
            r["vec_id"]
            for r in _state_read(spark, f"{td}/index/kept").collect()
        ),
        replay=None,
    )


def _spec_cluster_prune():
    from streamtasks_spark.llmdata.similarity import (
        cluster_prune,
        cluster_prune_frozen,
        prune_cutoffs,
        train_centroids,
    )
    from streamtasks_spark.streaming.stateful import (
        streaming_cluster_prune,
    )

    def prepare(spark, full):
        cents = train_centroids(full, n_cells=8, n_iters=2)
        cutoffs = prune_cutoffs(cluster_prune(full, centroids=cents))
        rows = [
            (int(r["__cell"]), list(r["__cv"]), float(r["__cn"]))
            for r in cents.collect()
        ]
        return rows, cutoffs

    def expect(spark, full, chunks, td, ctx):
        rows, cutoffs = ctx
        cents = spark.createDataFrame(
            rows, "__cell int, __cv array<double>, __cn double"
        )
        return _canon(
            cluster_prune_frozen(full, centroids=cents, cutoffs=cutoffs)
        )

    return dict(
        source="embeddings", idc="vec_id",
        prepare=prepare,
        start=lambda stream, td, ctx, ck, out: streaming_cluster_prune(
            stream, centroids_rows=ctx[0], cutoffs=ctx[1],
            verdicts_path=out, checkpoint=ck,
        ),
        expect=expect,
        replay="stateless",
    )


def _spec_hll():
    from streamtasks_spark.llmdata.textstats import approx_distinct_hll
    from streamtasks_spark.streaming.stateful import (
        streaming_approx_distinct,
    )

    def expect(spark, full, chunks, td, ctx):
        # final estimates row equals the one-shot batch sketch (raw
        # AND corrected); earlier rows are monotone prefixes
        one = approx_distinct_hll(full, n=3, p=8).collect()[0]
        rows = sorted(
            spark.read.parquet(f"{td}/out").collect(),
            key=lambda r: r["batch_id"],
        )
        assert [r["batch_id"] for r in rows] == [0, 1, 2, 3]
        last = rows[-1]
        assert last["raw_estimate"] == one["raw_estimate"]
        assert last["corrected_estimate"] == one["corrected_estimate"]
        assert last["n_buckets_hit"] == one["n_buckets_hit"]
        ests = [r["raw_estimate"] for r in rows]
        assert ests == sorted(ests)  # registers only grow
        return None  # assertions above replace the canonical compare

    return dict(
        source="documents", idc="doc_id",
        prepare=lambda spark, full: None,
        start=lambda stream, td, ctx, ck, out: streaming_approx_distinct(
            stream, state_path=f"{td}/state",
            estimates_path=out, checkpoint=ck, n=3, p=8,
        ),
        expect=expect,
        state=lambda spark, td: sorted(
            (r["__bucket"], r["__M"])
            for r in _state_read(spark, f"{td}/state").collect()
        ),
        replay="idempotent",
    )


def _spec_cms():
    from streamtasks_spark.llmdata.dedup import spread, tokens_expr
    from streamtasks_spark.streaming.stateful import (
        streaming_heavy_hitters,
    )

    def expect(spark, full, chunks, td, ctx):
        toks = spread(full, "doc_id").select(
            F.explode(F.expr(tokens_expr("text"))).alias("__t")
        )
        reps = sorted(
            spark.read.parquet(f"{td}/out").collect(),
            key=lambda r: r["batch_id"],
        )
        assert [r["batch_id"] for r in reps] == [0, 1, 2, 3]
        assert reps[-1]["token_total"] == toks.count()
        return None

    def state_expect(spark, full, td):
        # the one-shot Count-Min grid, built the way the twin builds a
        # batch's cells (width 64, depth 3)
        counts = spread(full, "doc_id").select(
            F.explode(F.expr(tokens_expr("text"))).alias("__t")
        ).groupBy("__t").agg(F.count(F.lit(1)).alias("__c"))
        bucket = (
            "pmod(cast(conv(substring(md5(concat(cast({j} as string), "
            "':', __t)), 1, 12), 16, 10) as bigint), 64)"
        )
        parts = [
            counts.select(
                F.lit(j).alias("__row"),
                F.expr(bucket.format(j=j)).alias("__bucket"), "__c",
            )
            for j in range(3)
        ]
        allc = parts[0]
        for part in parts[1:]:
            allc = allc.unionByName(part)
        return sorted(
            (r["__row"], r["__bucket"], r["s"])
            for r in allc.groupBy("__row", "__bucket")
            .agg(F.sum("__c").alias("s")).collect()
        )

    return dict(
        source="documents", idc="doc_id",
        prepare=lambda spark, full: None,
        start=lambda stream, td, ctx, ck, out: streaming_heavy_hitters(
            stream, state_path=f"{td}/state",
            reports_path=out, checkpoint=ck,
            width=64, depth=3,
        ),
        expect=expect,
        state=lambda spark, td: sorted(
            (r["__row"], r["__bucket"], r["__cell"])
            for r in _state_read(spark, f"{td}/state").collect()
        ),
        state_expect=state_expect,
        replay="double",
    )


def _spec_ann_ingest():
    from streamtasks_spark.llmdata.similarity import IvfPqIndex
    from streamtasks_spark.streaming.stateful import streaming_ann_ingest

    kw = dict(n_cells=8, n_probe=2, m_sub=8, n_codes=8)

    def _ref(spark, full, chunks, td):
        """Sequential one-shot ingests of the same id-monotone chunks
        — the reference the streamed index must equal bit-exactly."""
        import os

        ref_path = f"{td}/ref_index"
        if not os.path.exists(ref_path):
            ref = IvfPqIndex(ref_path, **kw)
            for c in chunks:
                ref.ingest(c)
        return IvfPqIndex(ref_path, **kw)

    def expect(spark, full, chunks, td, ctx):
        ref = _ref(spark, full, chunks, td)
        return sorted(
            (
                r["ingest_id"], r["n"], r["mean_win_cosine"],
                r["mean_adc_err"],
            )
            for r in _state_read(spark, ref.stats_path).collect()
        )

    def canon_out(spark, out):
        # reports re-emit the stats rows under batch_id directories;
        # drop the tag for the sequential-reference compare
        return sorted(
            (
                r["ingest_id"], r["n"], r["mean_win_cosine"],
                r["mean_adc_err"],
            )
            for r in spark.read.parquet(out).collect()
        )

    def state(spark, td):
        idx = IvfPqIndex(f"{td}/index", **kw)
        return sorted(
            (r["vec_id"], tuple(r["__codes"]), r["__cell"])
            for r in _state_read(spark, idx.cells_path).collect()
        )

    def state_expect(spark, full, td):
        # chunks are recomputed from full exactly as the test built
        # them (same predicates)
        chunks = [full.filter(p) for p in _chunk_preds("vec_id")]
        ref = _ref(spark, full, chunks, td)
        return sorted(
            (r["vec_id"], tuple(r["__codes"]), r["__cell"])
            for r in _state_read(spark, ref.cells_path).collect()
        )

    return dict(
        source="embeddings", idc="vec_id",
        prepare=lambda spark, full: None,
        start=lambda stream, td, ctx, ck, out: streaming_ann_ingest(
            stream, index_path=f"{td}/index",
            reports_path=out, checkpoint=ck, **kw,
        ),
        expect=expect,
        canon_out=canon_out,
        state=state,
        state_expect=state_expect,
        replay=None,
    )


SPECS = {
    "ann_ingest": _spec_ann_ingest,
    "cluster_prune": _spec_cluster_prune,
    "unigram_lm": _spec_unigram,
    "ngram_lm": _spec_ngram,
    "bm25_filter": _spec_bm25_filter,
    "bpe_count": _spec_bpe_count,
    "dsir_weights": _spec_dsir_weights,
    "importance_resample": _spec_importance_resample,
    "dedup_minhash": _spec_minhash,
    "bloom_dedup": _spec_bloom,
    "semantic_dedup": _spec_semantic,
    "approx_distinct": _spec_hll,
    "heavy_hitters": _spec_cms,
}



def _uncommit_last_batch(ck):
    """Delete the checkpoint's last batch commit (and its checksum):
    what a kill after the batch's own commits and before Spark's leaves
    behind, so the next incarnation replays that batch."""
    commits = os.path.join(ck, "commits")
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    for name in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))


@pytest.mark.parametrize("name", sorted(SPECS))
def test_foreachbatch_twin_restart_and_replay(name, spark, tmp_path):
    spec = SPECS[name]()
    td = str(tmp_path)
    src = f"{td}/src"
    os.makedirs(src)
    table = spec["source"]
    idc = spec["idc"]
    cols = ("vec_id", "embedding") if table == "embeddings" else (
        "doc_id", "text"
    )
    full = read_parquet(spark, f"{SF_DIR}/{table}.parquet").select(*cols)
    chunks = [full.filter(p) for p in _chunk_preds(idc)]
    assert all(c.count() > 0 for c in chunks)
    ctx = spec["prepare"](spark, full)

    def make_stream():
        return (
            spark.readStream.schema(full.schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )

    ck, out = f"{td}/ckpt", f"{td}/out"
    # run 1: first two chunks, clean stop
    _write_chunks(full, idc, src, (0, 1), 1_700_000_000)
    _drain(spec["start"](make_stream(), td, ctx, ck, out))
    n_first = spark.read.parquet(out).count()
    assert n_first > 0  # the stop point sits mid-stream

    # run 2: two more chunks arrive; NEW incarnation, same checkpoint
    _write_chunks(full, idc, src, (2, 3), 1_700_001_000)
    _drain(spec["start"](make_stream(), td, ctx, ck, out))

    canon_out = spec.get("canon_out", _rows)
    got = canon_out(spark, out)
    expect = spec["expect"](spark, full, chunks, td, ctx)
    if expect is not None:
        assert got == expect, (
            f"{name}: resumed output != one-shot batch "
            f"({len(got)} vs {len(expect)} rows; {n_first} pre-restart)"
        )
        assert n_first < len(got) or name == "bm25_filter", name
    if "state" in spec and "state_expect" in spec:
        assert spec["state"](spark, td) == spec["state_expect"](
            spark, full, td
        ), f"{name}: durable state != one-shot derivation"
    pre_out = canon_out(spark, out)
    before = spec["state"](spark, td) if "state" in spec else None

    # crash-after-commit leg: the last batch's output and state are
    # durable, its checkpoint commit is not; the same checkpoint
    # replays it, and nothing may land twice
    _uncommit_last_batch(ck)
    _drain(spec["start"](make_stream(), td, ctx, ck, out))
    assert canon_out(spark, out) == pre_out, (
        f"{name}: a replayed batch changed the output"
    )
    if before is not None:
        assert spec["state"](spark, td) == before, (
            f"{name}: a replayed batch moved the state"
        )

    # one query per output path: a fresh checkpoint on the same output
    # path fails before it writes anything
    with pytest.raises(Exception, match="belongs to streaming query"):
        _drain(spec["start"](
            make_stream(), td, ctx, f"{td}/ckpt_other", out
        ))
    assert canon_out(spark, out) == pre_out, name
    if before is not None:
        assert spec["state"](spark, td) == before, name

    # replay leg: re-run EVERY batch against the same durable state
    # under a fresh checkpoint and a fresh output path — a new query,
    # so its input is new input to the state algebra
    mode = spec["replay"]
    if mode is None:
        return
    _drain(spec["start"](
        make_stream(), td, ctx, f"{td}/ckpt2", f"{td}/out2"
    ))
    if mode in ("idempotent", "double") and before is not None:
        after = spec["state"](spark, td)
        if mode == "idempotent":
            assert after == before, f"{name}: replay moved merged state"
        else:
            assert sorted(
                (r0, b, c * 2) for (r0, b, c) in before
            ) == after, f"{name}: replayed sum-merge must exactly double"
    if mode == "stateless":
        # the new query's path holds exactly one copy; the old path is
        # untouched
        assert canon_out(spark, f"{td}/out2") == pre_out, (
            f"{name}: the replaying query's output is not one copy"
        )
        assert canon_out(spark, out) == pre_out, (
            f"{name}: the replaying query touched the old output"
        )


# ------------------------------------------------------- crash injection
#
# All durable state now commits through the versioned-manifest
# protocol (core/state.py): immutable segments + ONE atomic
# single-file pointer flip. This leg kills the flip itself — the one
# instant a directory-rename swap could not survive on an object store —
# mid-stream, and proves (a) the durable state still resolves to the
# pre-batch version intact, and (b) a restart from the same checkpoint
# replays the failed batch cleanly to the bit-exact one-shot result.

_CRASH_SPECS = (
    "ann_ingest", "bloom_dedup", "dedup_minhash", "semantic_dedup",
    "approx_distinct", "heavy_hitters",
)


@pytest.mark.parametrize("name", _CRASH_SPECS)
def test_foreachbatch_twin_crash_at_flip(name, spark, tmp_path):
    from streamtasks_spark.core import state as state_mod

    spec = SPECS[name]()
    td = str(tmp_path)
    src = f"{td}/src"
    os.makedirs(src)
    table = spec["source"]
    idc = spec["idc"]
    cols = ("vec_id", "embedding") if table == "embeddings" else (
        "doc_id", "text"
    )
    full = read_parquet(spark, f"{SF_DIR}/{table}.parquet").select(*cols)
    chunks = [full.filter(p) for p in _chunk_preds(idc)]
    ctx = spec["prepare"](spark, full)

    def make_stream():
        return (
            spark.readStream.schema(full.schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )

    ck = f"{td}/ckpt"
    # batches 0,1 land cleanly and freeze any first-ingest codebooks
    _write_chunks(full, idc, src, (0, 1), 1_700_000_000)
    _drain(spec["start"](make_stream(), td, ctx, ck, f"{td}/out"))
    s1 = spec["state"](spark, td)

    # batch 2 arrives; its FIRST manifest flip dies
    _write_chunks(full, idc, src, (2,), 1_700_001_000)
    orig = state_mod._flip
    calls = {"n": 0}

    def dying_flip(tmp, dst):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected crash at manifest flip")
        orig(tmp, dst)

    state_mod._flip = dying_flip
    try:
        q = spec["start"](make_stream(), td, ctx, ck, f"{td}/out")
        with pytest.raises(Exception, match="injected crash"):
            try:
                q.processAllAvailable()
            finally:
                q.stop()
    finally:
        state_mod._flip = orig
    assert calls["n"] >= 1, "flip was never reached"
    # (a) durable state is the PRE-BATCH version, intact
    assert spec["state"](spark, td) == s1, (
        f"{name}: crash at flip moved the durable state"
    )

    # (b) restart from the same checkpoint: the failed batch replays,
    # batch 3 follows; everything converges to the one-shot result
    _write_chunks(full, idc, src, (3,), 1_700_002_000)
    _drain(spec["start"](make_stream(), td, ctx, ck, f"{td}/out"))
    canon_out = spec.get("canon_out", _rows)
    got = canon_out(spark, f"{td}/out")
    expect = spec["expect"](spark, full, chunks, td, ctx)
    if expect is not None:
        assert got == expect, (
            f"{name}: post-crash resume diverged from one-shot "
            f"({len(got)} vs {len(expect)} rows)"
        )
    if "state_expect" in spec:
        assert spec["state"](spark, td) == spec["state_expect"](
            spark, full, td
        ), f"{name}: post-crash durable state != one-shot derivation"
