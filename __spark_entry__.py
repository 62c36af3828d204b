"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator from SURVEY.md §2;
``oracle_sql()`` gives the DuckDB-equivalent SQL for each. Temporal
operators (gate/switch/latch/…) are exercised on the ``events`` table with
``user_id`` as the stream key — the per-key formulation is exactly what
partitions state at 100 TB.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from streamtasks_spark.functions import calculator as calc
from streamtasks_spark.functions.text import (
    number_to_text,
    string_matcher,
    text_format,
)
from streamtasks_spark.functions.fntask import fn_task
from streamtasks_spark.functions.timefmt import time_to_text, timestamp_update
from streamtasks_spark.llmdata import (
    bpe,
    dedup,
    multimodal,
    pipeline,
    quality,
    similarity,
    textstats,
)
from streamtasks_spark.operators import chunks as chunkops
from streamtasks_spark.operators.joins import asof_join, last_value_join
from streamtasks_spark.operators.stateful import (
    gate,
    message_detector,
    sr_latch,
    string_concatenator,
    switch,
)
from streamtasks_spark.operators.timing import (
    interleave_by_duration,
    repeater,
    replay,
    replay_rebase,
    time_buffer,
)
from streamtasks_spark.relational import queries as rq
from streamtasks_spark.relational import scale
from streamtasks_spark.session import load_tables, read_parquet

def _r6z(col, alias: str):
    """Round to 6 dp and normalize -0.0 to +0.0 (IEEE: x + 0.0 == +0.0 when
    x is -0.0). DuckDB's round() preserves the sign of tiny negative sums;
    the driver hash is byte-level, so both sides normalize the zero sign."""
    return (F.round(col, 6) + F.lit(0.0)).alias(alias)


# calculator expressions shared by the Spark query and its generated oracle
CALC_EXPR = "sin(v) * 10 + (v % 7) ** 2 > 20 ? v * 2 : v / 2 + min(v, 5)"
CALC2_EXPR = "(a > b ? a - b : b - a) * (a & b) + max(a, b, 1) / 2"


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_parquet(spark, f"{sf_dir}/events.parquet")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: a named Pipeline (deployment analog, plans/pipeline.py)
    — gate the click/view stream by the latest purchase-derived control
    per user, evaluate a calculator expression on the passed rows,
    aggregate hourly."""
    from streamtasks_spark.plans import Pipeline

    sf_dir = "/root/testdata/sf0.001"
    p = Pipeline("flagship")
    p.source("events", lambda s: _events(s, sf_dir))
    p.stage(
        "data",
        lambda ev: ev.filter(F.col("event_type").isin("click", "view")),
        "events",
    )
    p.stage(
        "control",
        lambda ev: ev.filter(F.col("event_type") == "purchase").withColumn(
            "value", F.when(F.col("value") > 25, F.lit(1.0)).otherwise(F.lit(0.0))
        ),
        "events",
    )
    p.stage(
        "gated",
        lambda d, c: gate(d, c, keys=["user_id"], seq_col="event_id"),
        "data",
        "control",
    )
    p.stage(
        "calced",
        lambda g: g.withColumn(
            "calc", calc.compile_column(CALC_EXPR, {"v": F.col("value")})
        ),
        "gated",
    )
    p.stage(
        "hourly",
        lambda c: c.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("calc"), 4).alias("sum_calc"),
        ),
        "calced",
    )
    return p.materialize(spark, only=["hourly"])["hourly"]


# --------------------------------------------------------------- queries


def _q_calculator(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.round(calc.compile_column(CALC_EXPR, {"v": F.col("value")}), 6).alias(
            "calc_value"
        ),
    )


def _q_calculator_multivar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference calculator's real shape: N input streams as named
    variables, evaluated on each arrival with the latest value of each
    (calculator.py:227-239) — last_value_join + expression compile."""
    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value", "event_id"
    )
    joined = last_value_join(
        clicks,
        {"b": views},
        keys=["user_id"],
        ts="ts",
        control_first=True,
        seq_col="event_id",
    )
    return joined.filter(F.col("b").isNotNull()).select(
        "event_id",
        F.round(
            calc.compile_column(CALC2_EXPR, {"a": F.col("value"), "b": F.col("b")}), 6
        ).alias("calc_value"),
    )


@fn_task
def _fused_score(a: float, b: float) -> float:
    """User-defined operator via the fn_task surface (reference
    fntask.py:389-391): vectorized pandas arithmetic, exact in float64."""
    return a * 2 + b


def _q_fn_task(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value", "event_id"
    )
    out = _fused_score.as_stream_op(
        clicks, {"b": views}, keys=["user_id"], seq_col="event_id"
    )
    return out.select("event_id", F.round("value", 6).alias("value"))


@fn_task
def _running_total(x: float, state) -> float:
    """Stateful typed fn (reference fntask.py `state` injection): the
    dict persists across calls within a key's event-ordered stream."""
    state["acc"] = state.get("acc", 0.0) + x
    return state["acc"]


def _q_fn_task_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click")
    out = _running_total.as_stateful_stream_op(
        clicks, keys=["user_id"], seq_col="event_id"
    )
    return out.select(
        "event_id", "user_id", F.round("value", 6).alias("running_total")
    )


def _q_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    data = ev.filter(F.col("event_type").isin("click", "view"))
    control = ev.filter(F.col("event_type") == "purchase").withColumn(
        "value", F.when(F.col("value") > 25, F.lit(1.0)).otherwise(F.lit(0.0))
    )
    out = gate(data, control, keys=["user_id"], seq_col="event_id")
    return out.select("event_id", "user_id", "ts", "event_type", "value")


def _q_switch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    d0 = ev.filter(F.col("event_type") == "view")
    d1 = ev.filter(F.col("event_type") == "error")
    c0 = ev.filter(F.col("event_type") == "click")
    c1 = ev.filter(F.col("event_type") == "purchase")
    out = switch([(d0, c0), (d1, c1)], keys=["user_id"], seq_col="event_id")
    return out.select("event_id", "user_id", "ts", "event_type", "value")


def _q_pause_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pause propagation as control-as-data (reference
    net/__init__.py:317-321 latch-and-replay): click rows annotated with
    the latched paused state from the error stream; unlike gate, rows
    are NOT filtered — the pause column rides along downstream."""
    from streamtasks_spark.operators.stateful import pause_state

    ev = _events(spark, sf_dir)
    data = ev.filter(F.col("event_type") == "click")
    ctl = ev.filter(F.col("event_type") == "error").withColumn(
        "value", F.when(F.col("value") > 25, F.lit(1.0)).otherwise(F.lit(0.0))
    )
    out = pause_state(data, ctl, keys=["user_id"], seq_col="event_id")
    # boolean-as-float on the wire (the engine's control convention;
    # also keeps the driver's value-hash comparator on proven ground)
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.when(F.col("paused"), 1.0).otherwise(0.0).alias("paused"),
    )


def _q_sr_latch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    thr = F.when(F.col("value") > 25, F.lit(1.0)).otherwise(F.lit(0.0))
    sets = ev.filter(F.col("event_type") == "purchase").withColumn("value", thr)
    resets = ev.filter(F.col("event_type") == "error").withColumn("value", thr)
    # seq_col makes the fold a TOTAL order: without it, two same-type
    # control events at identical (user, ts) are order-undefined and
    # the engines resolve the tie differently (r05 fresh-seed fuzz
    # finding — seeds 523/823 flipped the latch between Spark/DuckDB)
    return sr_latch(
        sets, resets, keys=["user_id"], default=False, seq_col="event_id"
    )


def _q_message_detector(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click")
    return message_detector(clicks, keys=["user_id"], timeout_ms=1_800_000)


def _q_string_concatenator(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    data = ev.filter(F.col("event_type").isin("click", "view")).withColumn(
        "value", F.col("event_type")
    )
    control = ev.filter(F.col("event_type") == "purchase").withColumn(
        "value", F.when(F.col("value") > 25, F.lit(1.0)).otherwise(F.lit(0.0))
    )
    return string_concatenator(data, control, keys=["user_id"], seq_col="event_id")


def _q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("pvalue"),
        F.col("event_id").alias("pseq"),
    )
    out = asof_join(
        clicks,
        purchases,
        keys=["user_id"],
        right_cols=["pvalue"],
        tolerance_ms=7 * 24 * 3600 * 1000,
        seq_col="pseq",
    )
    return out.select("event_id", "user_id", "ts", "pvalue")


# llmdata: exact dedup is exercised on a dup-injected corpus (every 10th
# doc re-appended with extra whitespace under a shifted id) so the
# normalization + grouping mechanism provably collapses something.
_DUP_INJECT_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, '  ' || text || '   ' AS text
    FROM documents WHERE doc_id % 10 = 0
"""


def _docs_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    dups = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.lit("  "), F.col("text"), F.lit("   ")).alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(dups)


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_exact(_docs_with_dups(spark, sf_dir))


# paragraph dedup is exercised on a paragraphized corpus: every doc
# becomes (own text) + (per-source boilerplate) + (global footer on
# every 3rd doc) + (its own first paragraph again on every 11th doc) —
# cross-doc duplicate classes of two sizes plus a within-doc repeat, so
# keep-first provably fires on all three shapes.
_PARA_INJECT_SQL = """
    SELECT doc_id,
           text || chr(10) || chr(10)
                || 'follow ' || source || ' for more updates'
                || CASE WHEN doc_id % 3 = 0
                        THEN chr(10) || chr(10) || 'All rights reserved.'
                        ELSE '' END
                || CASE WHEN doc_id % 11 = 0
                        THEN chr(10) || chr(10) || text
                        ELSE '' END AS text
    FROM documents
"""


def _docs_with_paras(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    nl = "\n\n"
    text = F.concat(
        F.col("text"),
        F.lit(nl + "follow "),
        F.col("source"),
        F.lit(" for more updates"),
        F.when(
            F.col("doc_id") % 3 == 0, F.lit(nl + "All rights reserved.")
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0, F.concat(F.lit(nl), F.col("text"))
        ).otherwise(F.lit("")),
    )
    return docs.select("doc_id", text.alias("text"))


def _q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.paragraph_dedup(_docs_with_paras(spark, sf_dir))


def _q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned-tokenizer merge table: 10 rounds of Sennrich BPE over
    the corpus vocabulary — each row a fused symbol pair with its exact
    integer adjacent-pair count at merge time."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return bpe.bpe_train(docs, n_merges=10, min_freq=2)


def _q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-document subword counts under the same learned BPE —
    the sequence-length number packing/pricing actually needs (vs
    text_stats' regex estimate). All-integer output."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return bpe.bpe_token_count(docs, n_merges=10, min_freq=2)


def _q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer quality as data: per-source subwords-per-word under
    the learned BPE, in exact integer micro-units (floor division in
    both engines)."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return bpe.bpe_fertility(docs, n_merges=10, min_freq=2)


def _q_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained vocabulary artifact: per-word frequency, final
    symbol count, and the space-joined subword encoding."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return bpe.bpe_vocab(docs, n_merges=10, min_freq=2)


# the skew profile is exercised on an injected-hot-key stream: every 5th
# event re-keyed to one synthetic user, so the report provably surfaces
# a key holding ~17% of the rows (suggested_salt >> 1) against an
# otherwise uniform-ish user distribution.
_SKEW_INJECT_SQL = """
    SELECT user_id FROM events
    UNION ALL
    SELECT CAST(1000042 AS BIGINT) AS user_id
    FROM events WHERE event_id % 5 = 0
"""


def _q_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    hot = ev.filter(F.col("event_id") % 5 == 0).select(
        F.lit(1000042).cast("long").alias("user_id")
    )
    skewed = ev.select("user_id").unionByName(hot)
    return scale.key_skew_report(skewed, "user_id", top_k=5)


_ZORDER_DIMS = (("user_id", "int"), ("value", "double"))


def _q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    out = scale.zorder_key(
        ev.select("event_id", "user_id", "value"), _ZORDER_DIMS, bits=10
    )
    return out.select("event_id", "zkey")


def _q_hilbert_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    out = scale.hilbert_key(
        ev.select("event_id", "user_id", "value"), _ZORDER_DIMS, bits=10
    )
    return out.select("event_id", "hkey")


def _q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return dedup.dedup_minhash(docs, threshold=0.5)


def _q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return dedup.dedup_simhash(docs, max_hamming=3)


def _q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLASSES from near-dup pairs: minhash-LSH pairs →
    connected components (alternating large-star/small-star), so one
    canonical doc per class survives instead of both ends of every
    pair dropping."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    pairs = dedup.dedup_minhash(docs, threshold=0.5)
    return dedup.connected_components(pairs)


def _q_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured quality pin for the MinHash-LSH dedup tier (analog of
    ann_recall for the ANN tiers): exhaustive exact-Jaccard ground
    truth via a postings self-join vs the banded LSH candidates, as one
    deterministic summary row (n_exact / n_candidates / n_verified /
    recall / candidate_precision)."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return dedup.dedup_recall_probe(docs, threshold=0.5)


def _q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocab first pass: top-100 corpus tokens by occurrence
    count with document frequency, deterministic (count desc, token
    asc) order."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return textstats.vocab_topk(docs, k=100)


def _q_dedup_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus dedup summary: pairs → classes → canonical
    keep, reported per source (components broadcast onto one corpus
    scan)."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    comp = dedup.connected_components(dedup.dedup_minhash(docs, threshold=0.5))
    return dedup.dedup_retention(docs, comp)


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return dedup.ngram_jaccard_pairs(docs, block_col="lang", threshold=0.5)


def _q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram containment dedup (NEW r08): ordered pairs
    where ≥60% of doc_a's 3-gram shingles appear in doc_b — the
    quote/boilerplate-inclusion class Jaccard under-scores. PPJoin-style
    asymmetric prefix filter on the contained side only; exact
    verification (dedup.ngram_containment_pairs). Since r09 the call
    plumbs the max_df hot-shingle guard (the max_bucket/max_cell
    pattern): corpus-hot shingles are excluded from candidate
    generation, bounding per-key fan-out. 1000 is two orders of
    magnitude above the measured corpus max df at every test scale
    (≤ 14 at sf0.1), so the guard is inert here — the oracle stays the
    exact all-pairs answer — while a degenerate all-stopword document
    at 100 TB can no longer fan out against a full posting list."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return dedup.ngram_containment_pairs(
        docs, block_col="lang", threshold=0.6, max_df=1000
    )


def _q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (NEW r08, Xie et al. 2023):
    hashed-unigram target-vs-raw likelihood ratio per document, target
    domain = English rows; arithmetic-mean likelihood with integer
    mass sums for cross-engine bit-exactness (quality.dsir_weights)."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return quality.dsir_weights(
        docs, target_pred="lang = 'en'", n_buckets=256
    )


def _q_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection step (NEW r09): deterministic hash-coin Bernoulli
    thinning with p_keep = min(1, 0.5·weight) over the dsir_weights
    output — the Poisson-sampling variant of the paper's Gumbel top-k,
    chosen because it needs no global sort and its kept SET is
    bit-reproducible cross-engine (quality.importance_resample)."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return quality.importance_resample(
        docs, target_pred="lang = 'en'", n_buckets=256, rate=0.5
    )


def _q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split near-dup leakage audit (NEW r09): exact n-gram
    Jaccard pairs (≥0.5, lang-blocked) whose documents land in
    different hash splits — the within-corpus train/heldout
    contamination decontaminate can't see. A 50/50 split (the
    leakage-audit stress configuration; the 90/5/5 default leaves this
    corpus's handful of near-dup pairs inside train) and the max_df
    hot-shingle guard plumbed at its inert test-scale value
    (pipeline.split_leakage)."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return pipeline.split_leakage(
        docs,
        threshold=0.5,
        splits=(("train", 0.5), ("heldout", 0.5)),
        max_df=1000,
    )


def _q_dedup_against(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus dedup (NEW r09): the 'new crawl' slice
    (doc_id % 3 == 0) deduped AGAINST the remaining corpus as the
    frozen reference — one row per new doc with ≥1 exact-jaccard
    near-dup in the reference, its match count, and a deterministic
    champion. The incremental-ingest shape: the reference is never
    self-joined (dedup.dedup_against); max_df guard at its inert
    test-scale value."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return dedup.dedup_against(
        docs.filter(F.col("doc_id") % 3 == 0),
        docs.filter(F.col("doc_id") % 3 != 0),
        threshold=0.5,
        max_df=1000,
    )


def _q_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-then-prune curation view (NEW r09): spherical k-means
    over the embeddings, one row per cluster with membership,
    representative, and tightness (mean/min cosine to centroid) —
    what a D4-style pipeline reads to set per-cluster keep rates
    (similarity.cluster_profile)."""
    vecs = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    # expect_dim: the oracle is dim-64-coupled; the guard rides the
    # TRAINING pass only, so the certified plan hash is unchanged
    # (r11 dim-axis finding — this query silently diverged at dim 512)
    return similarity.cluster_profile(
        vecs, n_cells=8, n_iters=3, expect_dim=64
    )


def _q_cluster_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4-style cluster-then-prune selection (NEW r10): the op that
    consumes cluster_profile's view — per-cluster keep rates from
    tightness (tight/prototypical clusters prune hardest), members
    kept most-diverse-first by the deterministic integer-unit
    within-cluster rank (similarity.cluster_prune)."""
    vecs = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    return similarity.cluster_prune(
        vecs, n_cells=8, n_iters=3, rate_floor=0.3, rate_ceil=0.9
    )


def _q_cluster_prune_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen-policy pruning certified end-to-end (NEW r10): the rank
    form's per-cluster cutoffs re-derived IN-PLAN (a ≤ n_cells rollup,
    broadcast back — never literal-injected) and every vector
    re-judged against them; keep = the rank keep-set closed under
    rounded-cosine boundary ties — the exact semantics the streaming
    twin applies (similarity.cluster_prune_policy)."""
    vecs = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    return similarity.cluster_prune_policy(
        vecs, n_cells=8, n_iters=3, rate_floor=0.3, rate_ceil=0.9
    )


def _q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space eval decontamination (NEW r09): corpus vectors
    (vec_id % 10 != 3) exhaustively scored against the broadcast eval
    slice (vec_id % 10 == 3); one row per corpus vector with any
    cosine >= 0.35, its hit count, and the deterministic champion
    (similarity.semantic_decontaminate). The threshold sits at this
    synthetic corpus's cross-split similarity tail so the report is
    non-trivially populated at every SF (42/47/650 rows)."""
    vecs = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    return similarity.semantic_decontaminate(
        vecs.filter(F.col("vec_id") % 10 != 3),
        vecs.filter(F.col("vec_id") % 10 == 3),
        threshold=0.35,
    )


def _q_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership pre-filter (NEW r09): the 'new crawl'
    slice (doc_id % 3 == 0, the dedup_against split) probed against
    the remaining corpus's bloom bit-set — per new doc, how many of
    its 5 md5-derived bits are set and whether ALL are (maybe_dup:
    no false negatives, deterministic false positives). The cheap
    first gate production ingest stacks in front of dedup_against's
    exact verification (dedup.bloom_dedup)."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return dedup.bloom_dedup(
        docs.filter(F.col("doc_id") % 3 == 0),
        docs.filter(F.col("doc_id") % 3 != 0),
        m_bits=65536,
        n_hashes=5,
    )


def _q_ngram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM quality score (NEW r09): unigram_lm's integer-mass
    scoring over word-PAIR units — the contextual-fluency rung of the
    CCNet-style ladder; word-salad with plausible unigrams scores near
    zero because its adjacent pairs never recur (quality.ngram_lm)."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return quality.ngram_lm(docs, n=2, vocab_size=256)


def _q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-array-style substring dedup, distributed: per-doc fraction
    of 16-char grams shared with any other document (Lee et al. ACL'22
    reformulated as a gram-frequency window over xxhash64 keys)."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return dedup.substring_dup_spans(docs, k=16, threshold=0.5)


def _q_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length planning histogram: docs bucketed by
    floor(log2(BPE-ish token count)) via integer bit-length — one
    narrow scan + one bounded-key shuffle."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return textstats.token_histogram(docs)


def _q_embedding_dup_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate classes in EMBEDDING space: hyperplane-LSH cosine
    near-dup pairs → alternating-star connected components — the same
    pairs→classes path as dedup_components, over the vector modality."""
    vecs = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    pairs = similarity.embedding_near_dup(vecs)
    return dedup.connected_components(pairs, a_col="vec_a", b_col="vec_b")


def _q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-eval-item contamination audit (NEW r08): for each eval doc
    (doc_id % 25 == 7, the decontaminate eval split), how many of its
    8-grams the REST of the corpus contains and how many corpus docs
    share them (pipeline.contamination_report — the GPT-3 appendix-C
    dirty-eval analysis as a query; decontaminate is the corpus-side
    removal list this report justifies)."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return pipeline.contamination_report(
        docs.filter(F.col("doc_id") % 25 != 7),
        docs.filter(F.col("doc_id") % 25 == 7),
    )


def _q_corpus_prepare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus preparation: quality rules → minhash-LSH
    canonical keep → eval-set decontamination → hash split assignment,
    summarized per (source, split) with drop reasons. One corpus-wide
    scan + two broadcast drop lists; the composed DuckDB oracle chains
    all four stage oracles."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    ev = docs.filter(F.col("doc_id") % 25 == 7)
    return pipeline.corpus_prepare(docs, ev)


def _q_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style decile bucketing of the composed quality score:
    exact percentile boundaries through one scalar aggregate, broadcast
    binning — deliberately no global ntile sort."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return textstats.quality_buckets(docs, n_buckets=10)


# synthetic chunk stream: each event becomes a 16-sample array derived
# from its value by pure double arithmetic (fmod is bit-identical across
# engines; no transcendentals, so the DuckDB oracle reproduces it exactly)
_SAMPLES_EXPR = "transform(sequence(1, 16), i -> (value * i) % 7 - 3)"
_SAMPLES_DUCK = "list_transform(range(1, 17), i -> (value * i) % 7 - 3)"


def _chunk_stream(ev: DataFrame, event_type: str) -> DataFrame:
    return ev.filter(F.col("event_type") == event_type).select(
        "event_id", "user_id", "ts", F.expr(_SAMPLES_EXPR).alias("samples")
    )


def _q_audio_chunker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-chunk 16-sample rows into 24-sample chunks: exercises the
    cross-row remainder carry (24 ∤ 16) and the drop-incomplete-tail
    rule (reference media/util.py:131-148)."""
    ev = _events(spark, sf_dir)
    out = chunkops.audio_chunker(
        _chunk_stream(ev, "click"),
        keys=["user_id"],
        seq_col="event_id",
        chunk_size=24,
    )
    return out.select(
        "user_id",
        "chunk_id",
        "ts",
        F.size("samples").alias("n"),
        _r6z(F.expr("aggregate(samples, 0D, (acc, x) -> acc + x)"), "sum_samples"),
        _r6z(F.element_at("samples", 1), "first_sample"),
        _r6z(F.element_at("samples", 24), "last_sample"),
    )


def _q_padded_chunker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping ASR-style windows: 24-sample step, 4-sample padding
    both sides (width 32), complete windows only (media/util.py:150-171)."""
    ev = _events(spark, sf_dir)
    out = chunkops.padded_audio_chunker(
        _chunk_stream(ev, "click"),
        keys=["user_id"],
        seq_col="event_id",
        chunk_size=24,
        padding=4,
    )
    return out.select(
        "user_id",
        "chunk_id",
        "ts",
        F.size("samples").alias("n"),
        _r6z(F.expr("aggregate(samples, 0D, (acc, x) -> acc + x)"), "sum_samples"),
        _r6z(F.element_at("samples", 1), "first_sample"),
        _r6z(F.element_at("samples", 32), "last_sample"),
    )


def _q_audio_smoother(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crossfade joins between consecutive chunks, 4-sample overlap
    (media/util.py:173-186)."""
    ev = _events(spark, sf_dir)
    out = chunkops.audio_smoother(
        _chunk_stream(ev, "click"),
        keys=["user_id"],
        seq_col="event_id",
        overlap=4,
    )
    return out.select(
        "event_id",
        "user_id",
        _r6z(F.expr("aggregate(smoothed, 0D, (acc, x) -> acc + x)"), "sum_smoothed"),
        _r6z(F.element_at("smoothed", 1), "s_head"),
        _r6z(F.element_at("smoothed", 16), "s_tail"),
    )


def _q_audio_volume_meter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    out = chunkops.audio_volume_meter(
        _chunk_stream(ev, "click"),
        keys=["user_id"],
        sample_period_ms=1000,
        window_ms=3_600_000,
    )
    return out.select("user_id", "ts", "volume", "n_samples")


def _q_audio_volume_scaler(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    control = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", (F.col("value") / 50).alias("value"), "event_id"
    )
    out = chunkops.audio_volume_scaler(
        _chunk_stream(ev, "click"),
        control,
        keys=["user_id"],
        clip=3.0,
        seq_col="event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        _r6z(F.expr("aggregate(scaled, 0D, (acc, x) -> acc + x)"), "sum_scaled"),
        _r6z(F.array_min("scaled"), "min_scaled"),
        _r6z(F.array_max("scaled"), "max_scaled"),
    )


def _q_audio_mixer(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    out = chunkops.audio_mixer(
        _chunk_stream(ev, "click").drop("event_id"),
        _chunk_stream(ev, "view").drop("event_id"),
        keys=["user_id"],
        chunk_size=16,
    )
    return out.select(
        "user_id",
        "ts",
        F.round(F.expr("aggregate(mixed, 0D, (acc, x) -> acc + x)"), 6).alias(
            "sum_mixed"
        ),
        "n_present",
    )


def _q_media_switch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).withColumn(
        "is_keyframe", F.col("event_id") % 5 == 0
    )
    d0 = ev.filter(F.col("event_type") == "view")
    d1 = ev.filter(F.col("event_type") == "error")
    c0 = ev.filter(F.col("event_type") == "click")
    c1 = ev.filter(F.col("event_type") == "purchase")
    out = chunkops.media_switch(
        [(d0, c0), (d1, c1)], keys=["user_id"], seq_col="event_id"
    )
    return out.select("event_id", "user_id", "ts", "event_type", "value")


def _q_audio_resampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    out = chunkops.audio_resampler(
        _chunk_stream(ev, "click"), src_rate=32_000, dst_rate=48_000,
        chunk_size=16,
    )
    return out.select(
        "event_id",
        "user_id",
        F.size("resampled").alias("n_out"),
        _r6z(F.expr("aggregate(resampled, 0D, (acc, x) -> acc + x)"), "sum_resampled"),
        _r6z(F.element_at("resampled", 1), "first_sample"),
        _r6z(F.element_at("resampled", 24), "last_sample"),
    )


def _q_video_activity_meter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    frames = _chunk_stream(ev, "view")
    out = chunkops.video_activity_meter(
        frames, keys=["user_id"], seq_col="event_id"
    )
    return out.select(
        "event_id", "user_id", F.round("activity", 6).alias("activity")
    )


def _q_video_mixer(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    out = chunkops.video_mixer(
        _chunk_stream(ev, "click"),
        _chunk_stream(ev, "view"),
        keys=["user_id"],
        alpha=0.75,
        chunk_size=16,
        seq_col="event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        _r6z(F.expr("aggregate(blended, 0D, (acc, x) -> acc + x)"), "sum_blended"),
    )


def _q_video_reformatter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    out = chunkops.video_reformatter(
        _chunk_stream(ev, "click"),
        keys=["user_id"],
        seq_col="event_id",
        src_w=4, src_h=4, dst_w=2, dst_h=2,
        src_fps=2, dst_fps=3,
    )
    return out.select(
        "event_id",
        "user_id",
        "copy_idx",
        F.size("resized").alias("n_pixels"),
        F.round(F.expr("aggregate(resized, 0D, (acc, v) -> acc + v)"), 6).alias(
            "sum_resized"
        ),
    )


def _q_video_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamtasks_spark.media.render import video_layout

    ev = _events(spark, sf_dir)
    # single-row-group testdata file = one scan split; rebalance before the
    # per-pixel transform so the CPU-heavy narrow map parallelizes (same
    # rationale as llmdata's spread())
    out = video_layout(
        dedup.spread(_chunk_stream(ev, "click")),
        frame_w=4, frame_h=4, canvas_w=8, canvas_h=6, x=2, y=1,
    )
    return out.select(
        "event_id",
        "user_id",
        F.size("canvas").alias("n_pixels"),
        F.round(F.expr("aggregate(canvas, 0D, (acc, v) -> acc + v)"), 6).alias(
            "sum_canvas"
        ),
        F.round(F.element_at("canvas", 2 * 8 + 3 + 1), 6).alias("probe_inside"),
        F.round(F.element_at("canvas", 1), 6).alias("probe_corner"),
    )


def _q_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    blobs = docs.select("doc_id", F.unhex(F.md5("text")).alias("data"))
    return multimodal.decode_image_stub(blobs, id_cols=("doc_id",))


def _q_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    blobs = docs.select("doc_id", F.unhex(F.md5("text")).alias("data"))
    return multimodal.resize_image_stub(blobs, id_cols=("doc_id",))


def _q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    blobs = docs.select("doc_id", F.unhex(F.md5("text")).alias("data"))
    return multimodal.extract_features_stub(blobs, id_cols=("doc_id",))


def _q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click")
    out = multimodal.frame_sample(
        clicks, keys=["user_id"], every=5, seq_col="event_id"
    )
    return out.select("event_id", "user_id", "ts")


def _q_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoder→decoder round trip (reference audioencoder.py:29-72 /
    audiodecoder.py:28-57 with the invertible RawPcmCodec kernel): the
    oracle checks the decoded samples equal the source chunk and the
    packet byte length matches the framing layout."""
    from streamtasks_spark.media.codec import audio_decoder, audio_encoder

    ev = _events(spark, sf_dir)
    packets = audio_encoder(
        _chunk_stream(ev, "click"), keys=["user_id"], seq_col="event_id"
    ).withColumn("n_bytes", F.length("data"))
    decoded = audio_decoder(
        packets,
        keys=["user_id"],
        seq_col="event_id",
        keep_cols=("n_bytes",),
    )
    return decoded.select(
        "event_id",
        "user_id",
        "n_bytes",
        F.size("samples").alias("n_samples"),
        F.round(F.expr("aggregate(samples, 0D, (acc, x) -> acc + x)"), 6).alias(
            "sum_samples"
        ),
        F.round(F.element_at("samples", 1), 6).alias("first_sample"),
        F.round(F.element_at("samples", 16), 6).alias("last_sample"),
    )


def _q_text_renderer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamtasks_spark.media.render import text_renderer

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    out = text_renderer(
        docs, id_cols=("doc_id",), text_col="text", width=8, height=2
    )
    return out.select(
        "doc_id",
        F.size("frame").alias("n_pixels"),
        F.round(F.expr("aggregate(frame, 0D, (acc, v) -> acc + v)"), 6).alias(
            "sum_frame"
        ),
        F.round(F.element_at("frame", 1), 6).alias("p_first"),
        F.round(F.element_at("frame", 16), 6).alias("p_last"),
    )


_IMG_FRAME = [i / 7 for i in range(12)]


def _q_image_renderer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamtasks_spark.media.render import image_renderer

    ev = _events(spark, sf_dir)
    ticks = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    out = image_renderer(ticks, _IMG_FRAME)
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.size("samples").alias("n_pixels"),
        F.round(F.expr("aggregate(samples, 0D, (acc, v) -> acc + v)"), 6).alias(
            "sum_frame"
        ),
        F.round(F.element_at("samples", 5), 6).alias("probe"),
    )


def _q_asr_transcribe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamtasks_spark.media.inference import asr_stub

    ev = _events(spark, sf_dir)
    out = asr_stub(
        _chunk_stream(ev, "view"), id_cols=("event_id", "user_id")
    )
    return out.select("event_id", "user_id", "text")


def _q_tts_synthesize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamtasks_spark.media.inference import tts_stub

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    out = tts_stub(docs, id_cols=("doc_id",), text_col="text", n_samples=16)
    return out.select(
        "doc_id",
        F.round(F.expr("aggregate(samples, 0D, (acc, v) -> acc + v)"), 6).alias(
            "sum_samples"
        ),
        F.round(F.element_at("samples", 1), 6).alias("s_first"),
        F.round(F.element_at("samples", 16), 6).alias("s_last"),
    )


def _q_speech_enhance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamtasks_spark.media.inference import speech_enhance_stub

    ev = _events(spark, sf_dir)
    out = speech_enhance_stub(
        _chunk_stream(ev, "view"), id_cols=("event_id", "user_id")
    )
    return out.select(
        "event_id",
        "user_id",
        _r6z(F.expr("aggregate(enhanced, 0D, (acc, v) -> acc + v)"), "sum_enhanced"),
        _r6z(F.element_at("enhanced", 1), "e_head"),
        _r6z(F.element_at("enhanced", 8), "e_mid"),
        _r6z(F.element_at("enhanced", 16), "e_tail"),
    )


def _q_stretch_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AudioSequencer drift re-sync (reference media/util.py:188-269,
    wired into the mixer at audiomixer.py:99-120): per-track sample
    clock converges on event time by stretching each chunk within the
    ±10% clamp. Synthetic per-track timeline (1 ms nominal spacing,
    deterministic ±560 us jitter derived from event_id) exercises the
    clamp in both directions; oracle is a recursive-CTE DuckDB twin of
    the same integer recurrence."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            "event_id", "user_id", "ts",
            F.expr(_SAMPLES_EXPR).alias("samples"),
        )
        .withColumn("__i", F.row_number().over(w) - 1)
        .withColumn(
            "ts2",
            F.timestamp_micros(
                F.col("__i") * 1000
                + ((F.col("event_id") * 13) % 29 - 14) * 40
            ),
        )
        .drop("__i", "ts")
    )
    out = chunkops.stretch_align(
        clicks, keys=["user_id"], ts="ts2", seq_col="event_id",
        rate=16_000, chunk_size=16, max_stretch_ratio=1.1,
    )
    return out.select(
        "user_id",
        "event_id",
        "m",
        F.size("aligned").alias("n_out"),
        _r6z(F.expr("aggregate(aligned, 0D, (acc, x) -> acc + x)"), "sum_aligned"),
        _r6z(F.element_at("aligned", 1), "first_s"),
    )


def _q_llm_chat(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamtasks_spark.media.inference import llm_chat_stub

    ev = _events(spark, sf_dir)
    msgs = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        "event_id",
        F.concat(F.lit("m"), F.col("event_id").cast("string")).alias("value"),
    )
    out = llm_chat_stub(
        msgs, conversation_col="user_id", seq_col="event_id", history_limit=8
    )
    return out.select("user_id", "event_id", "reply")


# deterministic PII seeding so the scrub genuinely fires on synthetic
# text: one email/IPv4/phone derived from doc_id, byte-identical in both
# engines (CAST of a bigint to STRING/VARCHAR prints the same digits)
_PII_SEED = (
    # coalesce: Spark's concat propagates NULL, DuckDB's skips it — a
    # NULL text would otherwise produce divergent rows
    "concat(coalesce(text, ''), ' contact user', CAST(doc_id AS {s}), "
    "'@example.com via 10.0.', CAST(doc_id % 256 AS {s}), "
    "'.7 call +15550', CAST(1000 + doc_id % 9000 AS {s}))"
)


def _oracle_pii_scrub() -> str:
    from streamtasks_spark.llmdata.redact import oracle_pii_scrub_sql

    seeded = _PII_SEED.format(s="VARCHAR")
    return oracle_pii_scrub_sql(
        source_sql=f"SELECT doc_id, {seeded} AS text FROM documents"
    )


def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass (llmdata/redact.py): seed each doc with a
    deterministic email + IPv4 + phone, scrub, report match counts."""
    from streamtasks_spark.llmdata.redact import pii_scrub

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    seeded = docs.select(
        "doc_id", F.expr(_PII_SEED.format(s="STRING")).alias("text")
    )
    return pii_scrub(seeded)


def _q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return textstats.text_stats(docs)


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return textstats.lang_id(docs)


def _q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return textstats.doc_fingerprint(docs)


def _q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return quality.doc_repetition(docs)


def _q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return quality.quality_filter(docs)


def _q_doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (RAG / context-window prep):
    32-token chunks every 24 tokens, last chunk short, zero-token and
    NULL docs emit nothing."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return pipeline.doc_chunk(docs, window=32, stride=24)


def _q_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram LM quality score (CCNet-style filter,
    log-free for cross-engine bit-exactness — see quality.unigram_lm)."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return quality.unigram_lm(docs, vocab_size=256)


def _q_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return quality.source_stats(docs)


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    ev = docs.filter(F.col("doc_id") % 25 == 7)
    return pipeline.decontaminate(docs, ev)


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return pipeline.stratified_sample(docs, strata=("source",), k=5)


def _q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return pipeline.split_assign(docs, carry=("source",))


# mixture spec shared by the Spark query and its oracle
_MIX_WEIGHTS = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
_MIX_BUDGET = 40


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return pipeline.pack_sequences(docs, seq_len=256)


def _q_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return pipeline.mix_sample(docs, _MIX_WEIGHTS, budget=_MIX_BUDGET)


def _q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    # cosine_topk itself is dim-agnostic; the guard declares this
    # query's coupling to its dim-64 oracle (whose SQL dot truncates
    # longer vectors to the first 64 coords — r07 --dim fuzz finding)
    vecs = similarity.guard_dim(vecs, "embedding", 64, "ann_topk")
    return similarity.cosine_topk(
        vecs, vecs.filter(F.col("vec_id") < 10), k=5
    )


def _q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    return similarity.lsh_topk(
        vecs, vecs.filter(F.col("vec_id") < 10), n_planes=4, k=5
    )


def _q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    # ivf_topk is data-derived/dim-agnostic; the guard declares the
    # dim-64 oracle coupling (silent FAIL at dim 512 without it)
    vecs = similarity.guard_dim(vecs, "embedding", 64, "ann_ivf_topk")
    return similarity.ivf_topk(
        vecs, vecs.filter(F.col("vec_id") < 10), n_cells=8, n_probe=2, k=5
    )


def _q_ann_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 scalar-quantized ANN top-k (NEW r08): candidates selected
    by the exact-integer quantized cosine (4x-compressed codes), top
    rerank*k exact-reranked — the quantized-storage rung of the ANN
    tier (similarity.sq_topk). guard_dim declares the dim-64 oracle
    coupling like the other data-derived ANN queries."""
    vecs = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    vecs = similarity.guard_dim(vecs, "embedding", 64, "ann_sq_topk")
    return similarity.sq_topk(
        vecs, vecs.filter(F.col("vec_id") < 10), k=5, rerank=4
    )


def _q_ann_ivf_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF x int8 scalar quantization (NEW r08): coarse cells prune
    WHICH vectors are touched, int8 codes bound what touching costs,
    exact re-rank on the rerank*k survivors (similarity.ivf_sq_topk —
    the production IVF_SQ8 shape). guard_dim declares the dim-64
    oracle coupling."""
    vecs = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    vecs = similarity.guard_dim(vecs, "embedding", 64, "ann_ivf_sq_topk")
    return similarity.ivf_sq_topk(
        vecs, vecs.filter(F.col("vec_id") < 10),
        n_cells=8, n_probe=2, k=5, rerank=4,
    )


def _q_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k with a TRAINED codebook: 3 deterministic spherical
    k-means Lloyd iterations (integer micro-unit sums make the centroid
    means bit-identical regardless of aggregation order — and identical
    in DuckDB, so the whole iterative training loop is oracle-checked),
    then the standard probed-cell exact rerank."""
    vecs = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    # expect_dim couples the training run to the dim-64 oracle below:
    # on a corpus of any other dimensionality this raises instead of
    # letting the engines silently diverge (r07 --dim fuzz finding)
    cents = similarity.train_centroids(
        vecs, n_cells=8, n_iters=3, expect_dim=64
    )
    return similarity.ivf_topk(
        vecs, vecs.filter(F.col("vec_id") < 10),
        n_cells=8, n_probe=2, k=5, centroids=cents,
    )


def _q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN top-k (NEW r09): per-subspace L2 k-means
    codebooks over the normalized vectors, candidates ranked by the
    ADC sum of fixed-grid INT64 table lookups (32x-compressed codes;
    the open sq_topk design note closed — the integer grid makes the
    summed-lookup order bit-reproducible cross-engine), exact re-rank
    on the rerank*k survivors (similarity.pq_topk). guard_dim declares
    the dim-64 oracle coupling like the other ANN queries."""
    vecs = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    vecs = similarity.guard_dim(vecs, "embedding", 64, "ann_pq_topk")
    return similarity.pq_topk(
        vecs, vecs.filter(F.col("vec_id") < 10),
        m_sub=8, n_codes=16, n_iters=2, k=5, rerank=8,
    )


def _q_ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF x product quantization (NEW r09): the full production
    IVF_PQ composite — coarse cells prune WHICH vectors are touched,
    m_sub-byte PQ codes and integer ADC lookups bound what touching
    one costs, exact re-rank on the rerank*k survivors
    (similarity.ivf_pq_topk; non-residual variant, codebooks shared
    across cells so the oracle re-derives training with one CTE
    chain)."""
    vecs = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    vecs = similarity.guard_dim(vecs, "embedding", 64, "ann_ivf_pq_topk")
    return similarity.ivf_pq_topk(
        vecs, vecs.filter(F.col("vec_id") < 10),
        n_cells=8, n_probe=2, m_sub=8, n_codes=16, n_iters=2,
        k=5, rerank=8,
    )


def _q_ann_ivf_pq_res_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ (NEW r11): the full Faiss IVFx,PQy formulation
    — codes quantize the residual against the assigned unit centroid,
    candidates rank by exact cell-dot + integer ADC of the residual,
    exact re-rank on the survivors (similarity.ivf_pq_res_topk). The
    measured recall gap to the non-residual ann_ivf_pq_topk is
    ann_recall's seventh rung."""
    vecs = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    vecs = similarity.guard_dim(
        vecs, "embedding", 64, "ann_ivf_pq_res_topk"
    )
    return similarity.ivf_pq_res_topk(
        vecs, vecs.filter(F.col("vec_id") < 10),
        n_cells=8, n_probe=2, m_sub=8, n_codes=16, n_iters=2,
        k=5, rerank=8,
    )


def _q_ann_index_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codebook-drift probe (NEW r11): both codebooks (coarse k-means
    + per-subspace PQ) train on the FIRST id-half of the corpus and
    freeze; every half's assignment quality against the frozen books
    comes back as data — n, floored-integer mean winning cosine,
    exact-integer self-ADC error, and the deltas vs the training half
    (similarity.ann_drift_probe; the certified form of the stats rows
    IvfIndex/IvfPqIndex append per ingest)."""
    vecs = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    vecs = similarity.guard_dim(vecs, "embedding", 64, "ann_index_drift")
    return similarity.ann_drift_probe(
        vecs, dim=64, n_cells=8, n_iters=2, m_sub=8, n_codes=8,
        pq_iters=2, split_id=250,
    )


def _q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@5 of all SEVEN approximate tiers (lsh, ivf, sq,
    ivf_sq — r08; pq, ivf_pq — r09; ivf_pq_res — r11) vs the exact
    baseline — the approximate tiers' quality as driver-verified
    numbers. All geometry pinned explicitly to match the oracle rather
    than relying on shared defaults."""
    vecs = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    return similarity.recall_probe(
        vecs, vecs.filter(F.col("vec_id") < 10),
        n_planes=4, n_cells=8, n_probe=2, k=5, rerank=4,
        pq_m_sub=8, pq_codes=16, pq_iters=2, pq_rerank=8,
    )


def _q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    return similarity.embedding_near_dup(vecs, n_planes=4, threshold=0.4)


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: deterministic k-means clustering
    (the ann_ivf_trained codebook machinery), then lowest-id-wins
    within-cluster cosine domination. One keep/drop row per vector."""
    vecs = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    # max_cell: the hot-cell skew guard (r07 verdict task 6), sized
    # well above any test-scale cell population (sf0.1 has ~6k vectors
    # TOTAL) so the capped plan is value-identical to the exact
    # SemDeDup semantics the oracle computes — the corpus_prepare
    # dedup_max_bucket precedent.
    return similarity.semantic_dedup(
        vecs, dim=64, n_cells=8, n_iters=2, threshold=0.35,
        max_cell=100_000,
    )


def _q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 keywords by tf-idf (raw-ratio idf variant for
    bit-exact cross-engine scores; see textstats.tfidf_topk)."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return textstats.tfidf_topk(docs, k=5)


# shared by _q_bm25_topk and its oracle entry — one definition so the
# engine and oracle can never disagree on the query bag
_BM25_TERMS = ("spark", "hash", "window", "merge")

# shared by _q_bm25_search and its oracle entry — a multi-query
# workload of three bags with different lengths (so per-query length
# normalization and rank windows are exercised independently)
_BM25_BAGS = {
    0: ("spark", "hash"),
    1: ("window", "merge", "sort"),
    2: ("table", "scan", "value", "row"),
}


def _q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct 3-gram-type cardinality with exact
    verification (NEW r09): 256 registers over the corpus's word
    3-gram stream (16k-27k types across the SFs — the regime where
    the raw estimator's 1.04/√m ≈ 6.5% standard error shows
    honestly), the measured relative error a certified column
    (textstats.approx_distinct_hll)."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return textstats.approx_distinct_hll(docs, n=3, p=8)


def _q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-sketch heavy hitters with exact verification (NEW
    r09): 4×256-cell sketch over the corpus token stream, tokens whose
    min-counter estimate reaches 0.5% of the token total, each with
    its exact count and visible collision mass
    (textstats.heavy_hitters_cms)."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return textstats.heavy_hitters_cms(
        docs, width=256, depth=4, phi=0.005
    )


def _q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-query BM25 retrieval (NEW r09): three query bags scored
    as a query TABLE — the corpus token stream pruned by a broadcast
    semi-join against the distinct query-term set before the one
    (doc, term) shuffle; top-10 per query (textstats.bm25_search)."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    qdf = spark.createDataFrame(
        [(k, list(v)) for k, v in _BM25_BAGS.items()],
        "query_id long, terms array<string>",
    )
    return textstats.bm25_search(docs, qdf, k=10)


def _q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 documents by BM25 relevance to a 4-term query bag (NEW
    r09) — the per-QUERY retrieval direction complementing tfidf_topk's
    per-doc keywords. Raw-ratio idf (no transcendental log) and
    floored-integer scaled per-doc sums for cross-engine bit-exactness;
    corpus stats (df, N, Σdl) derived from the corpus itself
    (textstats.bm25_topk)."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return textstats.bm25_topk(docs, terms=_BM25_TERMS, k=15)


def _q_hashed_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashed (signed hashing-trick) text embeddings,
    summarized to scalar integer signatures for the driver's byte-hash
    compare (nnz / L1 / max-abs / argmin-bucket are each sensitive to
    any bucket or sign error; no driver-certified query emits raw array
    columns, so the full array-level equality is pinned in
    tests/test_llmdata.py instead)."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    emb = textstats.hashed_tf_embed(docs, dim=64)
    return emb.select(
        "doc_id",
        F.expr(
            "cast(size(filter(embedding, x -> x <> 0)) as bigint)"
        ).alias("nnz"),
        F.expr(
            "aggregate(embedding, 0L, (a, x) -> a + abs(x))"
        ).alias("l1"),
        F.expr(
            "aggregate(embedding, 0L, (a, x) -> greatest(a, abs(x)))"
        ).alias("max_abs"),
        F.expr(
            "cast(array_position(embedding, array_min(embedding)) - 1 "
            "as bigint)"
        ).alias("min_bucket"),
    )


def _q_text_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-free semantic dedup over raw TEXT: feature-hashed TF
    embeddings (hashed_tf_embed) piped into the SemDeDup clustering +
    within-cluster domination of semantic_dedup — the full composition
    (hashing, k-means training, assignment, domination) has one exact
    DuckDB twin. Threshold 0.9: raw-TF prose shares stopword mass, so
    generic documents sit higher on the cosine scale than model
    embeddings would (production would idf-weight or use model
    embeddings; this is the dependency-free baseline).

    The embed is pin()ned before semantic_dedup: k-means training
    scans its input once per iteration and the pairing scans it twice
    more — without the pin the whole hashing projection re-runs per
    scan (Spark has no cross-branch CSE). The pinned table is the
    derived dim-64 sketch, corpus-row-sized but narrow."""
    from streamtasks_spark.llmdata.dedup import pin

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    # max_cell as in _q_semantic_dedup: plumbed skew guard, sized above
    # any test-scale cell so values match the exact-semantics oracle.
    return similarity.semantic_dedup(
        pin(textstats.hashed_tf_embed(docs, dim=64)),
        id_col="doc_id", dim=64, n_cells=8, n_iters=2, threshold=0.9,
        max_cell=100_000,
    )


def _q_string_matcher(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        string_matcher(F.col("text"), r"(join|merge)\s+batch", flags="i").alias(
            "matched"
        ),
    )


def _q_text_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return ev.select(
        "event_id",
        text_format(
            "u{user_id} did {event_type}",
            {"user_id": F.col("user_id"), "event_type": F.col("event_type")},
        ).alias("msg"),
    )


def _q_number_to_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return ev.select("event_id", number_to_text(F.col("value")).alias("vtext"))


def _q_replay_rebase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ReplayBuffer re-timestamping (reference replaybuffer.py:21-90): shift
    each user's recorded 'view' stream so it starts at a fixed replay epoch,
    preserving inter-row spacing."""
    ev = _events(spark, sf_dir)
    rec = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    out = replay_rebase(rec, keys=["user_id"], new_start_ms=1_700_000_000_000)
    return out.select("event_id", "user_id", "ts", "value")


def _q_replay_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ReplayBuffer with loop: two passes over each user's recorded
    'view' stream, the second shifted by span + 60 s gap."""
    ev = _events(spark, sf_dir)
    rec = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    out = replay(
        rec, keys=["user_id"], new_start_ms=1_700_000_000_000, loop=2,
        gap_ms=60_000,
    )
    return out.select("event_id", "user_id", "iteration", "ts", "value")


def _q_interleave_mux(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OutputContainer interleave: mux click/view tracks per user in
    accumulated-duration order (duration := value)."""
    ev = _events(spark, sf_dir)
    # integer-millisecond durations: the mux ORDER BY includes the
    # cumulative duration, and a cumulative DOUBLE sum can differ by one
    # ulp between engines, flipping near-tie ranks (observed at
    # sf0.001). Integer cumsums are exact in both engines; the
    # reference's real durations are integer time_base ticks anyway.
    dur = F.expr("cast(floor(value * 1000) as bigint)").alias("duration")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", dur
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", dur
    )
    out = interleave_by_duration(
        [clicks, views], keys=["user_id"], duration_col="duration",
        seq_col="event_id",
    )
    return out.select(
        "event_id", "user_id", "stream_idx", "cum_before", "mux_order"
    )


def _q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join result-equivalence probe: the salted plan must
    return exactly the plain join's rows, so its oracle IS the plain
    join. The key collapses 90% of users onto one hot key to make the
    salting non-trivial."""
    from streamtasks_spark.relational.scale import salted_join

    ev = _events(spark, sf_dir)
    big = ev.withColumn(
        "k",
        F.when(F.col("user_id") % 10 != 0, F.lit(1)).otherwise(
            F.col("user_id")
        ),
    ).select("k", "event_id", "value")
    small = big.groupBy("k").agg(F.count(F.lit(1)).alias("n_k"))
    return salted_join(
        big, small, "k", salt_src="event_id", n_salt=4
    ).select("event_id", "k", "n_k")


def _q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution-window range join: every click inside the 6-hour
    window opened by a purchase of the same user, aggregated per window.
    The operator buckets time so the band join runs as an EQUI-join on
    (user, bucket) + residual filter — no nested-loop (the plan contract
    in tests/test_plans.py pins this)."""
    from streamtasks_spark.operators.joins import range_join

    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    windows = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 6 HOURS")).alias("end_ts"),
        F.col("event_id").alias("window_id"),
    )
    return (
        range_join(
            clicks, windows, keys=["user_id"],
            start_col="start_ts", end_col="end_ts", bucket_minutes=120,
        )
        .groupBy("window_id")
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            _r6z(F.sum("value"), "sum_value"),
        )
    )


def _q_interleave_desync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OutputContainer interleave with the max_desync drop rule
    (reference outputcontainer.py:49,70-101): packets timestamped more
    than 60 s behind the mux head (newest already-muxed timestamp) are
    flagged — the duration-driven mux order disagrees with event time on
    this data, so the rule genuinely fires."""
    ev = _events(spark, sf_dir)
    # integer-ms durations: see _q_interleave_mux (double-cumsum ulp
    # divergence flips near-tie mux ranks between engines)
    dur = F.expr("cast(floor(value * 1000) as bigint)").alias("duration")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", dur
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", dur
    )
    out = interleave_by_duration(
        [clicks, views], keys=["user_id"], duration_col="duration",
        seq_col="event_id", max_desync_ms=60_000.0,
    )
    return out.select(
        "event_id",
        "user_id",
        "stream_idx",
        "cum_before",
        "mux_order",
        "dropped",
    )


def _q_container_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """InputContainer/OutputContainer round trip (reference
    inputcontainer.py:56-110, outputcontainer.py:116-161): mux click/view
    tracks into one packet table (accumulated-duration interleave, global
    mux window = one container), write it partitioned by track, demux one
    track back via the pushdown-friendly track filter."""
    import os

    from streamtasks_spark.media.container import (
        input_container,
        output_container,
    )

    ev = _events(spark, sf_dir)

    def track(t: str) -> DataFrame:
        # integer-ms durations: see _q_interleave_mux (global mux here,
        # so the double-cumsum ulp divergence actually fired at sf0.001)
        return ev.filter(F.col("event_type") == t).select(
            "event_id", "user_id",
            F.expr("cast(floor(value * 1000) as bigint)").alias("duration"),
        )

    path = f"/tmp/stsp_container_rt_{os.getpid()}"
    output_container(
        {"click": track("click"), "view": track("view")},
        path,
        seq_col="event_id",
        duration_col="duration",
    )
    clicks = input_container(spark, path, tracks=["click"])["click"]
    return clicks.select("event_id", "user_id", "duration", "mux_order")


def _q_time_to_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return ev.select(
        "event_id", time_to_text(F.col("ts"), "%Y-%m-%d %H:%M:%S").alias("tstr")
    )


def _q_timestamp_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return ev.select(
        "event_id", timestamp_update(F.col("ts"), offset_ms=90_000).alias("ts")
    )


def _q_time_buffer(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return time_buffer(ev, delay_ms=5_000).select("event_id", "ts")


def _q_repeater(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value", "event_id"
    )
    out = repeater(
        purchases, keys=["user_id"], interval_ms=86_400_000, value_cols=["value"],
        seq_col="event_id",
    )
    return out.select("user_id", "ts", "value")


def _q_synchronizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adversarial drop-late check: arrival order is a deterministic
    PERMUTATION of event_id (Knuth multiplicative hash — a bijection mod
    2^32 for an odd multiplier), so within each (user, stream) arrival
    order genuinely disagrees with event-time order and the "drop the
    past" rule (reference client/topic.py:127) actually drops rows."""
    from streamtasks_spark.operators.timing import synchronizer

    ev = _events(spark, sf_dir)
    arrival = (F.col("event_id") * F.lit(2654435761)) % F.lit(4294967296)
    streams = [
        ev.filter(F.col("event_type") == t)
        .select("user_id", "ts", "value", "event_id")
        .withColumn("arrival", arrival)
        for t in ("click", "view", "error")
    ]
    out = synchronizer(streams, keys=["user_id"], drop_late=True, seq_col="arrival")
    return out.select("user_id", "ts", "value", "event_id", "stream_idx")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every declared query by name; tests/test_oracle.py certifies each
    against its ``oracle_sql()`` twin. Keep the key order: bench.py
    resolves its short aliases in it."""

    def rel(fn):
        return lambda spark, sf_dir: fn(load_tables(spark, sf_dir))

    q = {
        "ann_index_drift": _q_ann_index_drift,
        "paragraph_dedup": _q_paragraph_dedup,
        "key_skew_report": _q_key_skew_report,
        "zorder_key": _q_zorder_key,
        "hilbert_key": _q_hilbert_key,
        "bpe_train": _q_bpe_train,
        "bpe_token_count": _q_bpe_token_count,
        "bpe_fertility": _q_bpe_fertility,
        "bpe_vocab": _q_bpe_vocab,
        "ann_ivf_pq_res_topk": _q_ann_ivf_pq_res_topk,
        "ann_recall": _q_ann_recall,
        "cluster_prune": _q_cluster_prune,
        "cluster_prune_policy": _q_cluster_prune_policy,
        "cluster_profile": _q_cluster_profile,
        "ann_lsh_topk": _q_ann_lsh_topk,
        "ann_ivf_topk": _q_ann_ivf_topk,
        "ann_ivf_trained": _q_ann_ivf_trained,
        "ann_sq_topk": _q_ann_sq_topk,
        "ann_ivf_sq_topk": _q_ann_ivf_sq_topk,
        "ann_pq_topk": _q_ann_pq_topk,
        "ann_ivf_pq_topk": _q_ann_ivf_pq_topk,
        "set_ops": rel(rq.union_intersect_except),
        "top_customers_per_nation": rel(rq.top_customers_per_nation),
        "orders_without_lineitems": rel(rq.orders_without_lineitems),
        "customers_with_orders_semi": rel(rq.customers_with_orders_semi),
        "synchronizer": _q_synchronizer,
        "asof_join": _q_asof_join,
        "switch": _q_switch,
        "calculator": _q_calculator,
        "calculator_multivar": _q_calculator_multivar,
        "sr_latch": _q_sr_latch,
        "pause_state": _q_pause_state,
        "string_concatenator": _q_string_concatenator,
        "fn_task": _q_fn_task,
        "fn_task_stateful": _q_fn_task_stateful,
        "audio_mixer": _q_audio_mixer,
        "video_activity_meter": _q_video_activity_meter,
        "media_switch": _q_media_switch,
        "video_reformatter": _q_video_reformatter,
        "q3_shipping_priority": rel(rq.q3_shipping_priority),
        "q10_returned_items": rel(rq.q10_returned_items),
        "q15_top_supplier": rel(rq.q15_top_supplier),
        "q17_small_quantity_revenue": rel(rq.q17_small_quantity_revenue),
        "audio_chunker": _q_audio_chunker,
        "padded_chunker": _q_padded_chunker,
        "audio_resampler": _q_audio_resampler,
        "video_mixer": _q_video_mixer,
        "q22_global_sales_opportunity": rel(rq.q22_global_sales_opportunity),
        "salted_join": _q_salted_join,
        "range_join": _q_range_join,
        "stratified_sample": _q_stratified_sample,
        "split_assign": _q_split_assign,
        "mix_sample": _q_mix_sample,
        "events_quantiles": rel(rq.events_quantiles),
        "q2_min_cost_supplier": rel(rq.q2_min_cost_supplier),
        "unigram_lm": _q_unigram_lm,
        "semantic_dedup": _q_semantic_dedup,
        "text_semantic_dedup": _q_text_semantic_dedup,
        "dsir_weights": _q_dsir_weights,
        "time_to_text": _q_time_to_text,
        "timestamp_update": _q_timestamp_update,
        "frame_sample": _q_frame_sample,
        "image_renderer": _q_image_renderer,
        "string_matcher": _q_string_matcher,
        "contamination_report": _q_contamination_report,
        "ngram_containment": _q_ngram_containment,
        "split_leakage": _q_split_leakage,
        "importance_resample": _q_importance_resample,
        "dedup_against": _q_dedup_against,
        "bloom_dedup": _q_bloom_dedup,
        "ngram_lm": _q_ngram_lm,
        "semantic_decontaminate": _q_semantic_decontaminate,
        "heavy_hitters": _q_heavy_hitters,
        "text_format": _q_text_format,
        "number_to_text": _q_number_to_text,
        "video_layout": _q_video_layout,
        "q4_order_priority": rel(rq.q4_order_priority),
        "q13_customer_distribution": rel(rq.q13_customer_distribution),
        "q16_parts_supplier_relationship": rel(rq.q16_parts_supplier_relationship),
        "q18_large_volume_customers": rel(rq.q18_large_volume_customers),
        "q20_potential_promotion": rel(rq.q20_potential_promotion),
        "q21_waiting_supplier": rel(rq.q21_waiting_supplier),
        "q1_pricing_summary": rel(rq.q1_pricing_summary),
        "q5_local_supplier_volume": rel(rq.q5_local_supplier_volume),
        "q6_forecast_revenue": rel(rq.q6_forecast_revenue),
        "q7_volume_shipping": rel(rq.q7_volume_shipping),
        "q8_market_share": rel(rq.q8_market_share),
        "q9_product_profit": rel(rq.q9_product_profit),
        "q11_important_stock": rel(rq.q11_important_stock),
        "q14_promo_effect": rel(rq.q14_promo_effect),
        "q19_disjunctive_predicates": rel(rq.q19_disjunctive_predicates),
        "events_hourly_stats": rel(rq.events_hourly_stats),
        "events_sliding_stats": rel(rq.events_sliding_stats),
        "events_anomaly": rel(rq.events_anomaly),
        "q12_priority_shipping": rel(rq.q12_priority_shipping),
        "codec_roundtrip": _q_codec_roundtrip,
        "llm_chat": _q_llm_chat,
        "pii_scrub": _q_pii_scrub,
        "time_buffer": _q_time_buffer,
        "repeater": _q_repeater,
        "replay_rebase": _q_replay_rebase,
        "replay_loop": _q_replay_loop,
        "message_detector": _q_message_detector,
        "audio_volume_meter": _q_audio_volume_meter,
        "vocab_topk": _q_vocab_topk,
        "substring_dedup": _q_substring_dedup,
        "token_histogram": _q_token_histogram,
        "approx_distinct": _q_approx_distinct,
        "bm25_topk": _q_bm25_topk,
        "bm25_search": _q_bm25_search,
        "corpus_prepare": _q_corpus_prepare,
        "events_retention_cohorts": rel(rq.events_retention_cohorts),
        "text_stats": _q_text_stats,
        "lang_id": _q_lang_id,
        "doc_fingerprint": _q_doc_fingerprint,
        "quality_filter": _q_quality_filter,
        "doc_repetition": _q_doc_repetition,
        "dedup_exact": _q_dedup_exact,
        "ann_topk": _q_ann_topk,
        "dedup_minhash": _q_dedup_minhash,
        "dedup_simhash": _q_dedup_simhash,
        "decontaminate": _q_decontaminate,
        "gate": _q_gate,
        "interleave_mux": _q_interleave_mux,
        "interleave_desync": _q_interleave_desync,
        "container_roundtrip": _q_container_roundtrip,
        "audio_smoother": _q_audio_smoother,
        "audio_volume_scaler": _q_audio_volume_scaler,
        "asr_transcribe": _q_asr_transcribe,
        "speech_enhance": _q_speech_enhance,
        "stretch_align": _q_stretch_align,
        "dedup_recall": _q_dedup_recall,
        "events_funnel": rel(rq.events_funnel),
        "events_rollup": rel(rq.events_rollup),
        "events_json_extract": rel(rq.events_json_extract),
        "source_stats": _q_source_stats,
        "pack_sequences": _q_pack_sequences,
        "doc_chunk": _q_doc_chunk,
        "ngram_jaccard": _q_ngram_jaccard,
        "dedup_components": _q_dedup_components,
        "dedup_retention": _q_dedup_retention,
        "tfidf_topk": _q_tfidf_topk,
        "hashed_embed": _q_hashed_embed,
        "embedding_near_dup": _q_embedding_near_dup,
        "embedding_dup_classes": _q_embedding_dup_classes,
        "tts_synthesize": _q_tts_synthesize,
        "text_renderer": _q_text_renderer,
        "image_decode": _q_image_decode,
        "image_resize": _q_image_resize,
        "image_features": _q_image_features,
        "quality_buckets": _q_quality_buckets,
        "events_session_windows": rel(rq.events_session_windows),
    }
    return q


# ------------------------------------------------------------ oracle SQL

_CTL = "CASE WHEN value > 25 THEN 1.0 ELSE 0.0 END"

_GATE_SQL = f"""
WITH u AS (
  SELECT user_id, ts, event_id, event_type, value,
    CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS prio,
    CASE WHEN event_type = 'purchase' THEN {_CTL} END AS ctl
  FROM events WHERE event_type IN ('click', 'view', 'purchase')
), st AS (
  SELECT *, last_value(ctl IGNORE NULLS) OVER w AS gate_ctl
  FROM u
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, prio, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, ts, event_type, value
FROM st WHERE prio = 1 AND coalesce(gate_ctl > 0.5, false)
"""

_SWITCH_SQL = """
WITH u AS (
  SELECT user_id, ts, event_id, event_type, value,
    CASE WHEN event_type = 'view' THEN 0 WHEN event_type = 'error' THEN 1 END AS pair,
    CASE WHEN event_type IN ('click', 'purchase') THEN 0 ELSE 1 END AS prio,
    CASE WHEN event_type = 'click' THEN value END AS c0,
    CASE WHEN event_type = 'purchase' THEN value END AS c1
  FROM events
), st AS (
  SELECT *,
    last_value(c0 IGNORE NULLS) OVER w AS s0,
    last_value(c1 IGNORE NULLS) OVER w AS s1
  FROM u
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, prio, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, ts, event_type, value
FROM st
WHERE pair IS NOT NULL AND (s0 IS NOT NULL OR s1 IS NOT NULL)
  AND pair = (CASE WHEN s0 IS NOT NULL AND s0 >= coalesce(s1, s0) THEN 0 ELSE 1 END)
"""

_PAUSE_SQL = f"""
WITH u AS (
  SELECT user_id, ts, event_id, event_type, value,
    CASE WHEN event_type = 'error' THEN 0 ELSE 1 END AS prio,
    CASE WHEN event_type = 'error' THEN {_CTL} END AS ctl
  FROM events WHERE event_type IN ('click', 'error')
), st AS (
  SELECT *, last_value(ctl IGNORE NULLS) OVER w AS pause_ctl
  FROM u
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, prio, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, ts, value,
  CASE WHEN coalesce(pause_ctl > 0.5, false) THEN 1.0 ELSE 0.0 END AS paused
FROM st WHERE prio = 1
"""

_SR_LATCH_SQL = f"""
WITH u AS (
  SELECT user_id, ts, event_id,
    CASE WHEN event_type = 'purchase' THEN 'set' ELSE 'reset' END AS src,
    {_CTL} AS v
  FROM events WHERE event_type IN ('purchase', 'error')
), st AS (
  SELECT user_id, ts, event_id,
    coalesce(last_value(CASE WHEN src = 'set' THEN v END IGNORE NULLS)
             OVER w > 0.5, false) AS sb,
    coalesce(last_value(CASE WHEN src = 'reset' THEN v END IGNORE NULLS)
             OVER w > 0.5, false) AS rb
  FROM u
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), st2 AS (
  SELECT user_id, ts,
    CAST(coalesce(last_value(CASE WHEN sb <> rb THEN
               (CASE WHEN sb THEN 1.0 ELSE 0.0 END) END IGNORE NULLS)
             OVER w2, 0.0) AS DOUBLE) AS value
  FROM st
  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id, ts, value FROM st2
"""

_DETECTOR_SQL = """
WITH d AS (
  SELECT user_id, ts FROM events WHERE event_type = 'click'
), g AS (
  SELECT user_id, ts, lag(ts) OVER w AS prev, lead(ts) OVER w AS next
  FROM d WINDOW w AS (PARTITION BY user_id ORDER BY ts)
)
SELECT user_id, ts, CAST(1.0 AS DOUBLE) AS value FROM g
WHERE prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000
UNION ALL
SELECT user_id, ts + INTERVAL '30 minutes' AS ts, CAST(0.0 AS DOUBLE) AS value FROM g
WHERE next IS NULL OR epoch_us(next) - epoch_us(ts) > 1800000000
"""

_CONCAT_SQL = f"""
WITH u AS (
  SELECT user_id, ts, event_id,
    CASE WHEN event_type IN ('click', 'view') THEN event_type END AS txt,
    CASE WHEN event_type = 'purchase' THEN {_CTL} END AS ctl,
    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS prio
  FROM events WHERE event_type IN ('click', 'view', 'purchase')
), st AS (
  SELECT *, coalesce(last_value(ctl IGNORE NULLS) OVER w, 0.0) > 0.5 AS cur
  FROM u
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, prio, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), st2 AS (
  SELECT *, coalesce(lag(cur) OVER (PARTITION BY user_id ORDER BY ts, prio, event_id),
                     false) AS prev
  FROM st
), st3 AS (
  SELECT *, ((NOT prev) AND cur AND ctl IS NOT NULL) AS flush FROM st2
), st4 AS (
  SELECT *, coalesce(sum(CASE WHEN flush THEN 1 ELSE 0 END)
    OVER (PARTITION BY user_id ORDER BY ts, prio, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seg
  FROM st3
), texts AS (
  SELECT user_id, seg, string_agg(txt, '' ORDER BY ts, event_id) AS value
  FROM st4 WHERE txt IS NOT NULL GROUP BY user_id, seg
)
SELECT f.user_id, f.ts, t.value
FROM (SELECT user_id, ts, seg FROM st4 WHERE flush) f
JOIN texts t ON f.user_id = t.user_id AND f.seg = t.seg
"""

_ASOF_SQL = """
WITH c AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), p AS (
  -- dedupe equal-ts right rows to the highest seq (= asof_join seq_col rule)
  SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
  QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
)
SELECT c.event_id, c.user_id, c.ts,
  CASE WHEN epoch_us(c.ts) - epoch_us(p.ts) <= 604800000000 THEN p.value END AS pvalue
FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
"""

_REPEATER_SQL = """
WITH p AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
  QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
), b AS (
  SELECT user_id, min(ts) AS t0, max(ts) AS t1 FROM p GROUP BY user_id
), ticks AS (
  SELECT user_id, unnest(generate_series(t0 + INTERVAL '1 day', t1,
                                          INTERVAL '1 day')) AS ts
  FROM b
)
SELECT t.user_id, t.ts, p.value
FROM ticks t ASOF JOIN p ON t.user_id = p.user_id AND t.ts >= p.ts
"""

_SYNC_SQL = """
WITH u AS (
  SELECT user_id, ts, value, event_id,
    CASE event_type WHEN 'click' THEN 0 WHEN 'view' THEN 1 ELSE 2 END AS stream_idx,
    (event_id * 2654435761) % 4294967296 AS arrival
  FROM events WHERE event_type IN ('click', 'view', 'error')
), m AS (
  SELECT *, max(ts) OVER (PARTITION BY user_id, stream_idx ORDER BY arrival
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
  FROM u
)
SELECT user_id, ts, value, event_id, stream_idx
FROM m WHERE prev_max IS NULL OR ts >= prev_max
"""

_CHUNKER_SQL = f"""
WITH c AS (
  SELECT event_id, user_id, ts, {_SAMPLES_DUCK} AS s,
    (row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1) * 16
      AS off
  FROM events WHERE event_type = 'click'
), x AS (
  SELECT user_id, ts, off + r.range - 1 AS idx, s[r.range] AS v
  FROM c, range(1, 17) r
), g AS (
  SELECT user_id, idx // 24 AS chunk_id, min(ts) AS ts, count(*) AS n,
    list_sum(list(v ORDER BY idx)) AS sum_raw,
    arg_min(v, idx) AS first_raw, arg_max(v, idx) AS last_raw
  FROM x GROUP BY user_id, idx // 24
)
SELECT user_id, chunk_id, ts, CAST(n AS INT) AS n,
  round(sum_raw, 6) + 0.0 AS sum_samples,
  round(first_raw, 6) + 0.0 AS first_sample,
  round(last_raw, 6) + 0.0 AS last_sample
FROM g WHERE n = 24
"""

_PADDED_CHUNKER_SQL = f"""
WITH c AS (
  SELECT event_id, user_id, ts, {_SAMPLES_DUCK} AS s,
    (row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1) * 16
      AS off
  FROM events WHERE event_type = 'click'
), x AS (
  SELECT user_id, ts, off + r.range - 1 AS idx, s[r.range] AS v
  FROM c, range(1, 17) r
), m AS (
  SELECT user_id, ts, idx, v,
    unnest(range(greatest(0, (idx - 31) // 24), idx // 24 + 1)) AS chunk_id
  FROM x
), f AS (
  SELECT * FROM m WHERE idx >= chunk_id * 24 AND idx < chunk_id * 24 + 32
), g AS (
  SELECT user_id, chunk_id, min(ts) AS ts, count(*) AS n,
    list_sum(list(v ORDER BY idx)) AS sum_raw,
    arg_min(v, idx) AS first_raw, arg_max(v, idx) AS last_raw
  FROM f GROUP BY user_id, chunk_id
)
SELECT user_id, chunk_id, ts, CAST(n AS INT) AS n,
  round(sum_raw, 6) + 0.0 AS sum_samples,
  round(first_raw, 6) + 0.0 AS first_sample,
  round(last_raw, 6) + 0.0 AS last_sample
FROM g WHERE n = 32
"""

_SMOOTHER_SQL = f"""
WITH c AS (
  SELECT event_id, user_id, ts, {_SAMPLES_DUCK} AS s
  FROM events WHERE event_type = 'click'
), l AS (
  SELECT *, lag(s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p
  FROM c
), sm AS (
  SELECT event_id, user_id,
    list_transform(range(1, 17), i ->
      CASE WHEN p IS NOT NULL AND i <= 4
        THEN p[len(p) - 4 + i] * (1.0 - CAST(i AS DOUBLE) / 5.0)
             + s[i] * (CAST(i AS DOUBLE) / 5.0)
        ELSE s[i] END) AS sm
  FROM l
)
SELECT event_id, user_id,
  round(list_sum(sm), 6) + 0.0 AS sum_smoothed,
  round(sm[1], 6) + 0.0 AS s_head, round(sm[16], 6) + 0.0 AS s_tail
FROM sm
"""

_METER_SQL = f"""
WITH c AS (
  SELECT user_id, epoch_us(ts) AS ts_us, value
  FROM events WHERE event_type = 'click'
), s AS (
  SELECT user_id,
    (ts_us + (r.range - 1) * 1000000) // 3600000000 AS win,
    abs((value * r.range) % 7 - 3) AS ax
  FROM c, range(1, 17) r
)
SELECT user_id, make_timestamp(win * 3600000000) AS ts,
  round(sqrt(avg(ax)), 4) AS volume, count(*) AS n_samples
FROM s GROUP BY user_id, win
"""

_SCALER_SQL = f"""
WITH u AS (
  SELECT user_id, ts, event_id, value,
    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_data,
    CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS prio,
    CASE WHEN event_type = 'purchase' THEN value / 50 END AS ctl
  FROM events WHERE event_type IN ('click', 'purchase')
), st AS (
  SELECT *, last_value(ctl IGNORE NULLS) OVER w AS scale
  FROM u
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, prio, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), d AS (
  SELECT user_id, event_id,
    list_transform({_SAMPLES_DUCK},
      x -> greatest(CAST(-3 AS DOUBLE),
                    least(CAST(3 AS DOUBLE),
                          x * coalesce(scale, CAST(1 AS DOUBLE))))) AS scaled
  FROM st WHERE is_data = 1
)
SELECT event_id, user_id,
  round(list_sum(scaled), 6) + 0.0 AS sum_scaled,
  round(list_min(scaled), 6) + 0.0 AS min_scaled,
  round(list_max(scaled), 6) + 0.0 AS max_scaled
FROM d
"""

_MIXER_SQL = f"""
WITH a AS (
  SELECT user_id, ts, {_SAMPLES_DUCK} AS sa
  FROM events WHERE event_type = 'click'
), b AS (
  SELECT user_id, ts, {_SAMPLES_DUCK} AS sb
  FROM events WHERE event_type = 'view'
), j AS (
  SELECT coalesce(a.user_id, b.user_id) AS user_id,
         coalesce(a.ts, b.ts) AS ts, a.sa, b.sb
  FROM a FULL OUTER JOIN b ON a.user_id = b.user_id AND a.ts = b.ts
), m AS (
  SELECT user_id, ts,
    list_transform(range(1, 17), i ->
      coalesce(sa[i], CAST(0 AS DOUBLE)) + coalesce(sb[i], CAST(0 AS DOUBLE)))
      AS mixed,
    (CASE WHEN sa IS NOT NULL THEN 1 ELSE 0 END
     + CASE WHEN sb IS NOT NULL THEN 1 ELSE 0 END) AS n_present
  FROM j
)
SELECT user_id, ts, round(list_sum(mixed), 6) AS sum_mixed, n_present FROM m
"""

# linear-interp resampler positions: pos = j*(n-1)/(m-1); both engines do
# int*int then float division -> identical doubles
_POS = "((j * 15) / 23)"
_RESAMPLE_DUCK = (
    f"list_transform(range(0, 24), j -> "
    f"({_POS} - floor({_POS})) * s[cast(least(floor({_POS}) + 2, 16) as int)]"
    f" + (1.0 - ({_POS} - floor({_POS}))) * s[cast(floor({_POS}) + 1 as int)])"
)

_RESAMPLER_SQL = f"""
WITH c AS (
  SELECT event_id, user_id, {_SAMPLES_DUCK} AS s
  FROM events WHERE event_type = 'click'
), r AS (
  SELECT event_id, user_id, {_RESAMPLE_DUCK} AS rs FROM c
)
SELECT event_id, user_id, len(rs) AS n_out,
  round(list_sum(rs), 6) + 0.0 AS sum_resampled,
  round(rs[1], 6) + 0.0 AS first_sample,
  round(rs[24], 6) + 0.0 AS last_sample
FROM r
"""

_ACTIVITY_SQL = f"""
WITH v AS (
  SELECT event_id, user_id, ts, {_SAMPLES_DUCK} AS s
  FROM events WHERE event_type = 'view'
), l AS (
  SELECT *, lag(s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p
  FROM v
)
SELECT event_id, user_id,
  round(list_sum(list_transform(range(1, 17), i -> abs(s[i] - p[i]))) / 16.0, 6)
    AS activity
FROM l WHERE p IS NOT NULL
"""

_VIDEO_MIXER_SQL = f"""
WITH fg AS (
  SELECT event_id, user_id, ts, {_SAMPLES_DUCK} AS fs
  FROM events WHERE event_type = 'click'
), bg AS (
  SELECT user_id, ts, {_SAMPLES_DUCK} AS bs
  FROM events WHERE event_type = 'view'
  QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
), j AS (
  SELECT fg.event_id, fg.user_id, fg.fs, bg.bs
  FROM fg ASOF LEFT JOIN bg ON fg.user_id = bg.user_id AND fg.ts >= bg.ts
)
SELECT event_id, user_id,
  round(list_sum(list_transform(range(1, 17), i ->
    fs[i] * CAST(0.75 AS DOUBLE)
    + coalesce(bs[i], CAST(0 AS DOUBLE)) * CAST(0.25 AS DOUBLE))), 6) + 0.0
    AS sum_blended
FROM j
"""

_MEDIA_SWITCH_SQL = """
WITH u AS (
  SELECT user_id, ts, event_id, event_type, value,
    CASE WHEN event_type = 'view' THEN 0
         WHEN event_type = 'error' THEN 1 END AS pair,
    CASE WHEN event_type IN ('click', 'purchase') THEN 0 ELSE 1 END AS prio,
    CASE WHEN event_type = 'click' THEN value END AS c0,
    CASE WHEN event_type = 'purchase' THEN value END AS c1,
    (event_id % 5 = 0) AS kf
  FROM events
), st AS (
  SELECT *,
    last_value(c0 IGNORE NULLS) OVER w AS s0,
    last_value(c1 IGNORE NULLS) OVER w AS s1
  FROM u
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, prio, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), des AS (
  SELECT *,
    CASE WHEN s0 IS NULL AND s1 IS NULL THEN NULL
         WHEN s0 IS NOT NULL AND s0 >= coalesce(s1, s0) THEN 0
         ELSE 1 END AS desired
  FROM st
), act AS (
  SELECT *,
    last_value(CASE WHEN pair = desired AND kf THEN pair END IGNORE NULLS)
      OVER w2 AS active
  FROM des
  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, prio, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, ts, event_type, value
FROM act WHERE pair IS NOT NULL AND pair = desired AND pair = active
"""

_IMAGE_DECODE_SQL = """
WITH h AS (SELECT doc_id, md5(text) AS hx FROM documents)
SELECT doc_id,
  CAST(CAST('0x' || substr(hx, 1, 2) AS INT) + 1 AS INT) AS width,
  CAST(CAST('0x' || substr(hx, 3, 2) AS INT) + 1 AS INT) AS height,
  CAST((CAST('0x' || substr(hx, 1, 2) AS INT) + 1)
       * (CAST('0x' || substr(hx, 3, 2) AS INT) + 1) AS BIGINT) AS n_pixels
FROM h
"""

_IMAGE_RESIZE_SQL = """
WITH h AS (SELECT doc_id, md5(text) AS hx FROM documents)
SELECT doc_id,
  CAST((CAST('0x' || substr(hx, 1, 2) AS INT) + 2) // 2 AS INT) AS width,
  CAST((CAST('0x' || substr(hx, 3, 2) AS INT) + 2) // 2 AS INT) AS height,
  substr(hx, 5, 2) || substr(hx, 9, 2) || substr(hx, 13, 2)
    || substr(hx, 17, 2) || substr(hx, 21, 2) || substr(hx, 25, 2)
    || substr(hx, 29, 2) AS data_hex
FROM h
"""

_IMAGE_FEATURES_SQL = """
WITH h AS (SELECT doc_id, md5(text) AS hx FROM documents),
b AS (
  SELECT doc_id, hx,
    list_transform(generate_series(0, 15),
      k -> CAST('0x' || substr(hx, 2 * k + 1, 2) AS INT)) AS bs
  FROM h
)
SELECT doc_id,
  -- NULL text -> NULL payload -> all-NULL stats (without the guards
  -- generate_series still yields 16 phantom bytes and list_distinct
  -- drops NULLs to a 0 count)
  CAST(CASE WHEN hx IS NULL THEN NULL ELSE 16 END AS INT) AS n_bytes,
  CAST(list_sum(bs) AS BIGINT) AS sum_bytes,
  CAST(list_min(bs) AS INT) AS min_byte,
  CAST(list_max(bs) AS INT) AS max_byte,
  CAST(CASE WHEN hx IS NULL THEN NULL
            ELSE len(list_distinct(bs)) END AS INT) AS n_distinct
FROM b
"""

_FRAME_SAMPLE_SQL = """
WITH c AS (
  SELECT event_id, user_id, ts,
    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events WHERE event_type = 'click'
)
SELECT event_id, user_id, ts FROM c WHERE (rn - 1) % 5 = 0
"""

_CODEC_ROUNDTRIP_SQL = f"""
WITH c AS (
  SELECT event_id, user_id, {_SAMPLES_DUCK} AS s
  FROM events WHERE event_type = 'click'
)
SELECT event_id, user_id,
  CAST(4 + 8 * len(s) AS INTEGER) AS n_bytes,
  len(s) AS n_samples,
  round(list_sum(s), 6) AS sum_samples,
  round(s[1], 6) AS first_sample,
  round(s[16], 6) AS last_sample
FROM c
"""

# stub rasterizer: pixel i = ord(text[i mod len]) % 255 / 255 (render.py)
_TEXT_RENDERER_SQL = """
WITH f AS (
  SELECT doc_id,
    list_transform(range(0, 16), i ->
      CASE WHEN text IS NULL OR length(text) = 0 THEN CAST(0 AS DOUBLE)
           ELSE CAST(unicode(substr(text, (i % length(text)) + 1, 1)) % 255
                     AS DOUBLE) / 255.0 END) AS frame
  FROM documents
)
SELECT doc_id, len(frame) AS n_pixels,
  round(list_sum(frame), 6) AS sum_frame,
  round(frame[1], 6) AS p_first,
  round(frame[16], 6) AS p_last
FROM f
"""

_IMAGE_RENDERER_SQL = """
WITH f AS (
  SELECT event_id, user_id, ts,
    list_transform(range(0, 12), i -> CAST(i AS DOUBLE) / 7) AS samples
  FROM events WHERE event_type = 'purchase'
)
SELECT event_id, user_id, ts, len(samples) AS n_pixels,
  round(list_sum(samples), 6) AS sum_frame,
  round(samples[5], 6) AS probe
FROM f
"""

# stub kernel: text = 'tok' || trunc(abs(sum(samples)) * 10) % 97
_ASR_SQL = f"""
WITH c AS (
  SELECT event_id, user_id, {_SAMPLES_DUCK} AS s
  FROM events WHERE event_type = 'view'
)
SELECT event_id, user_id,
  'tok' || CAST(CAST(trunc(abs(list_sum(s)) * 10) AS BIGINT) % 97 AS VARCHAR)
    AS text
FROM c
"""

# stub kernel: sample i = ord(text[i mod len]) % 16 - 8
_TTS_SQL = """
WITH f AS (
  SELECT doc_id,
    list_transform(range(0, 16), i ->
      CASE WHEN text IS NULL OR length(text) = 0 THEN CAST(0 AS DOUBLE)
           ELSE CAST(unicode(substr(text, (i % length(text)) + 1, 1)) % 16 - 8
                     AS DOUBLE) END) AS samples
  FROM documents
)
SELECT doc_id,
  round(list_sum(samples), 6) AS sum_samples,
  round(samples[1], 6) AS s_first,
  round(samples[16], 6) AS s_last
FROM f
"""

# stub kernel: 3-tap moving average, edges average available neighbors
_ENHANCE_SQL = f"""
WITH c AS (
  SELECT event_id, user_id, {_SAMPLES_DUCK} AS s
  FROM events WHERE event_type = 'view'
), e AS (
  SELECT event_id, user_id,
    list_transform(range(1, 17), i ->
      CASE WHEN i = 1 THEN (s[1] + s[2]) / 2.0
           WHEN i = 16 THEN (s[15] + s[16]) / 2.0
           ELSE (s[i - 1] + s[i] + s[i + 1]) / 3.0 END) AS en
  FROM c
)
SELECT event_id, user_id,
  round(list_sum(en), 6) + 0.0 AS sum_enhanced,
  round(en[1], 6) + 0.0 AS e_head, round(en[8], 6) + 0.0 AS e_mid,
  round(en[16], 6) + 0.0 AS e_tail
FROM e
"""

# stretch_align: same integer recurrence as the Spark fold
# (operators/chunks.py:371-427) resolved with a recursive CTE; linear
# interp mirrors the resampler kernel. n=16, rate=16000, ratio=1.1 →
# d=2; synthetic per-track clock: 1 ms nominal + jitter from event_id.
_SA_POS = "((j * 15) / (m - 1))"
_STRETCH_ALIGN_SQL = f"""
WITH RECURSIVE src AS (
  SELECT event_id, user_id, {_SAMPLES_DUCK} AS samples,
    (row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1)
      * 1000 + ((event_id * 13) % 29 - 14) * 40 AS us
  FROM events WHERE event_type = 'click'
), b AS (
  SELECT user_id, event_id, samples,
    row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) - 1 AS idx,
    CAST(floor((us - min(us) OVER (PARTITION BY user_id))
         * 16000 / 1000000.0) AS BIGINT) AS e
  FROM src
), rec AS (
  SELECT user_id, idx,
    CAST(16 AS BIGINT) + greatest(-2, least(2, e)) AS m,
    CAST(16 AS BIGINT) + greatest(-2, least(2, e)) AS s_after
  FROM b WHERE idx = 0
  UNION ALL
  SELECT b.user_id, b.idx,
    16 + greatest(-2, least(2, b.e - r.s_after)),
    r.s_after + 16 + greatest(-2, least(2, b.e - r.s_after))
  FROM b JOIN rec r ON b.user_id = r.user_id AND b.idx = r.idx + 1
), al AS (
  SELECT b.user_id, b.event_id, r.m,
    CASE WHEN r.m <= 1 THEN [b.samples[1]]
    ELSE list_transform(range(0, CAST(r.m AS INT)), j ->
      ({_SA_POS} - floor({_SA_POS}))
        * b.samples[CAST(least(floor({_SA_POS}) + 2, 16) AS INT)]
      + (1.0 - ({_SA_POS} - floor({_SA_POS})))
        * b.samples[CAST(floor({_SA_POS}) + 1 AS INT)])
    END AS aligned
  FROM b JOIN rec r ON b.user_id = r.user_id AND b.idx = r.idx
)
SELECT user_id, event_id, m, len(aligned) AS n_out,
  round(list_sum(aligned), 6) + 0.0 AS sum_aligned,
  round(aligned[1], 6) + 0.0 AS first_s
FROM al
"""

# stub reply = 'reply#' || len(history) || ':' || total chars of the last
# history_limit(=8) messages including the current one
_LLM_CHAT_SQL = """
WITH m AS (
  SELECT user_id, ts, event_id, 'm' || CAST(event_id AS VARCHAR) AS value
  FROM events WHERE event_type = 'click'
)
SELECT user_id, event_id,
  'reply#' || CAST(least(row_number() OVER w, 8) AS VARCHAR) || ':' ||
  CAST(sum(length(value)) OVER (PARTITION BY user_id ORDER BY ts, event_id
       ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS VARCHAR) AS reply
FROM m
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""

_SESSION_SQL = """
WITH g AS (
  SELECT user_id, event_id, ts, value,
    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
), marked AS (
  SELECT *, CASE WHEN prev IS NULL
                  OR epoch_us(ts) - epoch_us(prev) > 1800000000
             THEN 1 ELSE 0 END AS new_session
  FROM g
), sess AS (
  SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id
            ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM marked
)
SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end,
  count(*) AS n_events, CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
FROM sess GROUP BY user_id, session_id
"""


def oracle_sql() -> dict[str, str]:
    calc_sql = calc.compile_sql(CALC_EXPR, {"v": "value"})
    calc2_sql = calc.compile_sql(CALC2_EXPR, {"a": "value", "b": "b"})
    return {
        "calculator": (
            f"SELECT event_id, round({calc_sql}, 6) AS calc_value FROM events"
        ),
        "calculator_multivar": f"""
            WITH u AS (
              SELECT user_id, ts, event_id, value,
                CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_data,
                CASE WHEN event_type = 'view' THEN value END AS bval
              FROM events WHERE event_type IN ('click', 'view')
            ), st AS (
              SELECT *, last_value(bval IGNORE NULLS) OVER w AS b
              FROM u
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, is_data, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            )
            SELECT event_id, round({calc2_sql}, 6) AS calc_value
            FROM st WHERE is_data = 1 AND b IS NOT NULL
        """,
        "string_matcher": r"""
            SELECT doc_id,
              CAST(CASE WHEN regexp_matches(text, '(?i)(join|merge)\s+batch')
                   THEN 1.0 ELSE 0.0 END AS DOUBLE) AS matched
            FROM documents
        """,
        "text_format": """
            SELECT event_id,
              'u' || CAST(user_id AS VARCHAR) || ' did ' || event_type AS msg
            FROM events
        """,
        "number_to_text": """
            SELECT event_id, CAST(value AS VARCHAR) AS vtext FROM events
        """,
        "fn_task_stateful": """
            SELECT event_id, user_id,
              round(sum(value) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
                AS running_total
            FROM events WHERE event_type = 'click'
        """,
        "fn_task": """
            WITH u AS (
              SELECT user_id, ts, event_id, value,
                CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_data,
                CASE WHEN event_type = 'view' THEN value END AS bval
              FROM events WHERE event_type IN ('click', 'view')
            ), st AS (
              SELECT *, last_value(bval IGNORE NULLS) OVER w AS b
              FROM u
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, is_data, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            )
            SELECT event_id, round(value * 2 + b, 6) AS value
            FROM st WHERE is_data = 1 AND b IS NOT NULL
        """,
        "replay_rebase": """
            WITH r AS (
              SELECT event_id, user_id, ts, value,
                min(ts) OVER (PARTITION BY user_id) AS t0
              FROM events WHERE event_type = 'view'
            )
            SELECT event_id, user_id,
              make_timestamp(1700000000000000 + epoch_us(ts) - epoch_us(t0)) AS ts,
              value
            FROM r
        """,
        "replay_loop": """
            WITH r AS (
              SELECT event_id, user_id, ts, value,
                min(epoch_us(ts)) OVER (PARTITION BY user_id) AS t0,
                max(epoch_us(ts)) OVER (PARTITION BY user_id) AS t1
              FROM events WHERE event_type = 'view'
            )
            SELECT event_id, user_id, i.range AS iteration,
              make_timestamp(1700000000000000 + epoch_us(ts) - t0
                             + i.range * (t1 - t0 + 60000000)) AS ts,
              value
            FROM r, range(0, 2) i
        """,
        "interleave_mux": """
            WITH u AS (
              SELECT event_id, user_id,
                CAST(floor(value * 1000) AS BIGINT) AS duration,
                CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS stream_idx
              FROM events WHERE event_type IN ('click', 'view')
            ), c AS (
              SELECT *, coalesce(sum(duration) OVER (
                  PARTITION BY user_id, stream_idx ORDER BY event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                0) AS cum_before
              FROM u
            )
            SELECT event_id, user_id, stream_idx,
              CAST(cum_before AS BIGINT) AS cum_before,
              CAST(row_number() OVER (PARTITION BY user_id
                   ORDER BY cum_before, stream_idx, event_id) AS INT)
                AS mux_order
            FROM c
        """,
        "interleave_desync": """
            WITH u AS (
              SELECT event_id, user_id, ts,
                CAST(floor(value * 1000) AS BIGINT) AS duration,
                CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS stream_idx
              FROM events WHERE event_type IN ('click', 'view')
            ), c AS (
              SELECT *, coalesce(sum(duration) OVER (
                  PARTITION BY user_id, stream_idx ORDER BY event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                0) AS cum_before
              FROM u
            ), m AS (
              SELECT *, CAST(row_number() OVER (PARTITION BY user_id
                   ORDER BY cum_before, stream_idx, event_id) AS INT)
                AS mux_order
              FROM c
            )
            SELECT event_id, user_id, stream_idx,
              CAST(cum_before AS BIGINT) AS cum_before, mux_order,
              coalesce(
                (max(epoch_us(ts)) OVER (PARTITION BY user_id
                   ORDER BY mux_order
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 - epoch_us(ts)) > 60000000, false) AS dropped
            FROM m
        """,
        # oracle for the salted join is the PLAIN join — salting must be
        # invisible in the result
        "salted_join": """
            WITH big AS (
              SELECT CASE WHEN user_id % 10 <> 0 THEN 1
                          ELSE user_id END AS k,
                     event_id, value
              FROM events
            ), small AS (
              SELECT k, count(*) AS n_k FROM big GROUP BY k
            )
            SELECT b.event_id, b.k, s.n_k
            FROM big b JOIN small s ON b.k = s.k
        """,
        "container_roundtrip": """
            WITH u AS (
              SELECT event_id, user_id,
                CAST(floor(value * 1000) AS BIGINT) AS duration,
                CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS trk
              FROM events WHERE event_type IN ('click', 'view')
            ), c AS (
              SELECT *, coalesce(sum(duration) OVER (
                  PARTITION BY trk ORDER BY event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                0) AS cum_before
              FROM u
            ), m AS (
              SELECT *, CAST(row_number() OVER (
                   ORDER BY cum_before, trk, event_id) AS INT) AS mux_order
              FROM c
            )
            SELECT event_id, user_id, duration, mux_order
            FROM m WHERE trk = 0
        """,
        "time_to_text": """
            SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS tstr FROM events
        """,
        "timestamp_update": """
            SELECT event_id, ts + INTERVAL '90 seconds' AS ts FROM events
        """,
        "dedup_exact": dedup.oracle_dedup_exact_sql(_DUP_INJECT_SQL),
        "paragraph_dedup": dedup.oracle_paragraph_dedup_sql(_PARA_INJECT_SQL),
        "bpe_train": bpe.oracle_bpe_train_sql(n_merges=10, min_freq=2),
        "bpe_token_count": bpe.oracle_bpe_token_count_sql(
            n_merges=10, min_freq=2
        ),
        "bpe_fertility": bpe.oracle_bpe_fertility_sql(
            n_merges=10, min_freq=2
        ),
        "bpe_vocab": bpe.oracle_bpe_vocab_sql(n_merges=10, min_freq=2),
        "key_skew_report": scale.oracle_key_skew_report_sql(
            _SKEW_INJECT_SQL, key="user_id"
        ),
        "zorder_key": scale.oracle_zorder_key_sql(
            "SELECT event_id, user_id, value FROM events",
            _ZORDER_DIMS,
            bits=10,
            keep=("event_id",),
        ),
        "hilbert_key": scale.oracle_hilbert_key_sql(
            "SELECT event_id, user_id, value FROM events",
            _ZORDER_DIMS,
            bits=10,
            keep=("event_id",),
        ),
        "dedup_minhash": dedup.oracle_dedup_minhash_sql(threshold=0.5),
        "dedup_recall": dedup.oracle_dedup_recall_sql(threshold=0.5),
        "ann_ivf_trained": similarity.oracle_ivf_trained_sql(
            n_cells=8, n_iters=3, n_probe=2, k=5
        ),
        "dedup_components": dedup.oracle_connected_components_sql(
            dedup.oracle_dedup_minhash_sql(threshold=0.5)
        ),
        "dedup_retention": dedup.oracle_dedup_retention_sql(
            dedup.oracle_dedup_minhash_sql(threshold=0.5)
        ),
        "dedup_simhash": dedup.oracle_dedup_simhash_sql(max_hamming=3),
        "ngram_jaccard": dedup.oracle_ngram_jaccard_sql(threshold=0.5),
        "ngram_containment": dedup.oracle_ngram_containment_sql(
            threshold=0.6
        ),
        "dsir_weights": quality.oracle_dsir_weights_sql(
            target_pred="lang = 'en'", n_buckets=256
        ),
        "importance_resample": quality.oracle_importance_resample_sql(
            target_pred="lang = 'en'", n_buckets=256, rate=0.5
        ),
        "split_leakage": pipeline.oracle_split_leakage_sql(
            threshold=0.5, splits=(("train", 0.5), ("heldout", 0.5))
        ),
        "dedup_against": dedup.oracle_dedup_against_sql(threshold=0.5),
        "ann_sq_topk": similarity.oracle_sq_topk_sql(k=5, rerank=4),
        "contamination_report": pipeline.oracle_contamination_report_sql(
            source_sql=(
                "SELECT doc_id, text FROM documents WHERE doc_id % 25 <> 7"
            ),
        ),
        "ann_ivf_sq_topk": similarity.oracle_ivf_sq_topk_sql(
            n_cells=8, n_probe=2, k=5, rerank=4
        ),
        "bm25_topk": textstats.oracle_bm25_topk_sql(
            terms=_BM25_TERMS, k=15
        ),
        "bloom_dedup": dedup.oracle_bloom_dedup_sql(
            m_bits=65536, n_hashes=5
        ),
        "ngram_lm": quality.oracle_ngram_lm_sql(n=2, vocab_size=256),
        "semantic_decontaminate": (
            similarity.oracle_semantic_decontaminate_sql(threshold=0.35)
        ),
        "cluster_profile": similarity.oracle_cluster_profile_sql(
            n_cells=8, n_iters=3
        ),
        "cluster_prune": similarity.oracle_cluster_prune_sql(
            n_cells=8, n_iters=3, rate_floor=0.3, rate_ceil=0.9
        ),
        "cluster_prune_policy": similarity.oracle_cluster_prune_policy_sql(
            n_cells=8, n_iters=3, rate_floor=0.3, rate_ceil=0.9
        ),
        "bm25_search": textstats.oracle_bm25_search_sql(
            query_bags=_BM25_BAGS, k=10
        ),
        "heavy_hitters": textstats.oracle_heavy_hitters_cms_sql(
            width=256, depth=4, phi=0.005
        ),
        "approx_distinct": textstats.oracle_approx_distinct_hll_sql(
            n=3, p=8
        ),
        "audio_chunker": _CHUNKER_SQL,
        "padded_chunker": _PADDED_CHUNKER_SQL,
        "audio_smoother": _SMOOTHER_SQL,
        "audio_volume_meter": _METER_SQL,
        "audio_volume_scaler": _SCALER_SQL,
        "audio_mixer": _MIXER_SQL,
        "media_switch": _MEDIA_SWITCH_SQL,
        "audio_resampler": _RESAMPLER_SQL,
        "video_activity_meter": _ACTIVITY_SQL,
        "video_mixer": _VIDEO_MIXER_SQL,
        "video_reformatter": f"""
            WITH c AS (
              SELECT event_id, user_id, ts, {_SAMPLES_DUCK} AS s
              FROM events WHERE event_type = 'click'
            ), fi AS (
              SELECT *, row_number() OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) - 1 AS i
              FROM c
            ), cp AS (
              SELECT *, ((i + 1) * 3) // 2 - (i * 3) // 2 AS copies FROM fi
            ), e AS (
              SELECT event_id, user_id,
                unnest(range(0, copies)) AS copy_idx,
                list_transform(range(0, 4), c ->
                  s[((c // 2) * 4 // 2) * 4 + ((c % 2) * 4 // 2) + 1]) AS rs
              FROM cp
            )
            SELECT event_id, user_id, copy_idx,
              len(rs) AS n_pixels, round(list_sum(rs), 6) AS sum_resized
            FROM e
        """,
        "video_layout": f"""
            WITH c AS (
              SELECT event_id, user_id, {_SAMPLES_DUCK} AS s
              FROM events WHERE event_type = 'click'
            ), l AS (
              SELECT event_id, user_id,
                list_transform(range(0, 48), c ->
                  CASE WHEN c % 8 >= 2 AND c % 8 < 6
                        AND c // 8 >= 1 AND c // 8 < 5
                  THEN s[(c // 8 - 1) * 4 + (c % 8 - 2) + 1]
                  ELSE CAST(0 AS DOUBLE) END) AS canvas
              FROM c
            )
            SELECT event_id, user_id, len(canvas) AS n_pixels,
              round(list_sum(canvas), 6) AS sum_canvas,
              round(canvas[{2 * 8 + 3 + 1}], 6) AS probe_inside,
              round(canvas[1], 6) AS probe_corner
            FROM l
        """,
        "image_decode": _IMAGE_DECODE_SQL,
        "image_resize": _IMAGE_RESIZE_SQL,
        "image_features": _IMAGE_FEATURES_SQL,
        "frame_sample": _FRAME_SAMPLE_SQL,
        "codec_roundtrip": _CODEC_ROUNDTRIP_SQL,
        "text_renderer": _TEXT_RENDERER_SQL,
        "image_renderer": _IMAGE_RENDERER_SQL,
        "asr_transcribe": _ASR_SQL,
        "tts_synthesize": _TTS_SQL,
        "speech_enhance": _ENHANCE_SQL,
        "stretch_align": _STRETCH_ALIGN_SQL,
        "llm_chat": _LLM_CHAT_SQL,
        "pii_scrub": _oracle_pii_scrub(),
        "text_stats": textstats.oracle_text_stats_sql(),
        "lang_id": textstats.oracle_lang_id_sql(),
        "doc_fingerprint": textstats.oracle_doc_fingerprint_sql(),
        "vocab_topk": textstats.oracle_vocab_topk_sql(k=100),
        "substring_dedup": dedup.oracle_substring_dup_sql(
            k=16, threshold=0.5
        ),
        "token_histogram": textstats.oracle_token_histogram_sql(),
        "corpus_prepare": pipeline.oracle_corpus_prepare_sql(),
        "embedding_dup_classes": dedup.oracle_connected_components_sql(
            "SELECT vec_a AS doc_a, vec_b AS doc_b FROM ("
            + similarity.oracle_embedding_near_dup_sql()
            + ")"
        ),
        "quality_buckets": textstats.oracle_quality_buckets_sql(
            n_buckets=10
        ),
        "doc_repetition": quality.oracle_doc_repetition_sql(),
        "quality_filter": quality.oracle_quality_filter_sql(),
        "source_stats": quality.oracle_source_stats_sql(),
        "unigram_lm": quality.oracle_unigram_lm_sql(vocab_size=256),
        "doc_chunk": pipeline.oracle_doc_chunk_sql(window=32, stride=24),
        "decontaminate": pipeline.oracle_decontaminate_sql(),
        "stratified_sample": pipeline.oracle_stratified_sample_sql(),
        "split_assign": pipeline.oracle_split_assign_sql(),
        "pack_sequences": pipeline.oracle_pack_sequences_sql(seq_len=256),
        "mix_sample": pipeline.oracle_mix_sample_sql(
            _MIX_WEIGHTS, budget=_MIX_BUDGET
        ),
        "ann_topk": similarity.oracle_cosine_topk_sql(k=5),
        "ann_recall": similarity.oracle_recall_probe_sql(
            n_planes=4, n_cells=8, n_probe=2, k=5, rerank=4,
            pq_m_sub=8, pq_codes=16, pq_iters=2, pq_rerank=8,
        ),
        "ann_pq_topk": similarity.oracle_pq_topk_sql(
            m_sub=8, n_codes=16, n_iters=2, k=5, rerank=8
        ),
        "ann_ivf_pq_topk": similarity.oracle_ivf_pq_topk_sql(
            n_cells=8, n_probe=2, m_sub=8, n_codes=16, n_iters=2,
            k=5, rerank=8,
        ),
        "ann_ivf_pq_res_topk": similarity.oracle_ivf_pq_res_topk_sql(
            n_cells=8, n_probe=2, m_sub=8, n_codes=16, n_iters=2,
            k=5, rerank=8,
        ),
        "ann_index_drift": similarity.oracle_ann_drift_sql(
            dim=64, n_cells=8, n_iters=2, m_sub=8, n_codes=8,
            pq_iters=2, split_id=250,
        ),
        "ann_lsh_topk": similarity.oracle_lsh_topk_sql(n_planes=4, k=5),
        "ann_ivf_topk": similarity.oracle_ivf_topk_sql(
            n_cells=8, n_probe=2, k=5
        ),
        "embedding_near_dup": similarity.oracle_embedding_near_dup_sql(
            n_planes=4, threshold=0.4
        ),
        "semantic_dedup": similarity.oracle_semantic_dedup_sql(
            dim=64, n_cells=8, n_iters=2, threshold=0.35
        ),
        "tfidf_topk": textstats.oracle_tfidf_topk_sql(k=5),
        "hashed_embed": f"""
            SELECT doc_id,
              CAST(len(list_filter(embedding, x -> x <> 0)) AS BIGINT)
                AS nnz,
              CAST(list_sum(list_transform(embedding, x -> abs(x)))
                AS BIGINT) AS l1,
              CAST(list_max(list_transform(embedding, x -> abs(x)))
                AS BIGINT) AS max_abs,
              CAST(list_position(embedding, list_min(embedding)) - 1
                AS BIGINT) AS min_bucket
            FROM ({textstats.oracle_hashed_tf_embed_sql(dim=64)})
        """,
        "text_semantic_dedup": similarity.oracle_semantic_dedup_sql(
            source_sql=textstats.oracle_hashed_tf_embed_sql(dim=64),
            id_col="doc_id", dim=64, n_cells=8, n_iters=2,
            threshold=0.9,
        ),
        "gate": _GATE_SQL,
        "pause_state": _PAUSE_SQL,
        "switch": _SWITCH_SQL,
        "sr_latch": _SR_LATCH_SQL,
        "message_detector": _DETECTOR_SQL,
        "string_concatenator": _CONCAT_SQL,
        "asof_join": _ASOF_SQL,
        "time_buffer": "SELECT event_id, ts + INTERVAL '5 seconds' AS ts FROM events",
        "repeater": _REPEATER_SQL,
        "synchronizer": _SYNC_SQL,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
              round(sum(l_quantity), 4) AS sum_qty,
              CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                   AS DOUBLE) / 100.0 AS sum_base_price,
              CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                       * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
                   AS DOUBLE) / 10000.0 AS sum_disc_price,
              CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                       * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
                       * (100 + CAST(floor(l_tax * 100 + 0.5) AS BIGINT)))
                   AS DOUBLE) / 1000000.0 AS sum_charge,
              round(avg(l_quantity), 4) AS avg_qty,
              CAST((sum(CAST(floor(l_extendedprice * 1000000 + 0.5) AS BIGINT))
                    + count(*) * 50) // (count(*) * 100) AS DOUBLE)
                / 10000.0 AS avg_price,
              CAST((sum(CAST(floor(l_discount * 1000000 + 0.5) AS BIGINT))
                    + count(*) * 50) // (count(*) * 100) AS DOUBLE)
                / 10000.0 AS avg_disc,
              count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-01'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q3_shipping_priority": """
            SELECT l_orderkey, o_orderdate, o_orderpriority,
              CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue
            FROM customer, orders, lineitem
            WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
              AND l_orderkey = o_orderkey
              AND o_orderdate < TIMESTAMP '1995-03-15'
              AND l_shipdate > TIMESTAMP '1995-03-15'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey LIMIT 10
        """,
        "q5_local_supplier_volume": """
            SELECT n_name,
              CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue
            FROM lineitem, orders, customer, supplier, nation, region
            WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
              AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
              AND r_name = 'ASIA'
            GROUP BY n_name
        """,
        "q6_forecast_revenue": """
            SELECT CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1994-01-01'
              AND l_shipdate < TIMESTAMP '1995-01-01'
              AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
        """,
        "q4_order_priority": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders o
            WHERE o_orderdate >= TIMESTAMP '1996-07-01'
              AND o_orderdate < TIMESTAMP '1996-10-01'
              AND EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey
                            AND l.l_shipdate > o.o_orderdate)
            GROUP BY o_orderpriority
        """,
        "q10_returned_items": """
            SELECT c_custkey, c_name, c_acctbal, n_name,
              CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE o_orderdate >= TIMESTAMP '1996-10-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
              AND l_returnflag = 'R'
            GROUP BY c_custkey, c_name, c_acctbal, n_name
            ORDER BY revenue DESC, c_custkey ASC
            LIMIT 20
        """,
        "q14_promo_effect": """
            SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                THEN CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) ELSE 0 END) AS DOUBLE)
              / CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS DOUBLE), 4)
              AS promo_revenue_pct
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-09-01'
              AND l_shipdate < TIMESTAMP '1996-10-01'
        """,
        "q12_priority_shipping": """
            SELECT l_returnflag,
              CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
              CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
            GROUP BY l_returnflag
        """,
        "q18_large_volume_customers": """
            WITH big AS (
              SELECT l_orderkey, sum(l_quantity) AS total_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING sum(l_quantity) > 300.0
            )
            SELECT c_custkey, c_name, o_orderkey, o_orderdate,
              round(o_totalprice, 4) AS o_totalprice,
              round(total_qty, 4) AS total_qty
            FROM orders
            JOIN big ON o_orderkey = l_orderkey
            JOIN customer ON o_custkey = c_custkey
        """,
        "q19_disjunctive_predicates": """
            SELECT
              CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue,
              count(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 20 AND 30)
        """,
        "q2_min_cost_supplier": """
            WITH cost AS (
              SELECT l_partkey, s_suppkey, s_name, s_acctbal, n_name,
                CAST((sum(CAST(floor(l_extendedprice / l_quantity
                                     * 1000000 + 0.5) AS BIGINT))
                      + count(*) * 50) // (count(*) * 100) AS DOUBLE)
                  / 10000.0 AS unit_cost
              FROM lineitem
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = 'EUROPE'
              GROUP BY l_partkey, s_suppkey, s_name, s_acctbal, n_name
            )
            SELECT round(s_acctbal, 4) AS s_acctbal, s_name, n_name,
              p_partkey, p_brand, unit_cost
            FROM cost
            JOIN part ON l_partkey = p_partkey
            WHERE p_size = 15
              AND unit_cost = (SELECT min(c2.unit_cost) FROM cost c2
                               WHERE c2.l_partkey = cost.l_partkey)
            ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
            LIMIT 100
        """,
        "q7_volume_shipping": """
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
              CAST(year(l_shipdate) AS INTEGER) AS l_year,
              CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
              AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
        """,
        "q8_market_share": """
            SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
              round(CAST(sum(CASE WHEN n1.n_name = 'NATION_3'
                        THEN CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                             * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
                        ELSE 0 END) AS DOUBLE)
                    / CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                               * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
                           AS DOUBLE), 6) AS mkt_share
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            JOIN region ON n2.n_regionkey = r_regionkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1998-01-01'
            GROUP BY year(o_orderdate)
        """,
        "q9_product_profit": """
            SELECT n_name AS nation,
              CAST(year(o_orderdate) AS INTEGER) AS o_year,
              CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
                        - 60 * CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)
                          * CAST(l_quantity AS BIGINT)) AS DOUBLE)
                  / 10000.0 + 0.0
                AS sum_profit
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%red%'
            GROUP BY n_name, year(o_orderdate)
        """,
        "q11_important_stock": """
            WITH pp AS (
              SELECT l_partkey,
                sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS __v
              FROM lineitem
              WHERE l_suppkey IN (
                SELECT s_suppkey FROM supplier
                JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
                WHERE r_name = 'EUROPE')
              GROUP BY l_partkey
            )
            SELECT l_partkey, CAST(__v AS DOUBLE) / 10000.0 AS part_value
            FROM pp
            WHERE __v * 1000 > (SELECT sum(__v) FROM pp)
        """,
        "q13_customer_distribution": """
            WITH per_cust AS (
              SELECT c_custkey, count(o_orderkey) AS c_count
              FROM customer
              LEFT JOIN orders ON c_custkey = o_custkey
                AND o_orderpriority <> '4-NOT SPECIFIED'
              GROUP BY c_custkey
            )
            SELECT c_count, count(*) AS custdist
            FROM per_cust GROUP BY c_count
        """,
        "q15_top_supplier": """
            WITH rev AS (
              SELECT l_suppkey,
                CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS DOUBLE) / 10000.0
                  AS total_revenue
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate < TIMESTAMP '1996-04-01'
              GROUP BY l_suppkey
            )
            SELECT s_suppkey, s_name, total_revenue
            FROM rev JOIN supplier ON l_suppkey = s_suppkey
            WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        """,
        "q16_parts_supplier_relationship": """
            SELECT p_brand, p_type, p_size,
              count(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
              AND p_size IN (1, 4, 9, 16, 25, 36, 49)
              AND l_suppkey NOT IN
                (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
            GROUP BY p_brand, p_type, p_size
        """,
        "q17_small_quantity_revenue": """
            WITH li AS (
              SELECT l_partkey, l_quantity, l_extendedprice
              FROM lineitem
              WHERE l_partkey IN
                (SELECT p_partkey FROM part WHERE p_brand = 'Brand#3')
            )
            SELECT round(CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 700.0, 4) + 0.0 AS avg_yearly
            FROM li
            WHERE l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                                FROM li l2
                                WHERE l2.l_partkey = li.l_partkey)
        """,
        "q20_potential_promotion": """
            SELECT s_name, round(s_acctbal, 4) AS s_acctbal
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND s_suppkey IN (
                SELECT l_suppkey FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate < TIMESTAMP '1997-01-01'
                  AND l_partkey IN (SELECT p_partkey FROM part
                                    WHERE p_name LIKE '%blue%')
                GROUP BY l_suppkey
                HAVING sum(l_quantity) > 100.0
              )
        """,
        "q21_waiting_supplier": """
            WITH l1 AS (
              SELECT l.l_orderkey, l.l_suppkey
              FROM lineitem l JOIN orders ON l.l_orderkey = o_orderkey
              WHERE o_orderstatus = 'F'
                AND l.l_shipdate > o_orderdate + INTERVAL 60 DAY
            )
            SELECT s_name, count(*) AS numwait
            FROM l1
            JOIN supplier ON l1.l_suppkey = s_suppkey
            WHERE EXISTS (SELECT 1 FROM lineitem l2
                          WHERE l2.l_orderkey = l1.l_orderkey
                            AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM l1 l3
                              WHERE l3.l_orderkey = l1.l_orderkey
                                AND l3.l_suppkey <> l1.l_suppkey)
            GROUP BY s_name
            ORDER BY numwait DESC, s_name
            LIMIT 10
        """,
        "events_sliding_stats": """
            SELECT date_trunc('hour', ts) - o.h * (INTERVAL 1 HOUR)
                AS window_start,
              event_type, count(*) AS n_events,
              CAST((sum(CAST(floor(value * 1000000) AS BIGINT)) + 50) // 100
                   AS DOUBLE) / 10000.0 AS sum_value
            FROM events CROSS JOIN (SELECT unnest([0, 1]) AS h) o
            GROUP BY 1, 2
        """,
        "range_join": """
            SELECT p.event_id AS window_id, count(*) AS n_clicks,
              round(sum(c.value), 6) + 0.0 AS sum_value
            FROM events c JOIN events p
              ON c.user_id = p.user_id
             AND c.ts >= p.ts AND c.ts < p.ts + INTERVAL 6 HOUR
            WHERE p.event_type = 'purchase' AND c.event_type = 'click'
            GROUP BY p.event_id
        """,
        "q22_global_sales_opportunity": """
            WITH cust AS (
              SELECT * FROM customer WHERE c_nationkey IN (1, 3, 5, 7)
            )
            SELECT c_nationkey, count(*) AS numcust,
              CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
                   AS DOUBLE) / 100.0 AS totacctbal
            FROM cust
            WHERE c_acctbal > (SELECT
                    CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
                         AS DOUBLE) / (count(*) * 100.0)
                  FROM cust WHERE c_acctbal > 0.0)
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderdate >= TIMESTAMP '2000-01-01')
            GROUP BY c_nationkey
        """,
        "top_customers_per_nation": """
            WITH ranked AS (
              SELECT c_nationkey, c_custkey, c_name, c_acctbal,
                row_number() OVER (PARTITION BY c_nationkey
                                   ORDER BY c_acctbal DESC, c_custkey) AS rank
              FROM customer
            )
            SELECT n_name, c_custkey, c_name, round(c_acctbal, 4) AS acctbal,
              CAST(rank AS INTEGER) AS rank
            FROM ranked JOIN nation ON c_nationkey = n_nationkey
            WHERE rank <= 3
        """,
        "orders_without_lineitems": """
            SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS o_totalprice
            FROM orders WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)
        """,
        "customers_with_orders_semi": """
            SELECT c_mktsegment, count(*) AS n_customers
            FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)
            GROUP BY c_mktsegment
        """,
        "events_hourly_stats": """
            WITH q AS (
              SELECT ts, event_type,
                CAST(floor(value * 1000000) AS BIGINT) AS qv
              FROM events
            )
            SELECT date_trunc('hour', ts) AS hour, event_type,
              count(*) AS n_events,
              CAST((sum(qv) + 50) // 100 AS DOUBLE) / 10000.0 AS sum_value,
              CAST((sum(qv) + count(*) * 50) // (count(*) * 100) AS DOUBLE)
                / 10000.0 AS avg_value
            FROM q GROUP BY 1, 2
        """,
        "events_session_windows": _SESSION_SQL,
        "events_rollup": """
            SELECT event_type, date_trunc('day', ts) AS day,
              count(*) AS n,
              CAST((sum(CAST(floor(value * 1000000) AS BIGINT)) + 50) // 100
                   AS DOUBLE) / 10000.0 AS sum_value,
              count(DISTINCT user_id) AS n_users
            FROM events
            GROUP BY ROLLUP(event_type, date_trunc('day', ts))
            -- engine-behavior pin (r07 empty-input sweep): on an EMPTY
            -- events table Spark's rollup emits no rows while the SQL
            -- standard (and DuckDB) still emit the grand-total row
            -- with n = 0. Only that row can have count(*) = 0 (every
            -- real group forms from >= 1 row), so the HAVING removes
            -- exactly the empty-input grand total and nothing else.
            HAVING count(*) > 0
        """,
        "events_funnel": """
            WITH pu AS (
              SELECT user_id,
                list(ts) FILTER (WHERE event_type = 'view') AS __v,
                list(ts) FILTER (WHERE event_type = 'click') AS __c,
                list(ts) FILTER (WHERE event_type = 'purchase') AS __p
              FROM events
              WHERE event_type IN ('view', 'click', 'purchase')
              GROUP BY user_id
            ),
            s AS (
              SELECT list_min(__v) AS __t1,
                list_min(list_filter(__c, x -> x > list_min(__v))) AS __t2,
                __p
              FROM pu
            ),
            s2 AS (
              SELECT __t1, __t2,
                list_min(list_filter(__p, x -> x > __t2)) AS __t3
              FROM s
            )
            SELECT CAST(count(__t1) AS BIGINT) AS n_viewed,
              CAST(count(__t2) AS BIGINT) AS n_clicked_after_view,
              CAST(count(__t3) AS BIGINT) AS n_purchased_after_click
            FROM s2
        """,
        "events_anomaly": """
            WITH base AS (
              SELECT event_type,
                CAST(floor(value * 10000 + 0.5) AS BIGINT) AS __q
              FROM events
            ),
            stats AS (
              SELECT event_type,
                CAST(count(*) AS BIGINT) AS __n,
                sum(CAST(__q AS HUGEINT)) AS __s,
                sum(CAST(__q AS HUGEINT) * __q) AS __ss
              FROM base GROUP BY event_type
            ),
            st AS (
              SELECT event_type, __n,
                __s / CAST(__n AS DOUBLE) AS __mean,
                sqrt(greatest(__ss / CAST(__n AS DOUBLE)
                  - (__s / CAST(__n AS DOUBLE)) * (__s / CAST(__n AS DOUBLE)),
                  0.0)) AS __std
              FROM stats
            ),
            z AS (
              SELECT b.event_type, st.__n,
                (CAST(b.__q AS DOUBLE) - st.__mean) / nullif(st.__std, 0.0)
                  AS __z
              FROM base b JOIN st USING (event_type)
            )
            SELECT event_type,
              CAST(max(__n) AS BIGINT) AS n,
              CAST(sum(CASE WHEN __z > 3.0 OR __z < -3.0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_anomalies,
              round(min(__z), 6) AS min_z,
              round(max(__z), 6) AS max_z
            FROM z GROUP BY event_type
        """,
        "events_retention_cohorts": """
            WITH f AS (
              SELECT user_id, date_trunc('week', min(ts)) AS __cw
              FROM events GROUP BY user_id
            ),
            j AS (
              SELECT e.user_id,
                f.__cw AS cohort_week,
                CAST(date_diff('day', CAST(f.__cw AS DATE),
                               CAST(date_trunc('week', e.ts) AS DATE)) // 7
                     AS INT) AS week_offset
              FROM events e JOIN f USING (user_id)
            )
            SELECT cohort_week, week_offset,
              CAST(count(DISTINCT user_id) AS BIGINT) AS n_active_users
            FROM j GROUP BY cohort_week, week_offset
        """,
        "events_quantiles": """
            SELECT event_type,
              round(percentile_cont(0.5) WITHIN GROUP (ORDER BY value), 6)
                + 0.0 AS p50,
              round(percentile_cont(0.9) WITHIN GROUP (ORDER BY value), 6)
                + 0.0 AS p90,
              round(percentile_cont(0.99) WITHIN GROUP (ORDER BY value), 6)
                + 0.0 AS p99
            FROM events GROUP BY event_type
        """,
        "events_json_extract": r"""
            WITH x AS (
              -- integer-shape gate BEFORE the cast, mirroring the
              -- Spark rlike: DuckDB's JSON cast would coerce 3.5 -> 3
              -- where ANSI Spark crashes (r07 rich-props finding).
              -- \z anchor + 18-digit bound match the Spark side: $
              -- differs across Java/RE2 on trailing newlines, and an
              -- unbounded digit run would reach the cast with a
              -- 20-digit integer (overflow error in BOTH engines)
              SELECT event_type,
                     CASE WHEN regexp_matches(
                            json_extract_string(props, '$.k'),
                            '^-?[0-9]{1,18}\z')
                          THEN CAST(json_extract_string(props, '$.k')
                                    AS BIGINT)
                     END AS k
              FROM events
            )
            SELECT event_type, k % 10 AS k_mod, count(*) AS n,
                   CAST(sum(k) AS BIGINT) AS sum_k,
                   min(k) AS min_k, max(k) AS max_k
            FROM x WHERE k IS NOT NULL GROUP BY event_type, k_mod
        """,
        "set_ops": """
            SELECT user_id FROM events WHERE event_type = 'click'
            INTERSECT
            SELECT user_id FROM events WHERE event_type = 'view'
            EXCEPT
            SELECT user_id FROM events WHERE event_type = 'error' AND value > 49.5
        """,
    }
